"""Scalar/array function layer (SURVEY §2.8, F1–F15).

Everything here is a pure Column→Column expression built from
pyspark.sql.functions — JVM-side, whole-stage-codegen friendly. The
only Python kernel in the reference's function layer is ftfy+NFKC
normalization (F1); we keep the regex chain native and run the
vendored unicode repair plus NFKC in one pandas UDF. The one-call
expressions (year parsing F3/F4, URI suffixes F5/F6, list join F8,
prefixes F12) are written inline by the registry queries that use them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1 — text normalization (reference: utils/data_transformation_helpers.py:20-86)
# Native chain: unescape \" → collapse newlines → collapse whitespace → trim.
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    c = F.regexp_replace(col, r'\\"', '"')
    c = F.regexp_replace(c, r"[\n\r]+", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def _normalize_nfkc(col: Column, repair_fn=None) -> Column:
    """The one NFKC kernel: an Arrow-batched pandas UDF that applies
    ``repair_fn`` (str→str; skipped when None) and then NFKC to every
    non-NULL value, followed by the native regex chain. The UDF import
    is deferred so the native path has zero pandas dependency."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfkc(s):  # type: ignore[no-untyped-def]
        import unicodedata

        def norm(x):
            if x is None:
                return None
            return unicodedata.normalize("NFKC", x if repair_fn is None else repair_fn(x))

        return s.map(norm)

    return normalize_text(_nfkc(col))


def normalize_text_nfkc(col: Column) -> Column:
    """F1 with NFKC repair — needs a Python kernel."""
    return _normalize_nfkc(col)


# Mojibake detection: a mis-decoded UTF-8 lead byte (U+00C2–U+00F4)
# followed by a mis-decoded continuation byte — either the Latin-1
# image (U+0080–U+00BF) or the cp1252 image of bytes 0x80–0xBF
# (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ). Genuine
# text essentially never contains these bigrams, so the repair is a
# no-op on clean input.
_MOJIBAKE_CONT = (
    "\u0080-\u00bf"  # Latin-1 images of continuation bytes 0x80-0xBF
    # cp1252 images of 0x80-0xBF (the defined slots):
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160"
    "\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014"
    "\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"
)


def fix_mojibake(text: str | None) -> str | None:
    """Vendored minimal mojibake repair — the dominant corruption class
    ftfy fixes (reference applies ftfy.fix_text unconditionally,
    utils/data_transformation_helpers.py:20-86): UTF-8 bytes that were
    mis-decoded as cp1252 or Latin-1, possibly twice. The inverse
    transform (encode cp1252→fall back Latin-1, decode UTF-8) is
    applied while the text still shows mojibake bigrams and the
    round-trip is byte-clean; anything ambiguous is returned untouched.
    Pure stdlib; a caller that wants ftfy proper passes it as
    normalize_text_full's ``repair_fn``."""
    import re

    if text is None:
        return None
    hint = re.compile(f"[\u00c2-\u00f4][{_MOJIBAKE_CONT}]")
    for _ in range(2):  # twice: handles the double-encoded case
        if not hint.search(text):
            break
        cand = None
        for enc in ("cp1252", "latin-1"):
            try:
                cand = text.encode(enc).decode("utf-8")
                break
            except (UnicodeEncodeError, UnicodeDecodeError):
                cand = None
        if cand is None or cand == text:
            break
        # ftfy-style guard: a repair must never *create* control
        # characters. Mid-repair text of a double-misdecode legitimately
        # carries C1 controls (Latin-1 images of continuation bytes), so
        # compare counts: if the candidate has MORE C0/C1 controls
        # (outside \t\n\r) than the input, the input was ambiguous
        # legitimate text (e.g. 'ÂŒ' → '\x8c'), not mojibake — stop.
        def _nctrl(s: str) -> int:
            return sum(
                (ch <= "\x1f" and ch not in "\t\n\r") or "\x7f" <= ch <= "\x9f"
                for ch in s
            )

        if _nctrl(cand) > _nctrl(text):
            break
        text = cand
    return text


def remove_terminal_escapes(text: str | None) -> str | None:
    """Strip ANSI terminal escape sequences (CSI color/cursor codes a
    log-scraped corpus carries) — vendored twin of ftfy's
    remove_terminal_escapes."""
    import re

    if text is None:
        return None
    return re.sub(r"\x1b\[[0-9;?]*[A-Za-z]", "", text)


def unescape_html_entities(text: str | None) -> str | None:
    """Unescape HTML entities the way ftfy does (fixes.unescape_html):
    only well-formed `&name;` / `&#digits;` tokens WITH the closing
    semicolon are decoded, each in isolation — never the stdlib's
    semicolon-less legacy matching, which would corrupt prose like
    '&copy 2020'. Unknown entities pass through untouched."""
    import html
    import re

    if text is None:
        return None

    def _one(m: "re.Match[str]") -> str:
        tok = m.group(0)
        if tok.startswith("&#"):
            return html.unescape(tok)
        # strict named lookup: the WHOLE name+';' must be a known HTML5
        # entity — html.unescape alone would longest-prefix-match the
        # legacy semicolon-less table ('&notanentity;' → '¬anentity;')
        name = tok[1:]
        return html.entities.html5.get(name, tok)

    return re.sub(r"&#?[0-9A-Za-z]{1,24};", _one, text)


def fix_text_vendored(text: str | None) -> str | None:
    """Vendored ftfy.fix_text pipeline over the three corruption
    classes a web/log corpus actually hits (same order ftfy applies
    them): terminal escapes → HTML entities → mojibake. Pure stdlib;
    it is normalize_text_full's default repairer, and the one the
    oracles replay."""
    if text is None:
        return None
    return fix_mojibake(unescape_html_entities(remove_terminal_escapes(text)))


def normalize_text_full(col: Column, repair_fn=None) -> Column:
    """Complete F1 mirroring the reference pipeline (reference
    utils/data_transformation_helpers.py:20-86): mojibake repair
    (ftfy) → NFKC → native regex chain.

    ``repair_fn`` is an injectable str→str mojibake repairer (same
    injection seam as llm.py's generator; pass ftfy.fix_text to use
    ftfy). None means fix_text_vendored, the repairer the oracles
    replay. The repair runs inside ONE Arrow-batched pandas UDF
    together with NFKC (one Python boundary crossing, not two); the
    regex chain stays JVM-native. normalize_text_nfkc is the
    NFKC-only chain."""
    return _normalize_nfkc(col, fix_text_vendored if repair_fn is None else repair_fn)


# ---------------------------------------------------------------------------
# F2 — Oxford-comma natural-language list
# (reference: data_transformation_helpers.py:123-158)
# ---------------------------------------------------------------------------


def format_list_natural_language(col: Column) -> Column:
    """['A','B','C'] → "A, B, and C"; ['A','B'] → "A and B"; ['A'] → "A"."""
    items = F.array_distinct(col)
    n = F.size(items)
    head = F.when(n > 1, F.slice(items, 1, n - 1)).otherwise(F.array())
    last = F.try_element_at(items, F.lit(-1))
    return (
        F.when(n <= 0, F.lit(""))
        .when(n == 1, F.try_element_at(items, F.lit(1)))
        .when(n == 2, F.concat_ws(" and ", items))
        .otherwise(F.concat(F.array_join(head, ", "), F.lit(", and "), last))
    )


# F7 — positioned entry string (ingest_graph_db.py:100-102)
def positioned_entry(pos: Column, title: Column) -> Column:
    return F.format_string("%d. %s", pos.cast("int"), title)


# F9 — hashing (io_helpers.py:105-115; chroma_helpers.py:111-124)
def sha256_hex(col: Column) -> Column:
    return F.sha2(col, 256)


def doc_id_hash(article: Column, entity_id: Column) -> Column:
    """sha256(article + '-' + id)[:32] — reference chroma doc ids."""
    return F.substring(F.sha2(F.concat_ws("-", article, entity_id), 256), 1, 32)


def md5_hex(col: Column) -> Column:
    return F.md5(col)


# F15 — null-safe list length. Spark gotcha: size(NULL) is -1 under
# spark.sql.legacy.sizeOfNull and NULL otherwise — handle both.
# Reference semantics are fill_null(0) (checks.py:70-74).
def size0(col: Column) -> Column:
    s = F.size(col)
    return F.coalesce(F.when(s < 0, F.lit(0)).otherwise(s), F.lit(0)).cast("int")


nullsafe_size = size0


# P3 — Latin-script predicate (extract_artists.py:41-63), native rlike.
LATIN_SCRIPT_RE = r"^[\x00-ɏḀ-ỿ]*$"


def is_latin_script(col: Column) -> Column:
    return col.rlike(LATIN_SCRIPT_RE)


# Document fingerprint (LLM-pipeline extension): md5 of
# lowercased, whitespace-collapsed text.
def text_fingerprint(col: Column) -> Column:
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))
