"""Shared SQL-oracle fragments: the whitespace tokenizer, word
shingles, and the production near-dup flow (MinHash chain, band rows,
verified-pair CTEs, the bucket-cap guardrail, span removal), plus the
engine constants they mirror. Flow fragments are (name, body) CTE
lists for `registry.with_ctes`, which alone writes the WITH clause.

LEAF module by design: imported by dedup_queries, curation_queries
and the other registries, so it must not import the registry (or
anything that triggers registry submodule loading) — a direct
`import registries.dedup_queries` used to deadlock in a circular
import when curation_queries' composed-pipeline oracle pulled these
names out of the partially-initialized dedup_queries module."""

from __future__ import annotations

NUM_HASHES = 16
BANDS = 4
_ROWS = NUM_HASHES // BANDS

# Registered guardrail for the corpus-verified flow: honest-scale band
# buckets top out at 3–4 members (sf0.01 max 3 / sf0.1 max 4, p99.9 = 3
# at both), so >8 docs agreeing on a FULL band is a duplicate cluster,
# not a pair-scoring problem. Same philosophy as graph_triangle_count's
# max_forward_degree=160 default; the oracle mirrors the cap exactly.
MAX_BUCKET = 8


def ws_tokens(text: str = "text") -> str:
    """Whitespace tokens of lower(`text`), empty ones dropped: the SQL
    twin of text.analysis.tokens_ws."""
    return rf"list_filter(string_split_regex(lower({text}), '\s+'), x -> x <> '')"


# Distinct word 3-grams of the token list `w`; a doc shorter than 3
# tokens is one whole-doc shingle (operators.dedup.shingle_table).
WORD_SHINGLES = """list_distinct(
    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
         ELSE list_transform(generate_series(1, len(w) - 2),
              i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END)"""


def _shingle_ctes(src: str = "documents") -> list[tuple[str, str]]:
    """(toks, sh) over table/CTE `src` — the source is a PARAMETER,
    not post-hoc string surgery: a str.replace('FROM documents', ...)
    on a fragment silently re-sources every occurrence if one is ever
    added (round-10 advice)."""
    return [
        ("toks", f"SELECT doc_id, {ws_tokens()} AS w FROM {src}"),
        ("sh", f"SELECT doc_id, unnest({WORD_SHINGLES}) AS shingle\n  FROM toks"),
    ]


def _components_ctes(
    src: str, a: str, b: str, label: str
) -> list[tuple[str, str]]:
    """Connected components of the pair table `src`(`a`, `b`) by a
    recursive min-label walk: `comp`(id, `label`) holds each vertex of
    a pair and the smallest vertex id it reaches. UNION dedups the
    finite (id, label) set, so the recursion ends at the closure."""
    return [
        ("uedges", f"SELECT {a} AS src, {b} AS dst FROM {src}\n  UNION SELECT {b}, {a} FROM {src}"),
        ("walk(id, label)", """
  SELECT src, src FROM uedges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN uedges e ON e.src = w.id
"""),
        ("comp", f"SELECT id, min(label) AS {label} FROM walk GROUP BY id"),
    ]


def _unigram_lm_ctes(p: str = "") -> list[tuple[str, str]]:
    """The add-½ unigram LM trained on the documents and each doc's
    integer-quantized log-prob sum (`{p}per`: doc_id, n_tokens,
    sum_lq) — text.analysis.lm_quality_scores. `p` prefixes the CTE
    names."""
    return [
        (f"{p}toks", f"SELECT doc_id, unnest({ws_tokens()}) AS tok\n  FROM documents"),
        (f"{p}cnt", f"SELECT tok, count(*) AS c FROM {p}toks GROUP BY tok"),
        (f"{p}corpus", f"SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V FROM {p}cnt"),
        (f"{p}tl", f"""
  SELECT t.doc_id,
         CAST(floor((ln(2 * c.c + 1) - ln(2 * {p}corpus.N + {p}corpus.V)) * 1000000 + 0.5)
              AS BIGINT) AS lq
  FROM {p}toks t JOIN {p}cnt c USING (tok) CROSS JOIN {p}corpus
"""),
        (f"{p}per", f"""
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(lq) AS BIGINT) AS sum_lq
  FROM {p}tl GROUP BY doc_id
"""),
    ]


def _minhash_ctes(
    max_bucket: int | None = None, src: str = "documents"
) -> list[tuple[str, str]]:
    """Shingles → md5 minhash signature → band rows (`bands_all`), and
    `bands`, the rows of buckets within the cap."""
    n_salts = (NUM_HASHES + 3) // 4
    md5_cols = ", ".join(
        f"md5(concat('{g}|', shingle)) AS m{g}" for g in range(n_salts)
    )
    sig_cols = ",\n         ".join(
        f"min(substr(m{i // 4}, {1 + 8 * (i % 4)}, 8)) AS h{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = []
    for b in range(BANDS):
        cols = ", ".join(f"h{b * _ROWS + r}" for r in range(_ROWS))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5(concat_ws('|', {cols})) AS band_hash FROM sig"
        )
    # The production guardrail mirrored in SQL: buckets above the cap
    # are excluded from pairwise candidate generation (a mega-bucket is
    # a duplicate CLUSTER, not a pair-scoring problem).
    bucket_filter = (
        ""
        if max_bucket is None
        else f"\n  QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= {max_bucket}"
    )
    return _shingle_ctes(src) + [
        ("hashed", f"SELECT doc_id, {md5_cols} FROM sh"),
        ("sig", f"SELECT doc_id,\n         {sig_cols}\n  FROM hashed GROUP BY doc_id"),
        ("bands_all", "\n  UNION ALL\n  ".join(band_selects)),
        ("bands", f"SELECT * FROM bands_all{bucket_filter}"),
    ]


MINHASH_PAIRS = """SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM bands a JOIN bands b USING (band_idx, band_hash)
WHERE a.doc_id < b.doc_id"""


def _verified_flow_ctes(src: str = "documents") -> list[tuple[str, str]]:
    """The production near-dup flow through the `verified` pair set:
    minhash chain → candidate pairs from buckets within MAX_BUCKET →
    exact-Jaccard verification at 0.2. Reused by the cleaned-corpus,
    cluster-assignment and keep-best oracles so all three gates verify
    the IDENTICAL pipeline. `src` names the source table/CTE (the
    composed-pipeline oracle re-sources it onto a survivor CTE)."""
    return _minhash_ctes(MAX_BUCKET, src) + [
        ("cands", MINHASH_PAIRS),
        ("sizes", "SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id"),
        ("common", """
  SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS common
  FROM sh s1 JOIN sh s2 USING (shingle)
  WHERE s1.doc_id < s2.doc_id
  GROUP BY 1, 2
"""),
        ("verified", """
  SELECT c.a, c.b
  FROM common c
  JOIN cands k ON c.a = k.a AND c.b = k.b
  JOIN sizes sa ON c.a = sa.doc_id
  JOIN sizes sb ON c.b = sb.doc_id
  WHERE c.common / (sa.sz + sb.sz - c.common) >= 0.2
"""),
    ]


# Every member of a band bucket above MAX_BUCKET except the bucket's
# min-id representative.
MEGA_DROPS = f"""
  SELECT DISTINCT b.doc_id
  FROM bands_all b
  JOIN (
    SELECT band_idx, band_hash, min(doc_id) AS rep
    FROM bands_all GROUP BY 1, 2 HAVING count(*) > {MAX_BUCKET}
  ) m USING (band_idx, band_hash)
  WHERE b.doc_id <> m.rep
"""


def _substring_ctes(src: str = "documents") -> list[tuple[str, str]]:
    """Full exact-substring span-removal replay (Lee et al. 2022)
    over table/CTE `src`; SUBSTRING_SELECT reads it. Shared here (leaf
    module) so the composed curation pipeline can re-source it onto a
    survivor CTE without string surgery."""
    return [
        ("toksr", rf"""
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w,
         {ws_tokens()} AS lw
  FROM {src}
"""),
        ("base", "SELECT doc_id, w, lw, len(lw) AS n FROM toksr"),
        ("psh", """
  SELECT doc_id, n,
         CASE WHEN n < 3 THEN 1 ELSE i END AS pos,
         CASE WHEN n < 3 THEN n ELSE i + 2 END AS pos_end,
         CASE WHEN n < 3 THEN coalesce(array_to_string(lw, ' '), '')
              ELSE concat_ws(' ', lw[i], lw[i+1], lw[i+2]) END AS shingle
  FROM base, unnest(generate_series(1, greatest(n - 2, 1))) AS t(i)
"""),
        ("cnt", "SELECT shingle, count(DISTINCT doc_id) AS nd FROM psh GROUP BY shingle"),
        ("j", """
  SELECT s.doc_id, s.pos, s.pos_end, s.shingle, c.nd
  FROM psh s JOIN cnt c USING (shingle)
"""),
        ("stats", """
  SELECT doc_id,
         count(DISTINCT shingle) AS n_shingles,
         count(DISTINCT CASE WHEN nd > 1 THEN shingle END) AS n_shared
  FROM j GROUP BY doc_id
"""),
        ("cov", """
  SELECT DISTINCT doc_id, p
  FROM j, unnest(generate_series(pos, pos_end)) AS u(p)
  WHERE nd > 1 AND pos <= pos_end
"""),
        ("covn", "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM cov GROUP BY doc_id"),
        ("allpos", """
  SELECT b.doc_id, t.i AS pos, b.w[t.i] AS tok
  FROM base b, unnest(generate_series(1, b.n)) AS t(i)
"""),
        ("kept", """
  SELECT a.doc_id, a.pos, a.tok FROM allpos a
  LEFT JOIN cov c ON c.doc_id = a.doc_id AND c.p = a.pos
  WHERE c.doc_id IS NULL
"""),
        ("clean", """
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
"""),
    ]


# One row per source doc: duprate stats, n_tokens/n_removed and the
# reconstructed cleaned_text (single-space joined survivors).
SUBSTRING_SELECT = """SELECT b.doc_id,
       s.n_shingles, s.n_shared,
       floor(s.n_shared * 1.0 / s.n_shingles * 1000000 + 0.5) / 1000000 AS dup_rate,
       (2 * s.n_shared >= s.n_shingles) AS flag_dup,
       CAST(b.n AS BIGINT) AS n_tokens,
       coalesce(cn.n_removed, 0) AS n_removed,
       coalesce(cl.cleaned_text, '') AS cleaned_text
FROM base b
JOIN stats s USING (doc_id)
LEFT JOIN covn cn USING (doc_id)
LEFT JOIN clean cl USING (doc_id)"""
