"""Property-based tests (hypothesis) — randomized inputs against
independent Python reference implementations. Exceeds the reference's
test strategy (SURVEY §5: no property-based testing there); catches
the edge classes hand fixtures miss (empty strings, ties, unicode,
single-element lists).

Spark jobs per example are expensive, so examples are capped and
deadline disabled; the data shapes stay tiny."""

from __future__ import annotations

import os
import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# Spark jobs per example are expensive: 15 examples by default; export
# SPARK_GRAFT_HYP_EXAMPLES=100 for an occasional deep fuzz pass.
SET = settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "15")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=8
)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_dedup_by_priority_matches_reference(spark, rows):
    """Keep-first-per-key after priority sort == Python min-by."""
    from graphragdatapipeline_spark.operators.relational import dedup_by_priority

    df = spark.createDataFrame(rows, "k INT, prio INT, uid INT")
    got = dedup_by_priority(
        df, unique_cols=["k"], sort_col="prio", tiebreakers=["uid"]
    ).collect()
    expect = {}
    for k, prio, uid in rows:
        cur = expect.get(k)
        if cur is None or (prio, uid) < cur:
            expect[k] = (prio, uid)
    assert {(r.k, (r.prio, r.uid)) for r in got} == set(expect.items())
    assert len(got) == len(expect)


@given(items=st.lists(words, min_size=0, max_size=6))
@SET
def test_oxford_comma_matches_reference(spark, items):
    """F2 formatter == the reference algorithm (ordered dedup, Oxford
    comma at 3+, 'and' at 2, bare item at 1, '' at 0)."""
    from graphragdatapipeline_spark.functions import format_list_natural_language

    df = spark.createDataFrame([(items,)], "xs ARRAY<STRING>")
    got = df.select(format_list_natural_language(F.col("xs")).alias("s")).first().s
    deduped = list(dict.fromkeys(items))
    if not deduped:
        want = ""
    elif len(deduped) == 1:
        want = deduped[0]
    elif len(deduped) == 2:
        want = f"{deduped[0]} and {deduped[1]}"
    else:
        want = ", ".join(deduped[:-1]) + f", and {deduped[-1]}"
    assert got == want


@given(
    text=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=300
    ),
    size=st.integers(20, 80),
    overlap=st.integers(0, 19),
)
@SET
def test_chunking_invariants(spark, text, size, overlap):
    """Chunks cover the text, each ≤ size chars, and stitching chunk
    i's non-overlap suffix reconstructs the document."""
    from graphragdatapipeline_spark.text.chunking import chunked_documents

    df = spark.createDataFrame([(1, text)], "doc_id INT, text STRING")
    rows = sorted(
        chunked_documents(df, "doc_id", "text", size=size, overlap=overlap).collect(),
        key=lambda r: r.chunk_index,
    )
    assert rows, "at least one chunk for non-empty text"
    step = size - overlap
    assert all(len(r.chunk_text) <= size for r in rows)
    rebuilt = rows[0].chunk_text
    for r in rows[1:]:
        rebuilt += r.chunk_text[overlap:] if len(r.chunk_text) > overlap else ""
    assert rebuilt == text
    assert rows[0].total_chunks == len(rows)
    starts = [(r.chunk_index - 1) * step for r in rows]
    assert all(s < len(text) for s in starts)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 8), words), min_size=1, max_size=30
    )
)
@SET
def test_top_n_frequency_matches_reference(spark, rows):
    """A10 top-N frequency per group == Counter.most_common with the
    deterministic (count desc, item asc) tie-break."""
    from collections import Counter, defaultdict

    from graphragdatapipeline_spark.operators.relational import top_n_frequency

    df = spark.createDataFrame(rows, "g INT, item STRING")
    got = {
        r.g: list(r.top_item)
        for r in top_n_frequency(df, "g", "item", n=2).collect()
    }
    by_group = defaultdict(list)
    for g, item in rows:
        by_group[g].append(item)
    for g, items in by_group.items():
        counts = Counter(items)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        assert got[g] == [k for k, _ in ranked], (g, counts)


def test_range_join_clamp_never_changes_result(spark):
    """clamp_lo/clamp_hi bound bucket ENUMERATION only; the residual
    filter applies the true bounds, so results are invariant — while a
    sentinel-open tier enumerates O(domain/width) buckets, not
    O(sentinel/width)."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.operators.relational import range_join_buckets

    fact = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 557).cast("double").alias("value")
    )
    ranges = spark.createDataFrame(
        [("low", 0.0, 100.0), ("open", 100.0, 1e9), ("void", 1e8, 2e8)],
        "tier STRING, lo DOUBLE, hi DOUBLE",
    )
    plain = range_join_buckets(fact, ranges, "value", bucket_width=50.0)
    clamped = range_join_buckets(
        fact, ranges, "value", bucket_width=50.0, clamp_lo=0.0, clamp_hi=556.0
    )
    a = {(r.id, r.tier) for r in plain.collect()}
    b = {(r.id, r.tier) for r in clamped.collect()}
    assert a == b and len(b) == 1000  # every value lands in exactly one tier

    # enumeration bound: the open tier explodes into ceil(556/50)+1
    # buckets under the clamp instead of 20M
    n_buckets = (
        ranges.filter("tier = 'open'")
        .select(
            F.size(
                F.sequence(
                    F.floor(F.greatest("lo", F.lit(0.0)) / 50.0),
                    F.floor(F.least("hi", F.lit(556.0)) / 50.0),
                )
            ).alias("n")
        )
        .first()
        .n
    )
    assert n_buckets <= 12


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000_000), st.sampled_from(["a", "b", "c"]),
                  st.integers(1, 500)),
        min_size=1, max_size=40, unique_by=lambda t: t[0],
    ),
    budget=st.integers(1, 800),
)
@SET
def test_pack_into_sequences_matches_reference(spark, rows, budget):
    """Offset packing == Python running-sum replay for any shard mix,
    budget, and weight distribution (incl. weights > budget)."""
    from graphragdatapipeline_spark.operators.curation import pack_into_sequences

    df = spark.createDataFrame(rows, "doc_id LONG, shard STRING, w LONG")
    got = {
        r.doc_id: (r.seq_index, r.seq_offset)
        for r in pack_into_sequences(df, "shard", ["doc_id"], "w", budget).collect()
    }
    expect = {}
    for shard in {s for _, s, _ in rows}:
        prefix = 0
        for doc_id, _, w in sorted((t for t in rows if t[1] == shard)):
            expect[doc_id] = (prefix // budget, prefix % budget)
            prefix += w
    assert got == expect


@given(
    keys=st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=50, unique=True),
    rate_pct=st.integers(0, 100),
)
@SET
def test_deterministic_sample_matches_reference(spark, keys, rate_pct):
    """Hash-bucket sampling == Python md5 replay at any rate, incl.
    0% and 100%, for negative and huge keys."""
    import hashlib

    from graphragdatapipeline_spark.operators.curation import deterministic_sample

    df = spark.createDataFrame([(k,) for k in keys], "k LONG")
    got = {r.k for r in deterministic_sample(df, "k", rate_pct / 100).collect()}
    thr = int(rate_pct / 100 * 10_000)
    expect = {
        k for k in keys
        if int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 10_000 < thr
    }
    assert got == expect


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["x", "yy", "zzz", "w"]), min_size=1, max_size=12)
        .map(" ".join),
        min_size=1, max_size=10,
    )
)
@SET
def test_word_repetition_stats_match_reference(spark, texts):
    """Repetition fractions == Python Counter replay (4-decimal
    portable rounding applied on both sides)."""
    import math
    from collections import Counter

    from graphragdatapipeline_spark.text.analysis import word_repetition_stats

    def r4(x):
        return math.floor(x * 10_000 + 0.5) / 10_000

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in word_repetition_stats(df, "doc_id", "text").collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        tc = Counter(toks)
        bg = Counter(" ".join(p) for p in zip(toks, toks[1:]))
        g = got[i]
        assert g.n_tokens == len(toks)
        assert g.n_distinct_tokens == len(tc)
        assert g.distinct_frac == r4(len(tc) / len(toks))
        assert g.top_token_frac == r4(max(tc.values()) / len(toks))
        top_bg = max(bg.values()) if bg else 0
        assert g.top_bigram_frac == r4(top_bg / max(len(toks) - 1, 1))


@given(
    opens=st.dictionaries(st.integers(0, 5), st.sampled_from(["a", "b", None]), max_size=6),
    upds=st.dictionaries(st.integers(0, 7), st.sampled_from(["a", "b", None]), max_size=8),
)
@SET
def test_scd2_merge_matches_reference(spark, opens, upds):
    """scd2_merge == per-key Python reference: unchanged rows pass
    through, changed rows close + re-open, new keys insert; exactly
    one open row per key afterward when inputs are well-formed."""
    import datetime

    from graphragdatapipeline_spark.operators.relational import scd2_merge

    t0 = datetime.datetime(2020, 1, 1)
    eff = datetime.datetime(2024, 6, 1)
    cur_rows = [(k, seg, t0, None) for k, seg in opens.items()]
    upd_rows = [(k, seg, eff) for k, seg in upds.items()]
    cur = spark.createDataFrame(
        cur_rows, "k BIGINT, seg STRING, valid_from TIMESTAMP, valid_to TIMESTAMP"
    ) if cur_rows else spark.createDataFrame(
        [], "k BIGINT, seg STRING, valid_from TIMESTAMP, valid_to TIMESTAMP"
    )
    upd = spark.createDataFrame(
        upd_rows, "k BIGINT, seg STRING, eff TIMESTAMP"
    ) if upd_rows else spark.createDataFrame([], "k BIGINT, seg STRING, eff TIMESTAMP")

    got = {tuple(r) for r in scd2_merge(cur, upd, "k", ["seg"], "eff").collect()}

    expect = set()
    for k, seg in opens.items():
        u = upds.get(k, "_absent_")
        if u == "_absent_" or u == seg:
            expect.add((k, seg, t0, None))
        else:
            expect.add((k, seg, t0, eff))
            expect.add((k, u, eff, None))
    for k, seg in upds.items():
        if k not in opens:
            expect.add((k, seg, eff, None))
    assert got == expect
    # invariant: exactly one open version per key
    open_per_key = {}
    for k, _seg, _vf, vt in got:
        if vt is None:
            open_per_key[k] = open_per_key.get(k, 0) + 1
    assert all(v == 1 for v in open_per_key.values())


@given(
    evs=st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=20)
)
@SET
def test_state_history_matches_reference(spark, evs):
    """state_history == Python run-length encoding over one key."""
    import datetime

    from graphragdatapipeline_spark.operators.relational import state_history

    rows = [
        (1, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i), s, i)
        for i, s in enumerate(evs)
    ]
    schema = "user_id BIGINT, ts TIMESTAMP, event_type STRING, event_id BIGINT"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    got = sorted(
        (r.state, r.valid_from, r.valid_to, r.n_events)
        for r in state_history(df, "user_id", "ts", "event_type", ["event_id"]).collect()
    )
    runs = []
    for i, s in enumerate(evs):
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i)
        if runs and runs[-1][0] == s:
            runs[-1][3] += 1
        else:
            runs.append([s, ts, None, 1])
    for j in range(len(runs) - 1):
        runs[j][2] = runs[j + 1][1]
    assert got == sorted((s, vf, vt, n) for s, vf, vt, n in runs)


@given(
    keys=st.lists(st.integers(0, 50), min_size=0, max_size=20, unique=True),
    w0=st.floats(0.0, 3.0, allow_nan=False),
    w1=st.floats(0.0, 3.0, allow_nan=False),
)
@SET
def test_mixture_sample_matches_md5_reference(spark, keys, w0, w1):
    """mixture_sample == the per-row Python replay of its md5 coin:
    weight w keeps floor(w) full epochs plus a fractional epoch iff
    bucket(seed|src|epoch|key) < round(frac * buckets)."""
    import hashlib

    from graphragdatapipeline_spark.operators.curation import mixture_sample

    schema = "doc_id BIGINT"
    df = (
        spark.createDataFrame([(k,) for k in keys], schema)
        if keys
        else spark.createDataFrame([], schema)
    )
    got = {
        (r.doc_id, r.source_id, r.epoch)
        for r in mixture_sample([(df, w0), (df, w1)], "doc_id", seed="p").collect()
    }

    def bucket(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 10_000

    expect = set()
    for i, w in enumerate([w0, w1]):
        n_full, cap = int(w), round((w - int(w)) * 10_000)
        for k in keys:
            for e in range(n_full + 1):
                if e < n_full or bucket(f"p|{i}|{e}|{k}") < cap:
                    expect.add((k, i, e))
    assert got == expect


@given(
    evs=st.lists(
        st.tuples(
            st.integers(0, 3),                      # user
            st.integers(0, 50),                     # ts offset (hours)
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=0,
        max_size=30,
    ),
    gap_hours=st.sampled_from([None, 5, 24]),
)
@SET
def test_funnel_conversions_match_reference(spark, evs, gap_hours):
    """funnel_conversions == per-user Python replay of the greedy
    min-ts chain: reach[0] = min view ts; reach[i] = min step-i ts
    strictly after reach[i-1] (within the gap); conversion = reach[2].
    Duplicate (user, ts, type) rows collapse to the same min."""
    import datetime

    from graphragdatapipeline_spark.operators.relational import funnel_conversions

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (u, t0 + datetime.timedelta(hours=h), et, i)
        for i, (u, h, et) in enumerate(evs)
    ]
    schema = "user_id BIGINT, ts TIMESTAMP, event_type STRING, event_id BIGINT"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    steps = ["view", "click", "purchase"]
    gap = None if gap_hours is None else gap_hours * 3600
    got = {(r.user_id, r.converted) for r in funnel_conversions(df, steps, max_gap_seconds=gap).collect()}

    expect = set()
    for u in {u for u, _, _ in evs}:
        mine = sorted((t0 + datetime.timedelta(hours=h), et) for uu, h, et in evs if uu == u)
        reach = None
        for step in steps:
            cands = [
                t for t, et in mine
                if et == step
                and (reach is None or (t > reach and (gap is None or (t - reach).total_seconds() <= gap)))
            ]
            if not cands:
                reach = None
                break
            reach = min(cands)
        if reach is not None:
            expect.add((u, reach))
    assert got == expect


# mojibake repair is pure Python — fuzz it harder than the Spark ops
@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs"),
            max_codepoint=0x024F,  # Latin incl. accented + punctuation
        ),
        min_size=0,
        max_size=60,
    )
)
@example(
    s='ÂŒ',
).via('discovered failure')
def test_fix_mojibake_inverts_latin1_misdecodes(s):
    """For any Latin-range text, corrupting via the classic UTF-8-read-
    as-Latin-1 mistake — once or twice — must be fully repaired by
    fix_mojibake.

    Text that ITSELF contains mojibake-shaped bigrams is inherently
    ambiguous — e.g. s='ÃŒ' corrupted once is byte-identical to s='Ì'
    corrupted twice, so no repairer can invert both. Like ftfy, the
    repairer prefers the decode interpretation there; the invariant we
    pin instead for such inputs is that repair NEVER manufactures C0/C1
    control characters (the 'ÂŒ' → '\\x8c' defect found by Hypothesis)."""
    from graphragdatapipeline_spark.functions import (
        _MOJIBAKE_CONT,
        fix_mojibake,
    )

    ambiguous = re.search(f"[Â-ô][{_MOJIBAKE_CONT}]", s)

    def nctrl(t):
        return sum(
            (c <= "\x1f" and c not in "\t\n\r") or "\x7f" <= c <= "\x9f"
            for c in t
        )

    corrupted = s.encode("utf-8").decode("latin-1")
    double = corrupted.encode("utf-8").decode("latin-1")
    if not ambiguous:
        assert fix_mojibake(corrupted) == s
        assert fix_mojibake(double) == s
    else:
        # Ambiguous input: repair may legitimately decode one level
        # further, but must never create control characters.
        assert nctrl(fix_mojibake(s)) <= nctrl(s)
        assert nctrl(fix_mojibake(corrupted)) <= nctrl(s)
        assert nctrl(fix_mojibake(double)) <= nctrl(s)


@settings(max_examples=150, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd", "Zs"),
            max_codepoint=0x024F,
        ),
        max_size=40,
    )
)
def test_fix_text_vendored_inverts_triple_corruption(s):
    """fix_text_vendored must undo entity-escaping + Latin-1 misdecode
    + ANSI escapes in one pass for any Latin-range text (mojibake-
    ambiguous inputs excluded, as for the plain repair property)."""
    from graphragdatapipeline_spark.functions import (
        _MOJIBAKE_CONT,
        fix_text_vendored,
    )

    if re.search(f"[Â-ô][{_MOJIBAKE_CONT}]", s):
        return  # inherently ambiguous; covered by the mojibake property
    clean = s + " café & naïve"
    dirty = (
        "\x1b[31m"
        + clean.replace("&", "&amp;").encode("utf-8").decode("latin-1")
        + "\x1b[0m"
    )
    assert fix_text_vendored(dirty) == clean


def test_unescape_html_entities_requires_semicolon():
    """ftfy-policy entity handling: '&copy 2020' (legacy semicolon-less
    form the stdlib would decode) passes through; '&copy; 2020',
    numeric and named entities decode; unknown entities survive."""
    from graphragdatapipeline_spark.functions import unescape_html_entities

    assert unescape_html_entities("&copy 2020") == "&copy 2020"
    assert unescape_html_entities("&copy; 2020") == "© 2020"
    assert unescape_html_entities("a &amp; b &#39;c&#39;") == "a & b 'c'"
    assert unescape_html_entities("&notanentity; x") == "&notanentity; x"
    assert unescape_html_entities(None) is None


@given(
    texts=st.lists(
        st.lists(words, min_size=1, max_size=8).map(" ".join),
        min_size=2,
        max_size=6,
    )
)
@SET
def test_containment_pairs_match_reference(spark, texts):
    """containment(src→dst) == |S(src)∩S(dst)| / |S(src)| against a
    pure-Python shingle reference, all directed pairs, any unicode."""
    from graphragdatapipeline_spark.operators import dedup as dd

    def shingles(t):
        ws = [w for w in re.split(r"\s+", t.lower()) if w]
        if len(ws) < 3:
            return {" ".join(ws)}
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    ref = {}
    sets = {i: shingles(t) for i, t in enumerate(texts)}
    for i in sets:
        for j in sets:
            if i == j:
                continue
            inter = len(sets[i] & sets[j])
            if inter and inter / len(sets[i]) >= 0.25:
                ref[(i, j)] = inter / len(sets[i])

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sh = dd.shingle_table(df, "doc_id", "text", k=3)
    got = {
        (r.src, r.dst): r.containment
        for r in dd.containment_pairs(sh, "doc_id", threshold=0.25).collect()
    }
    assert got.keys() == ref.keys()
    for k in ref:
        assert abs(got[k] - ref[k]) < 1e-12


@given(
    vec=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
        min_size=1,
        max_size=12,
    )
)
@SET
def test_sq8_codes_match_reference(spark, vec):
    """SQ8 encode against a pure-Python reference: codes in 0..255,
    reconstruction within scale/2, degenerate constant vectors exact."""
    import math

    from graphragdatapipeline_spark.vector import similarity as vs

    df = spark.createDataFrame([(1, [float(x) for x in vec])],
                               "vec_id long, embedding array<double>")
    r = vs.sq8_encode(df).first()
    mn, mx = min(vec), max(vec)
    scale = (mx - mn) / 255.0 if mx > mn else 1.0
    assert abs(r.scale - scale) < 1e-15 and abs(r.mn - mn) < 1e-15
    for c, x in zip(r.codes, vec):
        assert c == int(math.floor((x - mn) / scale + 0.5))
        assert 0 <= c <= 255
        assert abs((mn + c * scale) - x) <= scale / 2 + 1e-9


@given(
    recs=st.lists(
        st.tuples(
            st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]), max_size=5),
            st.sampled_from(["B1", "B2"]),
            st.integers(0, 3),
        ),
        min_size=1,
        max_size=8,
    ),
    t=st.sampled_from([0.0, 1e-7, 0.25, 0.5, 0.75, 1.0]),
)
@SET
def test_entity_resolution_prefix_filter_is_recall_preserving(spark, recs, t):
    """AllPairs/PPJoin prefix filtering must be invisible in the
    output: resolve_entities(prefix_filter=True) == (False) row for
    row, across thresholds (ceil-prefix-length arithmetic), duplicate
    names (df ties), EMPTY token sets (two empty names satisfy
    0 ≥ t·0 and must still pair via the sentinel prefix), and the
    t≈0 degenerate thresholds (micro-int 0 accepts token-DISJOINT
    pairs, which no prefix can make meet — the filter must bypass)."""
    from graphragdatapipeline_spark.graph.entities import resolve_entities

    rows = [
        (i, " ".join(ws), blk, sz) for i, (ws, blk, sz) in enumerate(recs)
    ]
    df = spark.createDataFrame(rows, "rid long, name string, blk string, sz int")
    kw = dict(
        id_col="rid", name_col="name", block_col="blk",
        size_col="sz", name_jaccard=t, max_size_gap=1,
    )
    off = sorted(map(tuple, resolve_entities(df, prefix_filter=False, **kw).collect()))
    on = sorted(map(tuple, resolve_entities(df, prefix_filter=True, **kw).collect()))
    assert on == off


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff"]), max_size=6),
        min_size=1,
        max_size=8,
    ),
    pair_seed=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), max_size=12
    ),
    t=st.sampled_from([0.0, 0.25, 0.6]),
)
@SET
def test_jaccard_candidate_keyed_equals_filtered_full_join(spark, docs, pair_seed, t):
    """The candidate-keyed verification join must equal the full
    inverted-index self-join filtered to the candidates, for ANY
    candidate set: duplicated pairs, a>b pairs (dropped by the a<b
    contract), pairs naming absent ids, sub-k-token docs (whole-string
    shingle), and candidate sets that are empty."""
    from graphragdatapipeline_spark.operators import dedup as dd

    d = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    sh = dd.shingle_table(d, "doc_id", "text", k=3)
    cands = spark.createDataFrame(
        [(a, b) for a, b in pair_seed] or [(99, 98)], "a long, b long"
    )
    got = dd.jaccard_pairs(sh, "doc_id", threshold=t, candidates=cands)
    full = dd.jaccard_pairs(sh, "doc_id", threshold=t)
    want = full.join(
        cands.filter(F.col("a") < F.col("b")).distinct(), ["a", "b"], "left_semi"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _scale_fixture_script():
    """scripts/make_scale_fixture.py, loaded as a module."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "make_scale_fixture",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "make_scale_fixture.py"),
    )
    msf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(msf)
    return msf


def test_uniform_replicate_scales_facts_not_dims(spark, sf_dir, tmp_path):
    """Uniform replication (the bench.py input): fact tables hold
    FACTOR× rows in ``files`` files, dims are copied once, and the
    key shift keeps joins inside a replica, so orders ⋈ customer has
    exactly FACTOR× the rows."""
    import os

    msf = _scale_fixture_script()
    dst = str(tmp_path / "x2")
    msf.replicate(spark, sf_dir, dst, 2, files=4)

    from graphragdatapipeline_spark.io import read_table

    for table, cols in msf.SHIFT_COLS.items():
        got = spark.read.parquet(os.path.join(dst, table)).count()
        assert got == (2 if cols else 1) * read_table(spark, sf_dir, table).count()
        if cols:
            files = os.listdir(os.path.join(dst, table))
            assert sum(f.endswith(".parquet") for f in files) == 4, table

    def joined(orders, customer):
        return orders.join(customer, orders.o_custkey == customer.c_custkey).count()

    src = joined(read_table(spark, sf_dir, "orders"), read_table(spark, sf_dir, "customer"))
    rep = joined(
        spark.read.parquet(os.path.join(dst, "orders")),
        spark.read.parquet(os.path.join(dst, "customer")),
    )
    assert src > 0 and rep == 2 * src


def test_zipf_fixture_transforms_deterministic_and_shaped(spark):
    """The zipf skew transforms behind the SCALE.md skew tables must be
    (a) deterministic — same input, same output, no RNG — and (b)
    shaped as documented: ~50% of events on 32 hot users with rank-1
    the most frequent, ~20% of parts on Brand#HOT, ~5% of docs on
    template texts with a per-doc unique token (near-dups, not exact)."""
    msf = _scale_fixture_script()

    from pyspark.sql import functions as F

    n = 20_000
    ev = spark.range(n).select(
        F.col("id").alias("event_id"), (F.col("id") + 1_000_000).alias("user_id")
    )
    a = msf._apply_zipf_skew("events", ev).collect()
    b = msf._apply_zipf_skew("events", ev).collect()
    assert sorted(a) == sorted(b)  # deterministic
    hot = [r.user_id for r in a if r.user_id <= msf._ZIPF_HOT]
    frac = len(hot) / n
    assert 0.45 < frac < 0.55, frac
    from collections import Counter

    counts = Counter(hot)
    # zipf(s=1): rank 1 strictly heaviest, monotone-ish down the ranks
    assert counts[1] == max(counts.values())
    assert counts[1] > 1.5 * counts[4] > 0

    parts = spark.range(n).select(
        F.col("id").alias("p_partkey"), F.lit("Brand#X").alias("p_brand")
    )
    pb = msf._apply_zipf_skew("part", parts).groupBy("p_brand").count().collect()
    hot_n = {r.p_brand: r["count"] for r in pb}.get("Brand#HOT", 0)
    assert 0.17 < hot_n / n < 0.23, hot_n

    docs = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("original text "), F.col("id").cast("string")).alias("text"),
        F.lit(0).cast("long").alias("n_chars"),
    )
    d = msf._apply_zipf_skew("documents", docs).collect()
    hot_docs = [r for r in d if r.text.startswith("tpl")]
    assert 0.03 < len(hot_docs) / 2_000 < 0.07, len(hot_docs)
    # near-dups, not exact: unique token makes every hot text distinct
    assert len({r.text for r in hot_docs}) == len(hot_docs)
    # n_chars restamped to match the new text
    assert all(r.n_chars == len(r.text) for r in d)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc Ab XY z".split()), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_remove_duplicated_spans_matches_reference(spark, docs):
    """Span removal == a pure-Python replay: k-gram positions,
    cross-document df on LOWERCASED grams, covered-position union,
    original-case reconstruction. The 6-word alphabet forces heavy
    cross-doc collisions, sub-k docs, empty docs and case-folded
    matches."""
    from graphragdatapipeline_spark.operators import dedup as dd

    k = 3
    toks = {i + 1: d for i, d in enumerate(docs)}
    low = {i: [t.lower() for t in d] for i, d in toks.items()}

    def grams(d):
        if len(d) < k:
            return [(1, len(d), " ".join(d))]
        return [(i + 1, i + k, " ".join(d[i : i + k])) for i in range(len(d) - k + 1)]

    df_count: dict[str, set[int]] = {}
    for i, d in low.items():
        for _, _, g in grams(d):
            df_count.setdefault(g, set()).add(i)

    want = {}
    for i, d in low.items():
        gs = grams(d)
        distinct = {g for _, _, g in gs}
        shared = {g for g in distinct if len(df_count[g]) >= 2}
        cov = set()
        for a, b, g in gs:
            if len(df_count[g]) >= 2 and a <= b:
                cov.update(range(a, b + 1))
        kept = [t for p, t in enumerate(toks[i], 1) if p not in cov]
        want[i] = (
            len(distinct),
            len(shared),
            2 * len(shared) >= len(distinct),
            len(toks[i]),
            len(cov),
            " ".join(kept),
        )

    sdf = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in toks.items()], "doc_id LONG, text STRING"
    )
    got = {
        r.doc_id: (
            r.n_shingles,
            r.n_shared,
            r.flag_dup,
            r.n_tokens,
            r.n_removed,
            r.cleaned_text,
        )
        for r in dd.remove_duplicated_spans(sdf, "doc_id", "text", k=k).collect()
    }
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc Ab XY z".split()), min_size=0, max_size=10),
        min_size=1,
        max_size=8,
    ),
    cut=st.integers(0, 7),
)
@SET
def test_substring_incremental_equals_one_shot_any_split(spark, docs, cut):
    """For ANY two-batch split of a corpus, scoring each batch against
    the merged shingle-df index must equal the one-shot removal over
    the union — the additivity contract of shingle_df_delta, fuzzed
    over batch boundaries (empty batches included)."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.operators import dedup as dd

    rows = [(i + 1, " ".join(d)) for i, d in enumerate(docs)]
    cut = min(cut, len(rows))
    schema = "doc_id LONG, text STRING"
    full = spark.createDataFrame(rows, schema)
    b1 = spark.createDataFrame(rows[:cut], schema)
    b2 = spark.createDataFrame(rows[cut:], schema)
    merged = (
        dd.shingle_df_delta(b1, "doc_id", "text")
        .unionByName(dd.shingle_df_delta(b2, "doc_id", "text"))
        .groupBy("shingle")
        .agg(F.sum("nd").alias("nd"))
    )
    incr = dd.remove_spans_against_index(
        b1, merged, "doc_id", "text"
    ).unionByName(dd.remove_spans_against_index(b2, merged, "doc_id", "text"))
    want = {tuple(r) for r in dd.remove_duplicated_spans(full, "doc_id", "text").collect()}
    got = {tuple(r) for r in incr.collect()}
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("the a of to cat zzqx wwky vvjz".split()),
            min_size=0,
            max_size=40,
        ),
        min_size=2,
        max_size=10,
    )
)
@SET
def test_quality_classifier_matches_python_replica(spark, docs):
    """The quantized-GD training loop == an independent pure-Python
    replay: same features, same integer micro-unit gradient sums, same
    weight updates. Scores must agree within one 1e-6 quantum (the
    only legitimate slack: JVM Math.exp vs CPython libm exp in the
    last ulp at a floor boundary); rule-gate columns must be exact."""
    import math

    from graphragdatapipeline_spark.operators import curation as cu

    STOP = {"the", "a", "and", "of", "to", "in", "is"}
    rows = [(i + 1, " ".join(d)) for i, d in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: r
        for r in cu.quality_classifier(sdf, "doc_id", "text", iters=5, lr=1.0).collect()
    }

    def dr6(x):
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    def micro(x):
        return math.floor(x * 1_000_000.0 + 0.5)

    feats, ys = {}, {}
    for i, text in rows:
        toks = [t for t in text.lower().split() if t]
        n = len(toks)
        nosp = len("".join(text.split()))
        mwl = nosp / max(n, 1)
        swr = sum(1 for t in toks if t in STOP) / max(n, 1)
        keep = not (n < 30 or mwl > 5.0 or swr < 0.02)
        feats[i] = [n / 100.0, dr6(mwl), dr6(swr)]
        ys[i] = 1.0 if keep else 0.0
    ids = sorted(feats)
    nn = len(ids)
    mu = [dr6(sum(micro(feats[i][j]) for i in ids) / (nn * 1_000_000.0)) for j in range(3)]
    x = {i: [1.0] + [feats[i][j] - mu[j] for j in range(3)] for i in ids}
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(5):
        g = [0, 0, 0, 0]
        for i in ids:
            z = w[0] + w[1] * x[i][1] + w[2] * x[i][2] + w[3] * x[i][3]
            s = dr6(1.0 / (1.0 + math.exp(-z)))
            for j in range(4):
                g[j] += micro((s - ys[i]) * x[i][j])
        w = [dr6(w[j] - 1.0 * g[j] / (nn * 1_000_000.0)) for j in range(4)]
    for i in ids:
        z = w[0] + w[1] * x[i][1] + w[2] * x[i][2] + w[3] * x[i][3]
        want = micro(dr6(1.0 / (1.0 + math.exp(-z)))) / 1_000_000.0
        assert abs(got[i].clf_score - want) <= 1.5e-6, (i, got[i].clf_score, want)
        assert got[i].keep == (ys[i] == 1.0)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 6),  # id
            st.integers(0, 8),  # epoch
            st.one_of(st.none(), st.integers(0, 50)),  # None = tombstone
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_vector_index_latest_wins_matches_reference(spark, rows):
    """latest_wins + tombstone filter (the vector index read rule) ==
    a Python dict replay applying epochs in order: per id the
    highest-epoch action wins, a winning tombstone deletes the id. Ids
    with conflicting SAME-epoch actions are skipped — the sink's
    within-batch dedup guarantees (id, epoch) uniqueness upstream, so
    the read rule is only defined on unique pairs."""
    from graphragdatapipeline_spark.streaming.ops import latest_wins

    seen: dict[tuple[int, int], set] = {}
    for i, e, v in rows:
        seen.setdefault((i, e), set()).add(v)
    unique = {k for k, vs in seen.items() if len(vs) == 1}
    rows = [r for r in rows if (r[0], r[1]) in unique]
    if not rows:
        return
    df = spark.createDataFrame(
        [(i, [float(v), 0.0] if v is not None else None, e) for i, e, v in rows],
        "vec_id long, embedding array<double>, _epoch long",
    )
    got = {
        (r.vec_id, round(float(r.embedding[0]), 5))
        for r in latest_wins(df, "vec_id")
        .filter(F.col("embedding").isNotNull())
        .collect()
    }
    best: dict[int, tuple[int, int | None]] = {}
    for i, e, v in rows:
        if i not in best or e > best[i][0]:
            best[i] = (e, v)
    expect = {
        (i, round(float(v), 5)) for i, (_e, v) in best.items() if v is not None
    }
    assert got == expect
