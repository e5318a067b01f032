"""Unit tests: chunking math, section parsing, dedup on crafted
near-duplicate fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphragdatapipeline_spark.operators import dedup as dd
from graphragdatapipeline_spark.text import chunking as tc


def test_chunk_boundaries(spark):
    df = spark.createDataFrame([(1, "a" * 450)], ["doc_id", "text"])
    out = tc.chunked_documents(df, "doc_id", "text", size=200, overlap=50).collect()
    # windows start at 0, 150, 300 → 3 chunks; last is short (150 chars)
    assert [r.chunk_index for r in out] == [1, 2, 3]
    assert all(r.total_chunks == 3 for r in out)
    assert [len(r.chunk_text) for r in out] == [200, 200, 150]
    assert out[0].chunk_id == "1_chunk_1"
    # overlap: last 50 chars of chunk i == first 50 of chunk i+1
    assert out[0].chunk_text[150:] == out[1].chunk_text[:50]


def test_chunk_short_text_single_chunk(spark):
    df = spark.createDataFrame([(1, "short")], ["doc_id", "text"])
    out = tc.chunked_documents(df, "doc_id", "text", size=200, overlap=50).collect()
    assert len(out) == 1 and out[0].total_chunks == 1 and out[0].chunk_text == "short"


def test_section_parser(spark):
    text = (
        "Intro paragraph about the artist, long enough to keep.\n"
        "== Career ==\n"
        "Career content that is definitely long enough to survive.\n"
        "== Tiny ==\n"
        "too short\n"
        "== References ==\n"
        "this trailing content must be dropped entirely"
    )
    df = spark.createDataFrame([("Q1", text)], ["qid", "text"])
    out = tc.parse_sections(df, "text").collect()
    names = [r.section_name for r in out]
    assert names == ["Introduction", "Career"]
    assert all(len(r.section_content) >= 30 for r in out)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "Hello  World"), (1, "hello world"), (2, "different text")],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in dd.exact_dedup(df, "doc_id", "text").collect())
    # 1 and 3 normalize to the same fingerprint → keep 1
    assert kept == [1, 2]


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated content about spark shuffle partitions and joins"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    pairs = {(r.a, r.b) for r in dd.minhash_dedup_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], ["doc_id", "text"]
    )
    sh = dd.shingle_table(df, "doc_id", "text", k=3)
    out = dd.jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    # shingles(1): {a b c, b c d, c d e}; shingles(2): {a b c, b c d, c d x}
    # common 2, union 4 → jaccard 0.5
    assert len(out) == 1 and abs(out[0].jaccard - 0.5) < 1e-12


def test_simhash_near_dup_hamming(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    near = base + " thirteen"
    far = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    fps = dd.simhash(df, "doc_id", "text", bits=16)
    pairs = {(r.a, r.b): r.hamming for r in
             dd.simhash_near_dups(fps, "doc_id", max_hamming=4, bits=16).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_shingles_shorter_than_k(spark):
    df = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    sh = dd.shingle_table(df, "doc_id", "text", k=3).collect()
    assert [r.shingle for r in sh] == ["only two"]


def test_tokenizer_chunking_injected(spark):
    """HF-mode chunking via the injection seam: windows over token ids
    with reference overlap semantics, decoded back to text."""
    from graphragdatapipeline_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)  # kernel references the package class
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "short"), (3, None)], ["doc_id", "text"])
    import pyspark.sql.functions as F

    out = df.select(
        "doc_id",
        tc.chunk_text_tokenizer(
            F.col("text"), chunk_tokens=4, overlap_tokens=2,
            tokenizer_factory=tc.WhitespaceTokenizer,
        ).alias("chunks"),
    ).collect()
    by_id = {r.doc_id: r.chunks for r in out}
    # 10 tokens, window 4, step 2 -> ceil((10-4)/2)+1 = 4 chunks
    assert by_id[1] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9",
    ]
    assert by_id[2] == ["short"]
    assert by_id[3] is None


def test_bpe_tokenizer_merge_loop():
    """The vendored merge-table BPE runs the real min-rank greedy:
    vocabulary words merge to one token, unknown words fall back to
    characters, decode is lossless either way, and merge RANK (not
    position) decides application order."""
    from graphragdatapipeline_spark.text.chunking import (
        FIXTURE_WORD_VOCAB,
        BpeTokenizer,
        fixture_bpe_factory,
    )

    tok = fixture_bpe_factory()
    for w in FIXTURE_WORD_VOCAB:
        ids = tok.encode(w)
        assert len(ids) == 1 and tok.decode(ids) == w
    s = "the scan join sort order data"
    assert tok.decode(tok.encode(s)) == s
    assert len(tok.encode(s)) == len(s.split())
    assert tok.decode(tok.encode("zzz table")) == "zzz table"
    assert len(tok.encode("zzz table")) == 5  # z z z </w> + table</w>

    # rank order decides: with ('a','b') ranked above ('b','c'), "abc"
    # merges left pair first; flipping the ranks flips the result
    t1 = BpeTokenizer([("a", "b"), ("b", "c")])
    assert t1._bpe("abc") == ["ab", "c", "</w>"]
    t2 = BpeTokenizer([("b", "c"), ("a", "b")])
    assert t2._bpe("abc") == ["a", "bc", "</w>"]


def test_bpe_chunking_equals_word_windows(spark, sf_dir):
    """chunk_text_tokenizer over the vendored BPE must produce the
    same chunks as the native word-window path on the closed-vocab
    fixture (token == word there) — pinning the encode → id-window →
    decode pipeline against an independent implementation."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.text import chunking as tc

    d = read_table(spark, sf_dir, "documents").limit(50)
    bpe = d.select(
        "doc_id",
        F.posexplode(
            tc.chunk_text_tokenizer(
                F.col("text"), 40, 10, tokenizer_factory=tc.fixture_bpe_factory
            )
        ).alias("pos", "chunk"),
    )
    words = d.select("doc_id", F.split("text", r"\s+").alias("_toks")).select(
        "doc_id",
        F.posexplode(tc.chunk_text_tokens(F.col("_toks"), 40, 10)).alias(
            "pos", "chunk"
        ),
    )
    a = {tuple(r) for r in bpe.collect()}
    b = {tuple(r) for r in words.collect()}
    assert a == b and len(a) >= 50


def test_lm_quality_scores_hand_computed(spark):
    """Unigram LM cross-entropy on a 3-doc corpus, verified against a
    driver-side replay of the exact quantized arithmetic; the repeated
    common-token doc must score BELOW the rare-token doc (lower CE =
    more predictable), and the flag must match the token-weighted
    corpus mean rule."""
    import math

    from graphragdatapipeline_spark.text.analysis import lm_quality_scores

    docs = [(1, "the the the"), (2, "the cat"), (3, "rare")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in lm_quality_scores(df, "doc_id", "text").collect()}

    toks = {1: ["the"] * 3, 2: ["the", "cat"], 3: ["rare"]}
    cnt = {"the": 4, "cat": 1, "rare": 1}
    N, V = 6, 3
    lq = {
        t: math.floor((math.log(2 * c + 1) - math.log(2 * N + V)) * 1e6 + 0.5)
        for t, c in cnt.items()
    }
    per = {d: (len(ts), sum(lq[t] for t in ts)) for d, ts in toks.items()}
    nt = sum(n for n, _ in per.values())
    slq = sum(s for _, s in per.values())
    for d, (n, s) in per.items():
        ce = math.floor((-s / (n * 1e6)) * 1e6 + 0.5) / 1e6
        assert rows[d].n_tokens == n
        assert abs(rows[d].cross_entropy - ce) < 1e-9, (d, rows[d].cross_entropy, ce)
        assert rows[d].below_corpus_mean == (float(-s) * nt <= float(-slq) * n)
    assert rows[1].cross_entropy < rows[3].cross_entropy
    assert rows[1].below_corpus_mean and not rows[3].below_corpus_mean


def test_lm_incremental_index_matches_batch_training(spark, sf_dir):
    """The per-ingest LM maintenance shape: token-index deltas from two
    batches must accumulate to EXACTLY the one-shot corpus counts, and
    scoring the corpus against the accumulated index must reproduce
    lm_quality_scores' quantized cross-entropy bit-for-bit."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.text.analysis import (
        lm_quality_scores,
        lm_score_against_index,
        lm_token_index_delta,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = d.approxQuantile("doc_id", [0.5], 0.001)[0]
    b1, b2 = d.filter(F.col("doc_id") <= mid), d.filter(F.col("doc_id") > mid)

    idx = (
        lm_token_index_delta(b1)
        .unionByName(lm_token_index_delta(b2))
        .groupBy("tok")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint()
    )
    oneshot = lm_token_index_delta(d)
    assert (
        idx.join(oneshot, "tok", "full")
        .filter(
            idx.c.isNull() | oneshot.c.isNull() | (idx.c != oneshot.c)
        )
        .count()
        == 0
    )

    scored = lm_score_against_index(d, idx)
    full = lm_quality_scores(d)
    ce = scored.select(
        "doc_id",
        "n_tokens",
        (
            F.floor((-F.col("sum_lq") / (F.col("n_tokens") * 1_000_000.0)) * 1_000_000 + F.lit(0.5))
            / 1_000_000.0
        ).alias("cross_entropy"),
    )
    diff = (
        ce.alias("a")
        .join(full.alias("b"), "doc_id")
        .filter(
            (F.col("a.n_tokens") != F.col("b.n_tokens"))
            | (F.col("a.cross_entropy") != F.col("b.cross_entropy"))
        )
    )
    assert diff.count() == 0 and ce.count() == full.count()

    # unseen-token policy: a fresh doc scored against the old index
    # gets the add-half unseen log-prob, not a dropped token
    fresh = spark.createDataFrame(
        [(999_999, "zzqqxx zzqqxx")], "doc_id LONG, text STRING"
    )
    r = lm_score_against_index(fresh, idx).first()
    assert r.n_tokens == 2


def test_lm_bigram_scores_sensitive_to_transitions(spark):
    """Docs with IDENTICAL unigram multisets but different orderings
    must separate under the bigram model: the doc whose transitions
    match the corpus-dominant pattern scores lower CE than the
    shuffled word-soup twin (a unigram model scores them identically)."""
    from graphragdatapipeline_spark.text.analysis import (
        lm_bigram_scores,
        lm_quality_scores,
    )

    base = "the cat sat on the mat"
    soup = "mat the on cat the sat"
    docs = [(i, base) for i in range(10)] + [(100, base), (101, soup)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bi = {r.doc_id: r.cross_entropy for r in lm_bigram_scores(df).collect()}
    uni = {r.doc_id: r.cross_entropy for r in lm_quality_scores(df).collect()}
    assert uni[100] == uni[101]          # unigram model is order-blind
    assert bi[100] < bi[101]             # bigram model is not
    # single-token and empty-ish docs don't break the first-token path
    one = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    r = lm_bigram_scores(one).first()
    # a single-token corpus gives p = (2·1+1)/(2·1+1) = 1 → CE exactly 0
    assert r.n_tokens == 1 and r.cross_entropy == 0.0


def test_containment_asymmetric_quote(spark):
    """A short doc pasted whole into a long one: containment(short→long)
    = 1.0 while Jaccard is far below any dedup threshold — the relation
    only the directed operator catches."""
    from graphragdatapipeline_spark.operators import dedup as dd

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    sh = dd.shingle_table(df, "doc_id", "text", k=3)
    got = {
        (r.src, r.dst): r.containment
        for r in dd.containment_pairs(sh, "doc_id", threshold=0.0).collect()
    }
    assert got[(1, 2)] == 1.0            # short fully inside long
    assert got[(2, 1)] < 0.1             # long barely overlaps short
    jac = dd.jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    assert jac[0].jaccard < 0.1          # Jaccard misses the quote


def test_containment_max_posting_guardrail(spark):
    """Stop-shingle cap: a shingle shared by every doc is dropped before
    the self-join, removing pairs whose ONLY evidence is boilerplate;
    denominators stay exact (sizes computed pre-cap)."""
    from graphragdatapipeline_spark.operators import dedup as dd

    # every doc shares "common common common"; docs 1/2 also share a
    # rare 3-shingle
    docs = [(i, f"common common common unique{i} only{i} here{i}") for i in range(3, 9)]
    docs += [(1, "common common common rare pair shingle"),
             (2, "common common common rare pair shingle extra")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dd.shingle_table(df, "doc_id", "text", k=3)
    uncapped = dd.containment_pairs(sh, "doc_id", threshold=0.01)
    capped = dd.containment_pairs(sh, "doc_id", threshold=0.01, max_posting=4)
    assert uncapped.count() > capped.count()
    kept = {(r.src, r.dst) for r in capped.collect()}
    # the rare-shingle pair survives the cap, both directions
    assert (1, 2) in kept and (2, 1) in kept


def test_jaccard_posting_cap_noop_at_fixture_scale(spark, sf_dir):
    """The registered dedup_ngram_jaccard default (max_posting=32,
    r12) must be a VALUE no-op on the real documents fixture — the
    hottest posting list there is 7 docs — so the capped registered
    contract and the unguarded exact flow (the pytest baseline the
    r11 verdict asked to keep) emit identical rows."""
    from graphragdatapipeline_spark.io import read_table

    d = read_table(spark, sf_dir, "documents")
    sh = dd.shingle_table(d, "doc_id", "text", k=3)
    exact = sorted(map(tuple, dd.jaccard_pairs(sh, "doc_id", 0.08).collect()))
    capped = sorted(
        map(tuple, dd.jaccard_pairs(sh, "doc_id", 0.08, max_posting=32).collect())
    )
    assert exact == capped and len(exact) > 0


def test_jaccard_posting_cap_drops_boilerplate_only(spark):
    """Stop-shingle cap semantics: pairs whose ONLY shared shingle is
    boilerplate vanish; pairs with a sub-cap shared shingle survive
    with jaccard ≤ exact (union denominator stays pre-cap exact, the
    intersection can only shrink)."""
    docs = [(i, f"common common common unique{i} only{i} here{i}") for i in range(3, 9)]
    docs += [(1, "common common common rare pair shingle"),
             (2, "common common common rare pair shingle extra")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dd.shingle_table(df, "doc_id", "text", k=3)
    exact = {(r.a, r.b): r.jaccard
             for r in dd.jaccard_pairs(sh, "doc_id", 0.01).collect()}
    capped = {(r.a, r.b): r.jaccard
              for r in dd.jaccard_pairs(sh, "doc_id", 0.01, max_posting=4).collect()}
    assert set(capped) < set(exact)          # strictly fewer pairs
    assert (1, 2) in capped                  # rare-shingle pair survives
    for p, j in capped.items():
        assert j <= exact[p] + 1e-12         # capped lower-bounds exact


def test_containment_empty(spark):
    from graphragdatapipeline_spark.operators import dedup as dd

    sh = spark.createDataFrame([], "doc_id long, shingle string")
    out = dd.containment_pairs(sh, "doc_id", threshold=0.5)
    assert out.count() == 0
    assert out.columns == ["src", "dst", "containment"]


def test_jaccard_candidate_verify_matches_full_join(spark, sf_dir):
    """The candidate-keyed verification join (pairs × a-shingles
    matched on (b, shingle)) must emit EXACTLY the rows of the full
    inverted-index self-join filtered to the candidate set — the shape
    swap is a pure plan change (linear in candidates instead of
    Σ posting², which OOMed at 100× fixture density), never a value
    change. Run on the real documents fixture through the registered
    LSH chain, plus a candidate set that includes a no-common-shingle
    pair (must be absent from both) and an a>b pair (dropped by the
    a<b contract in both)."""
    from graphragdatapipeline_spark.io import read_table

    d = read_table(spark, sf_dir, "documents")
    sig = dd.minhash_signatures_rowwise(d, "doc_id", "text", k=3, num_hashes=16)
    bands = dd.lsh_bands(sig, "doc_id", 16, 4)
    cands = dd.lsh_candidate_pairs(bands, "doc_id", max_bucket=8)
    ids = [r.doc_id for r in d.select("doc_id").orderBy("doc_id").limit(2).collect()]
    extra = spark.createDataFrame(
        [(ids[0] * 1000 + 7, ids[1] * 1000 + 9), (ids[1], ids[0])], ["a", "b"]
    )
    cands = cands.unionByName(extra)
    sh = dd.shingle_table(d, "doc_id", "text", k=3)

    got = dd.jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cands)

    full = dd.jaccard_pairs(sh, "doc_id", threshold=0.2)
    want = full.join(cands.select("a", "b").distinct(), ["a", "b"], "left_semi")

    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0
