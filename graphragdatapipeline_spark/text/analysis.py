"""Text analysis for LLM training-data pipelines (north-star
extension; SURVEY §2.13 build plan item 10).

Language-ID, quality scoring, token counting, fingerprinting — all as
native column expressions (JVM-side, no UDFs) so they survive a
100 TB scan. The inverted index is the scalable form of the
reference's Neo4j fulltext indexes (F14, README.md:405-417).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker sets for the n-gram/stopword heuristic.
# (Real deployments swap in fastText etc. via mapInPandas; the engine
# contract is "lang + confidence per doc", which this satisfies
# deterministically.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "los", "las", "es", "una"),
}

STOPWORDS_EN = ("the", "a", "and", "of", "to", "in", "is")

_BPE_ISH_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def tokens_ws(text: Column) -> Column:
    """Lower-cased whitespace tokens, empty ones dropped: the one
    tokenizer of the text, dedup and graph layers (SQL twin:
    registries.dedup_oracles.ws_tokens)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_ws(text)).cast("long")


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: letter runs count 1, each digit counts 1,
    each punctuation char counts 1 (a cheap proxy for BPE fertility)."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_ISH_RE), 0)).cast("long")


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    toks = tokens_ws(text)
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")


def language_scores(text: Column) -> list[Column]:
    """Language-ID heuristic: marker-hit rate per language. Emits one
    score column per language; argmax is the predicted language."""
    total = token_count_ws(text)
    return [
        (marker_hits(text, ms) / F.greatest(total, F.lit(1))).alias(f"score_{lang}")
        for lang, ms in LANG_MARKERS.items()
    ]


def quality_features(text: Column) -> list[Column]:
    """Quality-scoring features (Gopher/C4-style cheap gates):
    length, mean word length, stopword ratio, punctuation ratio,
    uppercase ratio."""
    toks = tokens_ws(text)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    n_char = F.greatest(F.length(text), F.lit(1))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    return [
        F.length(text).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.length(F.regexp_replace(text, r"\s", "")) / n_tok).alias("mean_word_len"),
        (
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / n_tok
        ).alias("stopword_ratio"),
        (
            F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")) / n_char
        ).alias("punct_ratio"),
    ]


def word_repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition features at word granularity: distinct-
    token fraction, most-frequent-token fraction, most-frequent-bigram
    fraction. High repetition flags boilerplate/spam for curation
    filters (Rae et al. 2021 §A1.1 repetition rules; the fixture corpus
    has no newlines, so the line/paragraph variants degenerate and the
    word-level ones are the informative family).

    Shape at 100 TB: two explode→groupBy aggregations keyed by
    (doc, token) — partial aggregation combines map-side, the shuffle
    key includes the doc id so no single hot key forms, and the final
    per-doc join is between two doc-keyed aggregates that AQE plans as
    a co-partitioned join. No UDFs, no driver state."""
    toks = tokens_ws(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("toks"))
    # (t, i) -> is transform's documented (element, index) form; the
    # bigram at slice-position i pairs token i with token i+1
    # (element_at is 1-based, hence i + 2). Slice keeps ANSI happy.
    # Tokens and bigrams ride ONE explode as tagged structs — a second
    # explode would re-scan the corpus, and at 100 TB the scan is the
    # dominant cost. Two shuffles total: (doc, kind, gram) then (doc).
    grams = F.expr(
        "concat("
        " transform(toks, t -> struct('t' AS kind, t AS gram)),"
        " transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
        "  (t, i) -> struct('b' AS kind, concat(t, ' ', element_at(toks, i + 2)) AS gram)))"
    )
    is_tok = F.col("kind") == "t"
    stats = (
        base.select(id_col, F.explode(grams).alias("g"))
        .select(id_col, F.col("g.kind").alias("kind"), F.col("g.gram").alias("gram"))
        .groupBy(id_col, "kind", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum(F.when(is_tok, F.col("c")).otherwise(0)).alias("n_tokens"),
            F.count(F.when(is_tok, 1)).alias("n_distinct_tokens"),
            F.max(F.when(is_tok, F.col("c"))).alias("top_token_count"),
            F.max(F.when(~is_tok, F.col("c"))).alias("top_bigram_count"),
        )
    )
    from graphragdatapipeline_spark.registry import dround

    n_tok = F.greatest(F.col("n_tokens"), F.lit(1))
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_distinct_tokens", F.lit(0))
            .cast("long")
            .alias("n_distinct_tokens"),
            dround(F.coalesce("n_distinct_tokens", F.lit(0)) / n_tok, 4).alias(
                "distinct_frac"
            ),
            dround(F.coalesce("top_token_count", F.lit(0)) / n_tok, 4).alias(
                "top_token_frac"
            ),
            dround(
                F.coalesce("top_bigram_count", F.lit(0))
                / F.greatest(F.col("n_tokens") - 1, F.lit(1)),
                4,
            ).alias("top_bigram_frac"),
        )
    )


def build_inverted_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """F14 (scalable form) — (token, doc_id, tf) posting table. A
    fulltext query becomes a semi-join against this table instead of a
    full-corpus contains() scan; at 100 TB the index is bucketed by
    token so lookups touch one partition."""
    return (
        df.select(F.col(id_col), F.explode(tokens_ws(F.col(text_col))).alias("token"))
        .groupBy("token", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k most characteristic terms per document by tf-idf ORDER
    (tf/df descending, term ascending). Emits the integer (tf, df)
    pair instead of a float score: tf/df is a single IEEE division —
    exactly rounded and bit-identical on every engine — whereas ln()
    implementations differ in the last ulp across libms, which would
    make a tf·idf float engine-dependent at tie boundaries.

    Shape at 100 TB: the posting table shuffles on (token, doc) — doc
    id in the key kills token hot spots; the df table is one row per
    distinct token, so broadcasting it joins document-frequency onto
    postings WITHOUT shuffling the posting table on token alone (which
    would send every "the" posting to one partition). For vocabularies
    past the broadcast threshold, drop the hint and AQE's skew-join
    splits the hot tokens. The final top-k is a WindowGroupLimit per
    doc, not a global sort."""
    from pyspark.sql import Window

    # The posting table feeds both the df count and the join and is
    # rebuilt per branch: measured cheaper than a checkpoint's block
    # I/O (0.96 s vs 1.11 s at 5k docs, 1.39 s vs 1.53 s at 50k).
    index = build_inverted_index(df, id_col, text_col)
    dfreq = index.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = index.join(F.broadcast(dfreq), "token")
    w = (
        Window.partitionBy(id_col)
        .orderBy((F.col("tf") / F.col("df")).desc(), F.col("token").asc())
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("token").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def fulltext_lookup(index: DataFrame, terms: list[str], id_col: str = "doc_id") -> DataFrame:
    """AND-semantics fulltext query over the inverted index."""
    hits = index.filter(F.col("token").isin(*[t.lower() for t in terms]))
    return (
        hits.groupBy(id_col)
        .agg(F.countDistinct("token").alias("n_terms"))
        .filter(F.col("n_terms") == len(terms))
        .select(id_col)
    )


def lm_token_index_delta(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental LM maintenance, the index-building half → (tok, c):
    token counts for ONE ingest batch. The persisted corpus LM is the
    groupBy-sum of all appended deltas — per ingest you tokenize only
    the BATCH, never rescan the lake (exact_dedup_incremental's shape,
    applied to model maintenance; exact accumulation pinned in
    tests/test_text_dedup.py). Merge rule: union the delta with the
    stored index and groupBy(tok).sum(c)."""
    return (
        df.select(F.explode(tokens_ws(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def lm_score_against_index(
    df: DataFrame,
    token_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental LM maintenance, the scoring half → (doc_id,
    n_tokens, sum_lq): score any document set against a PERSISTED
    token-count index (tok, c) — same add-½-smoothed integer-quantized
    log-probs as lm_quality_scores, so scoring the full corpus against
    the full index reproduces lm_quality_scores' cross-entropy exactly
    (pinned in pytest). sum_lq is returned raw (int64 micro-units) so
    callers pick their own flag policy — a fixed CE threshold for
    per-ingest gating, or the corpus-mean rule when the whole
    population is in hand."""
    toks = df.select(F.col(id_col), F.explode(tokens_ws(F.col(text_col))).alias("tok"))
    counts = token_index.select("tok", F.col("c").alias("_c"))
    corpus = counts.agg(F.sum("_c").alias("_N"), F.count(F.lit(1)).alias("_V"))
    # LEFT join: a batch can contain tokens the index has never seen
    # (c = 0 → the add-½ unseen-token log-prob, −ln(2N+V)); on the
    # full-corpus-vs-full-index contract every token hits, so this is
    # identical to lm_quality_scores there.
    lq = F.floor(
        (
            F.log(2 * F.coalesce("_c", F.lit(0)) + 1)
            - F.log(2 * F.col("_N") + F.col("_V"))
        )
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    return (
        toks.join(counts, "tok", "left")
        .crossJoin(F.broadcast(corpus))
        .select(F.col(id_col), lq.alias("_lq"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("_lq").alias("sum_lq"))
    )


def lm_bigram_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated-bigram LM cross-entropy → (doc_id, n_tokens,
    cross_entropy): one rung closer to CCNet's 5-gram KenLM than the
    unigram gate — token transitions now matter, so shuffled-word soup
    that fools a unigram model scores badly here.

        p(w_i | w_{i-1}) = λ·(2·c(w_{i-1},w_i)+1)/(2·c(w_{i-1})+V)
                         + (1−λ)·(2·c(w_i)+1)/(2·N+V)

    (add-½ smoothing in both components; the first token of a document
    is scored by the unigram term alone). Exactness: every count is an
    exact integer, the interpolation is a fixed IEEE op sequence over
    integer-derived doubles mirrored verbatim in the oracle SQL, and
    the per-token ln is quantized to int64 micro-units, so the per-doc
    sum stays order-independent (the lm_quality_scores discipline, one
    model order up).

    Scale shape: the bigram stream is built IN-ROW (zip_with over two
    slices of the token array — map-side, no self-join on position);
    the bigram model is one groupBy((prev,cur)) count; scoring joins
    the stream against the unigram table twice (cur, prev) and the
    bigram table once. The UNIGRAM joins stay adaptive on purpose —
    unigram vocabulary is genuinely Heaps-sublinear and broadcast is
    right while it fits (the tfidf precedent, plan-pinned there). The
    BIGRAM join is merge-pinned (r12 broadcast audit): distinct bigram
    counts grow near-linearly with corpus size — the same argument
    that felled the 'shingle-df index is vocabulary-sized' assumption
    in remove_spans_against_index — and the executed plan at the 100×
    fixture showed the planner building the corpus-sized (prev, cur)
    string table as a broadcast HashedRelation that merely happened
    to fit."""
    toks = tokens_ws(F.col(text_col))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    firsts = df.filter(n >= 1).select(
        F.col(id_col),
        F.lit(None).cast("string").alias("prev"),
        F.element_at(toks, 1).alias("cur"),
    )
    rest = df.select(F.col(id_col), F.explode(bigrams).alias("_bg")).select(
        F.col(id_col), F.col("_bg.prev").alias("prev"), F.col("_bg.cur").alias("cur")
    )
    stream = firsts.unionByName(rest)

    ucnt = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    bcnt = (
        rest.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("_cb"))
    )
    corpus = ucnt.agg(F.sum("_c").alias("_N"), F.count(F.lit(1)).alias("_V"))

    cu = ucnt.select(F.col("tok").alias("cur"), F.col("_c").alias("_cu"))
    cup = ucnt.select(F.col("tok").alias("prev"), F.col("_c").alias("_cup"))
    uni_p = (2 * F.col("_cu") + 1) / (2 * F.col("_N") + F.col("_V"))
    bi_p = (2 * F.coalesce("_cb", F.lit(0)) + 1) / (
        2 * F.col("_cup") + F.col("_V")
    )
    p = F.when(F.col("prev").isNull(), uni_p).otherwise(
        F.lit(lam) * bi_p + F.lit(1.0 - lam) * uni_p
    )
    lq = F.floor(F.log(p) * 1_000_000 + F.lit(0.5)).cast("long")
    per_doc = (
        stream.join(cu, "cur")
        .join(cup, "prev", "left")
        .join(bcnt.hint("merge"), ["prev", "cur"], "left")
        .crossJoin(F.broadcast(corpus))
        .select(F.col(id_col), lq.alias("_lq"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("_lq").alias("_sum_lq"))
    )
    ce = F.floor(
        (-F.col("_sum_lq") / (F.col("n_tokens") * 1_000_000.0)) * 1_000_000
        + F.lit(0.5)
    ) / 1_000_000.0
    return per_doc.select(
        F.col(id_col), "n_tokens", ce.alias("cross_entropy")
    )


def lm_quality_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020;
    the KenLM-perplexity gate in the CCNet / LLaMA data pipelines,
    unigram form): train an add-½-smoothed unigram LM on the corpus
    ITSELF — token counts via one distributed aggregation — then score
    every document by its per-token cross-entropy under that LM, and
    flag documents at-or-below the token-weighted corpus mean (the
    "head + middle" kept by perplexity bucketing; boilerplate-heavy
    and low-information docs land in the high-CE tail).

    → (doc_id, n_tokens, cross_entropy, below_corpus_mean)

    Cross-engine exactness, the property every oracle here leans on:
    log p(t) = ln(2c_t + 1) − ln(2N + V) takes only INTEGER arguments
    (ln agrees across libms far past 6 dp — BM25 precedent), each
    token's log-prob is quantized to int64 micro-units
    (floor(x·10⁶ + 0.5)), so the per-doc sum is order-independent
    exact integer arithmetic, the cross-entropy is one double division
    rounded back to 6 dp, and the keep-flag is an integer
    cross-product comparison (ce_d ≤ corpus_ce without any float
    aggregation: −Σlq_d · N_tok ≤ −Σlq_corpus · n_d; the products stay
    below 2⁵³ at fixture scale, so the doubles are exact).

    Scale shape: the LM "training" is one groupBy(token) count (partial
    aggregation absorbs heavy-hitter skew); scoring joins the token
    stream against the vocab-sized count table on the token key (both
    sides hash-partitioned on token — at 100 TB the vocab is millions
    of rows, far under the corpus, and never collected); corpus totals
    are 1-row aggregates cross-joined into the plan, never driver
    round-trips."""
    # Composed from the incremental-maintenance halves (single source
    # of truth for the quantized arithmetic): train = one index delta
    # over the whole corpus, score = the corpus against that index.
    # per_doc is consumed TWICE (the corpus-totals aggregate and the
    # final select), so without materialization the whole
    # tokenize+train+score pipeline re-derives per branch — the
    # CPU-heavy branch-reuse class of SCALE.md's measured rule. Lazy
    # localCheckpoint on the narrow (id, n_tokens, sum_lq) frame:
    # 4.26 s → 3.63 s at the 100× fixture, bit-identical output. The
    # totals cross-join keeps its explicit broadcast hint, so the
    # stats-erasure caveat doesn't bite.
    per_doc = (
        lm_score_against_index(
            df, lm_token_index_delta(df, text_col), id_col, text_col
        )
        .withColumnRenamed("sum_lq", "_sum_lq")
        .localCheckpoint(eager=False)
    )
    totals = per_doc.agg(
        F.sum("n_tokens").alias("_nt"), F.sum("_sum_lq").alias("_slq")
    )
    ce = F.floor(
        (-F.col("_sum_lq") / (F.col("n_tokens") * 1_000_000.0)) * 1_000_000
        + F.lit(0.5)
    ) / 1_000_000.0
    keep = (-F.col("_sum_lq")).cast("double") * F.col("_nt") <= (
        -F.col("_slq")
    ).cast("double") * F.col("n_tokens")
    return (
        per_doc.crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            "n_tokens",
            ce.alias("cross_entropy"),
            keep.alias("below_corpus_mean"),
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 document ranking for a term query — the standard IR
    scorer the tf-idf profile above deliberately avoids for per-doc
    term RANKING, applied here where it belongs: ranking DOCS for a
    query. score(d) = Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
    idf = ln(1 + (N−df+0.5)/(df+0.5)).

    Scale shape: corpus stats (N, avgdl) are ONE scalar aggregate;
    per-term df rows number |terms|; both broadcast. Postings are
    filtered to the query's terms BEFORE any shuffle (the inverted
    index at 100 TB serves this filter as a bucket lookup), so the
    scored frame holds only matching (doc, term) pairs, and the top-k
    is TakeOrderedAndProject — no global sort."""
    lterms = [t.lower() for t in terms]
    toks = df.select(
        F.col(id_col), F.explode(tokens_ws(F.col(text_col))).alias("token")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    postings = (
        toks.filter(F.col("token").isin(*lterms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("token").agg(F.countDistinct(id_col).alias("df"))
    scored = (
        postings.join(F.broadcast(dfreq), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.withColumn("_s", idf * tf_norm)
        .groupBy(id_col)
        .agg(F.sum("_s").alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )
