"""Training-data curation operators: deterministic sampling / splits,
token-budget sequence packing, benchmark decontamination.

These extend the reference's surface (its pipeline stops at chunk +
embed + ingest — extract_artists_articles.py, chroma_helpers.py) with
the operations an LLM training-data pipeline runs at corpus scale.
Every operator is a pure DataFrame expression — no UDFs, no RNG, no
driver-side state — so results are reproducible run-to-run and
engine-portable (each has a DuckDB oracle in the registry).

Scale notes (100 TB):
- hash sampling/splits are map-side only: no shuffle, no sort, prune-
  friendly (the md5 is computed per row and compared to a constant);
- packing uses one window per shard key — the running sum carries two
  longs per row; the shard key (here `lang`) bounds skew the same way
  any partitioned write would;
- decontamination reuses the dedup family's inverted-index join: docs
  only meet benchmark rows on shared shingles, never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphragdatapipeline_spark.text.analysis import tokens_ws

# 32-bit hash bucket domain: md5 is stable across engines/releases
# (unlike xxhash64/DuckDB hash()), so splits never shift under engine
# upgrades — a contract reproducible-training setups rely on.
_BUCKETS = 10_000


def hash_bucket(col: Column, buckets: int = _BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets): first 8 md5 nibbles of the
    (string-cast) key, mod buckets. SQL twin:
    ``('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT % buckets``."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return h % buckets


def deterministic_sample(
    df: DataFrame, key: str, rate: float, buckets: int = _BUCKETS
) -> DataFrame:
    """Reproducible `rate`-fraction sample keyed on `key`: a row is in
    the sample iff its hash bucket < rate·buckets. Unlike df.sample(),
    membership is a property of the ROW, not the run — stable across
    partitionings, retries, and engines."""
    return df.filter(hash_bucket(F.col(key), buckets) < int(rate * buckets))


def train_test_split(
    df: DataFrame, key: str, test_rate: float = 0.1, buckets: int = _BUCKETS
) -> DataFrame:
    """Adds a `split` column ('test' iff bucket < test_rate·buckets,
    else 'train'). Same stability contract as deterministic_sample;
    disjoint and exhaustive by construction."""
    return df.withColumn(
        "split",
        F.when(
            hash_bucket(F.col(key), buckets) < int(test_rate * buckets), "test"
        ).otherwise("train"),
    )


def pack_into_sequences(
    chunks: DataFrame,
    shard_col: str,
    order_cols: list[str],
    token_col: str,
    budget: int,
) -> DataFrame:
    """Token-budget sequence packing: assign ordered chunks to training
    sequences of ≈`budget` tokens by cumulative token offset —
    seq_index = floor(exclusive_prefix_sum / budget) within each shard.

    This is offset packing, not bin packing: a sequence may overrun by
    at most one chunk (standard for streaming concat-and-chunk training
    pipelines), in exchange for being a pure window expression — one
    shuffle on the shard key, no sequential driver loop, identical
    results at any parallelism."""
    w = (
        Window.partitionBy(shard_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix_incl = F.sum(token_col).over(w)
    prefix_excl = prefix_incl - F.col(token_col)
    return chunks.withColumn(
        "seq_index", F.floor(prefix_excl / budget).cast("long")
    ).withColumn("seq_offset", (prefix_excl % budget).cast("long"))


def mixture_sample(
    sources: list[tuple[DataFrame, float]],
    key: str,
    seed: str = "mix",
    buckets: int = _BUCKETS,
) -> DataFrame:
    """Weighted corpus mixture with epoch oversampling: turn N curated
    corpora plus a mixture spec (e.g. web ×0.7, books ×2.4) into one
    training corpus. Weight w means each row appears floor(w) times
    (epochs 0..floor(w)-1) plus one more with probability w-floor(w) —
    the fractional coin is the same hash-threshold rule as
    deterministic_sample, salted per (source, epoch) so every draw is
    independent. Survivors carry (`source_id`, `epoch`) provenance.

    100 TB shape: pure map-side — replication is an explode over a
    literal 0..floor(w) range (no join, no shuffle), the per-row md5
    compare needs no coordination, each source scans once, and the
    union is a plan-level concat."""
    if not sources:
        raise ValueError("mixture_sample: sources must be non-empty")
    for i, (_, w) in enumerate(sources):
        if w < 0:
            raise ValueError(f"mixture_sample: weight for source {i} is negative ({w})")
    parts = []
    for i, (df, w) in enumerate(sources):
        n_full = int(w)
        # round, not int: 1.4 - 1 is 0.3999…, int() would lose a bucket
        frac_cap = round((w - n_full) * buckets)

        def coin(epoch_col):  # noqa: B023 — bound below per iteration
            return hash_bucket(
                F.concat(
                    F.lit(f"{seed}|{i}|"),
                    epoch_col.cast("string"),
                    F.lit("|"),
                    F.col(key).cast("string"),
                ),
                buckets,
            )

        if n_full == 0:
            kept = df.filter(coin(F.lit(0)) < frac_cap).withColumn(
                "epoch", F.lit(0)
            )
        else:
            ep = df.withColumn(
                "epoch", F.explode(F.sequence(F.lit(0), F.lit(n_full)))
            )
            kept = ep.filter(
                (F.col("epoch") < n_full) | (coin(F.col("epoch")) < frac_cap)
            )
        parts.append(kept.withColumn("source_id", F.lit(i)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def shuffle_key(col: Column, seed: str = "shuffle") -> Column:
    """Deterministic global-shuffle key: md5 of the seed-salted key.
    Training-data writers realize the permutation with ORDER BY this
    column — Spark range-partitions the sort, so the 'random' order
    costs exactly one total sort at any scale, every output file is
    internally ordered and files are globally ordered, and re-running
    with the same seed reproduces the permutation bit-for-bit (unlike
    rand()-based shuffles, which change under retries and
    repartitioning)."""
    return F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string")))


def sample_per_group(
    df: DataFrame,
    key: str,
    group_col: str,
    k: int,
    buckets: int = _BUCKETS,
) -> DataFrame:
    """Deterministic k-per-group sample (the distributed, reproducible
    stand-in for reservoir sampling): rank rows inside each group by
    (md5 hash bucket, key) and keep the first k. Hash order makes the
    pick uniform-ish yet a pure row property — same k rows on every
    run, partitioning, and engine. The rank<=k filter compiles to a
    WindowGroupLimit (plan-pinned), so each group keeps k rows during
    the shuffle instead of sorting whole groups."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key), buckets), F.col(key)
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def _quality_rules(
    min_tokens: int = 30,
    max_mean_word_len: float = 5.0,
    min_stopword_ratio: float = 0.02,
) -> tuple[Column, Column]:
    """The Gopher-style rule gate over ``quality_features`` columns →
    (failed rule names as an array, keep flag) — the one definition
    quality_filter and quality_classifier share."""
    rules = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("long_words", F.col("mean_word_len") > max_mean_word_len),
        ("low_stopword", F.col("stopword_ratio") < min_stopword_ratio),
    ]
    failed = F.filter(
        F.array(*[F.when(cond, name) for name, cond in rules]),
        lambda x: x.isNotNull(),
    )
    return failed, F.size(failed) == 0


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 30,
    max_mean_word_len: float = 5.0,
    min_stopword_ratio: float = 0.02,
) -> DataFrame:
    """Gopher-style composite quality gate: keep a document iff it
    passes every rule; emit the failed rule names so curation runs are
    auditable (which gate dropped how much is the first question every
    corpus-ablation asks). All features are integer counts divided
    once — IEEE-exact on every engine — and the whole operator is a
    map-side projection + filter expression: no shuffle at any scale.
    Thresholds are Gopher-flavored defaults (Rae et al. 2021 §A1.1)
    tuned to the fixture's synthetic corpus so the gate is non-vacuous.
    """
    from graphragdatapipeline_spark.text.analysis import quality_features

    feats = df.select(F.col(id_col), *quality_features(F.col(text_col)))
    failed, keep = _quality_rules(min_tokens, max_mean_word_len, min_stopword_ratio)
    return feats.select(
        F.col(id_col),
        F.col("n_tokens"),
        keep.alias("keep"),
        F.array_join(failed, ",").alias("fail_reasons"),
    )


def stratified_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    buckets: int = _BUCKETS,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample a dominant
    language): a row survives iff its hash bucket < its stratum's
    threshold. Thresholds are computed ONCE in Python as integers, so
    the executed plan compares a long against a long — no per-row
    float arithmetic to drift between engines. The rate table is a
    handful of rows, broadcast; the filter itself is map-side only, so
    rebalancing 100 TB is still a filter-only scan."""
    spark = df.sparkSession
    rate_rows = [(k, int(v * buckets)) for k, v in rates.items()]
    thresholds = spark.createDataFrame(
        rate_rows, f"{strata_col} string, threshold long"
    )
    joined = df.join(F.broadcast(thresholds), strata_col, "left")
    thr = F.coalesce("threshold", F.lit(int(default_rate * buckets)))
    return joined.filter(hash_bucket(F.col(key), buckets) < thr).drop("threshold")


# (label, pattern, replacement). Patterns stick to syntax with
# identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
# character classes, bounded repetition, \b, non-capturing groups.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}", "<PHONE>"),
    ("ip", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing: count and mask emails / phone numbers / IPv4
    addresses. Counts are per-pattern over the ORIGINAL text (so they
    are order-independent); the redacted text applies the replacements
    sequentially in PII_PATTERNS order. Pure regexp_count /
    regexp_replace column expressions — whole-stage codegen, no UDFs,
    map-side only at any scale."""
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = text
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.select(
        F.col(id_col), *counts, F.md5(redacted).alias("redacted_hash")
    )


def perplexity_bucket_sample(
    scored: DataFrame,
    rates: tuple[float, float, float] = (1.0, 0.5, 0.1),
    id_col: str = "doc_id",
    ce_col: str = "cross_entropy",
    buckets: int = _BUCKETS,
    salt: str = "ppl",
) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020 §4.4): split the
    corpus into head / middle / tail by LM cross-entropy terciles and
    keep each bucket at its own rate (CCNet trains on head+middle;
    the LLaMA pipeline keeps head fully, samples the rest). Input is
    any (id, cross_entropy) frame — here lm_quality_scores /
    lm_bigram_scores output.

    Scale shape, deliberately NOT ntile: a global ntile would sort the
    whole corpus through one partition. Instead the two tercile
    CUTOFFS come from a single percentile aggregate (one scalar row,
    broadcast back), and bucket + keep are then map-side expressions —
    exactly how CCNet computes cutoffs (on a sample) and streams the
    corpus through them. Membership is a salted-hash property of the
    ROW (deterministic_sample semantics): stable across partitionings,
    retries, and engines."""
    th = scored.agg(
        F.percentile(F.col(ce_col), F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0))).alias(
            "_t"
        )
    )
    h = hash_bucket(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")), buckets)
    bucket = (
        F.when(F.col(ce_col) <= F.col("_t")[0], "head")
        .when(F.col(ce_col) <= F.col("_t")[1], "middle")
        .otherwise("tail")
    )
    thresholds = [int(r * buckets) for r in rates]
    keep = (
        F.when(F.col("bucket") == "head", F.col("_h") < thresholds[0])
        .when(F.col("bucket") == "middle", F.col("_h") < thresholds[1])
        .otherwise(F.col("_h") < thresholds[2])
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .withColumn("bucket", bucket)
        .withColumn("_h", h)
        .filter(keep)
        .select(F.col(id_col), "bucket", F.col(ce_col))
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.7,
    target: int = 250,
    buckets: int = _BUCKETS,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual
    sampling of XLM-R / mT5: q_g ∝ n_g^α, α<1 upsamples the tail
    RELATIVE to its natural share): derive per-group keep rates from
    the corpus's own group counts so the kept corpus approaches
    target·q_g docs per group, capped at keeping everything.

    Arithmetic is integer-exact end-to-end so the sample is
    engine-portable: s_g = floor(n_g^α·10⁶ + 0.5) (pow on integer
    arguments — cross-libm stable like the ln/BM25 precedent), the
    normalizer S = Σ s_g is an int64 sum, and each group's hash
    threshold is one INTEGER division
    min(buckets, (buckets·target·s_g) div (S·n_g)) — no float
    quotient whose rounding could flip a row near the boundary.
    Membership is then the usual salted-hash row property.

    Scale shape: the group table is |groups| rows (a broadcast),
    the keep test is map-side — one scan, zero shuffle beyond the
    group-count aggregate."""
    cnt = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    s = cnt.withColumn(
        "_s",
        F.floor(F.pow(F.col("_n").cast("double"), F.lit(alpha)) * 1_000_000 + 0.5)
        .cast("long"),
    )
    tot = s.agg(F.sum("_s").alias("_snorm"))  # NB: "_S" would collide with
    # "_s" under Spark's case-insensitive resolution
    thr = (
        s.crossJoin(F.broadcast(tot))
        .withColumn("_num", F.lit(int(buckets) * int(target)).cast("long") * F.col("_s"))
        .withColumn("_den", F.col("_snorm") * F.col("_n"))
        .withColumn(
            "_thr", F.least(F.lit(int(buckets)).cast("long"), F.expr("_num div _den"))
        )
        .select(group_col, "_thr")
    )
    h = hash_bucket(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")), buckets)
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(h < F.col("_thr"))
        .drop("_thr")
    )


def dsir_importance_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 64,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW-corpus
    document by the log-likelihood ratio of its hashed n-gram features
    under a TARGET-domain bag-of-ngrams model vs the raw-corpus model —
    the standard way to up-sample target-like data (here: ``target`` is
    any boolean column expression, e.g. lang = 'en') without a trained
    classifier.

    → (doc_id, n_features, log_ratio, target_like)

    Features are unigrams + word bigrams hashed into ``buckets`` cells
    (first 4 md5 nibbles mod B — engine-portable, same trick as the
    MinHash layer); both models are add-½ smoothed over the B cells, so
    every per-cell log term takes INTEGER arguments:
    llr(cell) = [ln(2·c_t+1) − ln(2·N_t+B)] − [ln(2·c_r+1) − ln(2·N_r+B)],
    quantized to int64 micro-units. A document's log-ratio is the exact
    integer sum of its cells' llr values (order-independent), rounded
    once to 6 dp; ``target_like`` is the sign (llr > 0 ⇔ the doc looks
    more like the target domain than the raw mix).

    Scale shape: the feature stream is map-side (tokenize + hash, no
    shuffle); both models live in ONE B-row table (a groupBy over the
    feature stream with a conditional sum — a single pass computes
    target and raw counts together) that broadcasts into the scoring
    join; per-doc aggregation is the only other shuffle. At 100 TB the
    model stays B rows regardless of corpus size — this is why DSIR
    hashes features instead of keeping a vocabulary."""
    toks = tokens_ws(F.col(text_col))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    feats = df.select(
        F.col(id_col),
        target.cast("boolean").alias("_tgt"),
        F.explode(F.concat(toks, bigrams)).alias("_f"),
    ).withColumn(
        "_cell",
        F.conv(F.substring(F.md5(F.col("_f")), 1, 4), 16, 10).cast("long")
        % buckets,
    )
    model = feats.groupBy("_cell").agg(
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_ct"),
        F.count(F.lit(1)).alias("_cr"),
    )
    totals = model.agg(F.sum("_ct").alias("_Nt"), F.sum("_cr").alias("_Nr"))
    llr_q = F.floor(
        (
            F.log(2 * F.col("_ct") + 1)
            - F.log(2 * F.col("_Nt") + F.lit(buckets))
            - F.log(2 * F.col("_cr") + 1)
            + F.log(2 * F.col("_Nr") + F.lit(buckets))
        )
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    scored_model = F.broadcast(
        model.crossJoin(F.broadcast(totals)).select("_cell", llr_q.alias("_llr"))
    )
    per_doc = (
        feats.join(scored_model, "_cell")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_features"), F.sum("_llr").alias("_s"))
    )
    return per_doc.select(
        F.col(id_col),
        "n_features",
        (
            F.floor((F.col("_s") / 1_000_000.0) * 1_000_000 + F.lit(0.5))
            / 1_000_000.0
        ).alias("log_ratio"),
        (F.col("_s") > 0).alias("target_like"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag docs sharing ≥ `min_shared`
    distinct k-gram shingles with any benchmark row. The join is
    inverted-index shaped (shared shingle = join key) — the benchmark
    side is tiny and broadcast, so at 100 TB this is one map-side join
    plus one doc-keyed aggregation. The benchmark is shingled here,
    inside the plan of the caller's action."""
    from graphragdatapipeline_spark.operators.dedup import shingle_table

    d_sh = shingle_table(docs, id_col, text_col, k=k)
    b_sh = (
        shingle_table(benchmark, id_col, text_col, k=k).select("shingle").distinct()
    )
    shared = (
        d_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("shared_shingles"))
    )
    return (
        docs.join(shared, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("shared_shingles", F.lit(0)).alias("shared_shingles"),
            (F.coalesce("shared_shingles", F.lit(0)) >= min_shared).alias(
                "contaminated"
            ),
        )
    )


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    iters: int = 25,
    lr: float = 1.0,
) -> DataFrame:
    """TRAINED quality gate: logistic regression over the Gopher
    features, fit by full-batch gradient descent with the k-means
    quantization discipline (vector_kmeans_train precedent) so the
    whole training loop is value-oracle-able — the fastText-style rung
    production pipelines add on top of rule gates. The label is the
    rule gate's own keep flag (distillation: the model generalizes the
    hard thresholds into one continuous score, so borderline docs get
    a rankable quality instead of a cliff).

    Features: x1 = n_tokens/100, x2 = mean word length, x3 = stopword
    ratio (the exact quality_filter arithmetic, 6-dp quantized), each
    CENTERED on its corpus mean (means from exact integer micro-unit
    sums + one quantized division — centering is what lets plain GD
    converge against a dominant bias term; measured: uncentered
    features leave the weights fighting the base rate for dozens of
    rounds). Per iteration every per-row gradient term
    (sigmoid(w·x) − y)·x_j is quantized to int64 micro-units and
    SUMMED EXACTLY (order-independent), then each weight takes one
    double update re-quantized to 6 dp — so Spark's driver-side
    weights and an unrolled DuckDB CTE replay are bit-identical,
    sigmoid's exp agreeing across libms well past the 6-dp quantum
    (the ln precedent of the BM25/LM oracles). lr must be binary-exact
    (default 1.0).

    Output: the full quality_filter contract (id, n_tokens, keep,
    fail_reasons) PLUS clf_score (6-dp sigmoid) and clf_keep — the
    above-corpus-mean flag, decided by the integer cross-comparison
    score_micro · n ≥ Σ score_micro (the lm_quality_scores
    below_corpus_mean convention: no float aggregation can perturb
    the boundary).

    Scale shape: one means aggregate + `iters` corpus aggregations
    over a lazily-checkpointed narrow feature frame (features + label
    computed once — the measured branch-reuse rule); per iteration the
    driver receives FIVE numbers (4 gradient sums + n, the
    bounded-collect contract of the k-means family). Exactness bound:
    the int64 gradient SUM is exact while n·max|x|·10⁶ stays under
    2⁶³, but the driver-side update converts that sum to a double
    (lr·g), so bit-exactness across engines additionally needs the
    sum under 2⁵³ — at unit-scale centered features that is ~4·10⁹
    rows; rescale features (or keep the update in integer space)
    beyond that."""
    import math

    from graphragdatapipeline_spark.registry import dround
    from graphragdatapipeline_spark.text.analysis import quality_features

    def dround6_py(x: float) -> float:
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    def micro(c: Column) -> Column:
        return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")

    # Single-pass features + gate: the rule gate and the model
    # features derive from the SAME quality_features columns, so one
    # projection computes both (the label is quality_filter's gate at
    # its default thresholds).
    _failed, _keep = _quality_rules()
    feats = (
        df.select(F.col(id_col), *quality_features(F.col(text_col)))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            _keep.alias("keep"),
            F.array_join(_failed, ",").alias("fail_reasons"),
            _keep.cast("int").cast("double").alias("_y"),
            (F.col("n_tokens") / F.lit(100.0)).alias("_r1"),
            dround(F.col("mean_word_len"), 6).alias("_r2"),
            dround(F.col("stopword_ratio"), 6).alias("_r3"),
        )
        .localCheckpoint(eager=False)
    )
    mrow = feats.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(micro(F.col(f"_r{j}"))).alias(f"_s{j}") for j in (1, 2, 3)],
    ).first()
    n = mrow["_n"]
    if n == 0:
        # Empty corpus: nothing to train on — schemaed-empty out, never
        # throw (the house empty-input contract; the mean/gradient
        # divisions below would be /0).
        return feats.select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("keep"),
            F.col("fail_reasons"),
            F.lit(0.0).alias("clf_score"),
            F.lit(False).alias("clf_keep"),
        )
    mu = {
        j: dround6_py(mrow[f"_s{j}"] / (n * 1_000_000.0)) for j in (1, 2, 3)
    }
    feats = feats.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("keep"),
        F.col("fail_reasons"),
        F.col("_y"),
        *[(F.col(f"_r{j}") - F.lit(mu[j])).alias(f"_x{j}") for j in (1, 2, 3)],
    )
    # The GD loop reads FOUR doubles per row, `iters` times; the output
    # projection reads the id/keep/fail_reasons payload once. Checkpoint
    # the narrow training frame for the loop so each iteration scans
    # 4 doubles instead of deserializing the full row with its string
    # payloads (guide §2.3 project-before-the-scan; at corpus scale the
    # loop's 25 passes are the dominant read volume of the whole fit).
    # Partition count is sized from n (≈2M 4-double rows ≈ 80 MB per
    # task), not inherited from the wide frame: every iteration pays
    # per-task scheduling on a frame whose rows are 40 bytes, and the
    # int64 gradient sums are order-independent, so the layout cannot
    # perturb a single bit (measured: 259 → 163 ms/iteration at the
    # 5000-row fixture where 32 inherited partitions were pure
    # scheduling overhead; coalesce is a no-op when the frame already
    # has fewer partitions than the target).
    train_parts = max(2, math.ceil(n / 2_000_000))
    train = (
        feats.select("_y", "_x1", "_x2", "_x3")
        .coalesce(train_parts)
        .localCheckpoint(eager=False)
    )

    def z_expr(w: list[float]):
        return (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("_x1")
            + F.lit(w[2]) * F.col("_x2")
            + F.lit(w[3]) * F.col("_x3")
        )

    def sig_expr(w: list[float]):
        return dround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z_expr(w))), 6)

    w = [0.0, 0.0, 0.0, 0.0]
    xcols = [F.lit(1.0), F.col("_x1"), F.col("_x2"), F.col("_x3")]
    for _ in range(iters):
        s = sig_expr(w)
        # Row count is invariant across iterations (the frame is
        # checkpointed) — reuse the means-pass n instead of re-counting
        # in every gradient aggregation.
        row = train.agg(
            *[
                F.sum(micro((s - F.col("_y")) * xc)).alias(f"_g{j}")
                for j, xc in enumerate(xcols)
            ]
        ).first()
        w = [
            dround6_py(w[j] - lr * row[f"_g{j}"] / (n * 1_000_000.0))
            for j in range(4)
        ]

    scored = feats.withColumn("_sm", micro(sig_expr(w)))
    total = scored.agg(F.sum("_sm").alias("_tot"))
    return scored.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("keep"),
        F.col("fail_reasons"),
        (F.col("_sm") / 1_000_000.0).alias("clf_score"),
        (F.col("_sm") * F.lit(n) >= F.col("_tot")).alias("clf_keep"),
    )
