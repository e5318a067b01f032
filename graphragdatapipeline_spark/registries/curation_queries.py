"""Training-data curation registry queries (engine extensions beyond
the reference's chunk→embed→ingest surface — its pipeline ends at
ChromaDB upsert, scripts/create_chunks_embeddings.py:1-120). These are
the corpus-curation steps an LLM training pipeline runs downstream:
reproducible sampling/splits, token-budget sequence packing, and
benchmark decontamination. All pure DataFrame expressions with exact
DuckDB value oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.operators import curation as cu
from graphragdatapipeline_spark.registry import osql_round, register, with_ctes
from graphragdatapipeline_spark.registries.dedup_oracles import (
    MEGA_DROPS,
    SUBSTRING_SELECT,
    WORD_SHINGLES,
    _shingle_ctes,
    _substring_ctes,
    _unigram_lm_ctes,
    _verified_flow_ctes,
    ws_tokens,
)
from graphragdatapipeline_spark.text import analysis as ta

# DuckDB twin of curation.hash_bucket: first 8 md5 nibbles of the
# string-cast key as an unsigned 32-bit int, mod the bucket count.
_BUCKET_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)"
)


@register(
    "curation_sample_split",
    oracle=f"""
SELECT doc_id,
       CASE WHEN {_BUCKET_SQL} < 1000 THEN 'test' ELSE 'train' END AS split
FROM documents
WHERE {_BUCKET_SQL} < 2500
""",
)
def curation_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% sample of documents with a 10% test split.

    Membership is a property of the row's key hash, not the run —
    stable across partitionings, retries, and engines (df.sample()
    guarantees none of these). Map-side only: no shuffle at any scale.
    """
    d = read_table(spark, sf_dir, "documents")
    labeled = cu.train_test_split(d, "doc_id", test_rate=0.1)
    return cu.deterministic_sample(labeled, "doc_id", rate=0.25).select(
        "doc_id", "split"
    )


@register(
    "curation_mixture_shuffle",
    oracle="""
WITH mixed AS (
  SELECT doc_id, lang, 0 AS source_id, 0 AS epoch FROM documents
  WHERE lang = 'en'
    AND (('0x' || substr(md5(concat('mix|0|0|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 10000) < 7000
  UNION ALL
  SELECT doc_id, lang, 1 AS source_id, CAST(e AS INTEGER) AS epoch
  FROM documents, (SELECT unnest(generate_series(0, 1)) AS e)
  WHERE lang <> 'en'
    AND (e = 0 OR (('0x' || substr(md5(concat('mix|1|1|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 10000) < 4000)
)
SELECT doc_id, lang, source_id, epoch,
       md5(concat('shuffle|', CAST(doc_id AS VARCHAR), '|', CAST(epoch AS VARCHAR))) AS shuffle_key
FROM mixed
""",
)
def curation_mixture_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture (with epoch oversampling) + the
    deterministic global-shuffle key: the English shard sampled at
    0.7, the non-English shard OVERSAMPLED at 1.4 (every row once,
    plus a second epoch with probability 0.4 — the LLM data-recipe
    shape 'books ×1.4'), each fractional coin an independent
    per-(source, epoch) salted hash threshold. Survivors carry
    (source_id, epoch) provenance and the md5 shuffle key a training
    writer ORDER BYs to realize a reproducible permutation (the key
    includes the epoch, so replicas land at independent positions).

    Map-side only up to the final sort (plan-pinned: no Exchange in
    this query — replication is an explode over a literal range); the
    ORDER BY at write time is one range-partitioned total sort
    regardless of corpus size."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    mixed = cu.mixture_sample(
        [(d.filter(F.col("lang") == "en"), 0.7), (d.filter(F.col("lang") != "en"), 1.4)],
        key="doc_id",
        seed="mix",
    )
    return mixed.select(
        "doc_id",
        "lang",
        "source_id",
        "epoch",
        cu.shuffle_key(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("epoch").cast("string"),
            )
        ).alias("shuffle_key"),
    )


@register(
    "curation_pack_sequences",
    oracle="""
SELECT doc_id, lang,
       CAST(floor((sum(n_chars) OVER w - n_chars) / 4000.0) AS BIGINT)
         AS seq_index,
       CAST((sum(n_chars) OVER w - n_chars) % 4000 AS BIGINT) AS seq_offset
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
""",
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-pack documents into ~4000-char training sequences per
    language shard: seq_index = floor(exclusive prefix sum / budget).

    One window (= one shuffle on the shard key) regardless of corpus
    size; no sequential driver loop, identical at any parallelism."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return cu.pack_into_sequences(
        d, shard_col="lang", order_cols=["doc_id"], token_col="n_chars", budget=4000
    ).select("doc_id", "lang", "seq_index", "seq_offset")


@register(
    "curation_decontaminate",
    oracle=with_ctes(
        _shingle_ctes() + [
            ("bench", "SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0"),
            ("shared", """
  SELECT s.doc_id, count(DISTINCT s.shingle) AS shared_shingles
  FROM sh s JOIN bench USING (shingle)
  GROUP BY 1
"""),
        ],
        """SELECT d.doc_id,
       COALESCE(x.shared_shingles, 0) AS shared_shingles,
       COALESCE(x.shared_shingles, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN shared x USING (doc_id)""",
    ),
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag documents sharing >=2 distinct 3-gram shingles with a
    benchmark set (here: every 97th doc, standing in for an eval set).

    Inverted-index shaped: docs meet benchmark rows only on shared
    shingles and the benchmark side is broadcast — at 100 TB this is a
    map-side join plus one doc-keyed aggregation, never a cross join."""
    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return cu.decontaminate(
        d, bench, id_col="doc_id", text_col="text", k=3, min_shared=2
    )


_REP_ORACLE = with_ctes(
    [
        ("toks", f"SELECT doc_id, {ws_tokens()} AS w FROM documents"),
        ("tc", """
  SELECT doc_id, t, count(*) AS c
  FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY 1, 2
"""),
        ("ts", """
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct_tokens,
         max(c) AS top_token_count
  FROM tc GROUP BY 1
"""),
        ("bc", """
  SELECT doc_id, b, count(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1])) AS b
        FROM toks) GROUP BY 1, 2
"""),
        ("bs", "SELECT doc_id, max(c) AS top_bigram_count FROM bc GROUP BY 1"),
    ],
    f"""SELECT d.doc_id,
       CAST(COALESCE(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(ts.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
       {osql_round('COALESCE(ts.n_distinct_tokens, 0) / greatest(COALESCE(ts.n_tokens, 1), 1)', 4)} AS distinct_frac,
       {osql_round('COALESCE(ts.top_token_count, 0) / greatest(COALESCE(ts.n_tokens, 1), 1)', 4)} AS top_token_frac,
       {osql_round('COALESCE(bs.top_bigram_count, 0) / greatest(COALESCE(ts.n_tokens, 1) - 1, 1)', 4)} AS top_bigram_frac
FROM documents d
LEFT JOIN ts ON d.doc_id = ts.doc_id
LEFT JOIN bs ON d.doc_id = bs.doc_id""",
)


@register("curation_repetition_stats", oracle=_REP_ORACLE)
def curation_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-repetition features per document (distinct /
    top-token / top-bigram fractions) — the repetition gates an LLM
    curation pipeline thresholds on (Rae et al. 2021 §A1.1). See
    text.analysis.word_repetition_stats for the 100 TB shape."""
    d = read_table(spark, sf_dir, "documents")
    return ta.word_repetition_stats(d, "doc_id", "text")


# DuckDB twin of the deterministic PII augmentation in the query below.
_PII_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or +1-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}"
_PII_IP = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

_PII_ORACLE = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS redacted_hash
FROM aug
"""


@register("curation_pii_redaction", oracle=_PII_ORACLE)
def curation_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / phones / IPv4 masked, per-pattern
    counts). The fixture corpus contains no PII, so the query first
    appends a DETERMINISTIC synthetic contact line per doc — the
    operator under test is the regex chain in curation.redact_pii,
    exercised identically on both engines; the hash pins the exact
    redacted text."""
    d = read_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("t"),
    )
    return cu.redact_pii(aug, "doc_id", "t")


@register(
    "curation_stratified_sample",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {_BUCKET_SQL} < CASE lang WHEN 'en' THEN 2000 ELSE 5000 END
""",
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: keep 20% of the dominant 'en'
    stratum and 50% of every other language. Integer bucket thresholds
    via a broadcast rate table — map-side only at any scale (see
    curation.stratified_sample)."""
    d = read_table(spark, sf_dir, "documents")
    rates = {"en": 0.2, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5}
    return cu.stratified_sample(d, "doc_id", "lang", rates, default_rate=0.5).select(
        "doc_id", "lang"
    )


def _clf_ctes(
    iters: int = 25, lr: float = 1.0, src: str = "documents"
) -> list[tuple[str, str]]:
    """Unrolled SQL replay of curation.quality_classifier's full-batch
    quantized gradient descent over table/CTE `src` (_CLF_SELECT reads
    it): the Gopher rule-gate features, centered on exact-integer
    corpus means, per-iteration sigmoid 6-dp quantized, every per-row
    gradient term floored to int64 micro-units and summed exactly
    (order-independent), each weight one double update re-quantized to
    6 dp, and the final keep flag an integer cross-comparison against
    the corpus-mean score — so the CTE chain reproduces the engine's
    driver-side weights and flags bit-for-bit (the vector_kmeans_train
    oracle discipline applied to logistic regression). lr must be
    binary-exact."""
    assert lr in (0.5, 1.0, 2.0), "lr literal must be binary-exact"

    def dr(e: str) -> str:
        return f"floor(({e}) * 1000000 + 0.5) / 1000000"

    def sig(w: str) -> str:
        z = f"{w}.w0 + {w}.w1 * x1 + {w}.w2 * x2 + {w}.w3 * x3"
        return dr(f"1.0 / (1.0 + exp(-({z})))")

    xs = ["1.0", "x1", "x2", "x3"]
    ctes = [
        ("f", rf"""
  SELECT doc_id, len(w) AS n_tokens,
    length(regexp_replace(text, '\s', '', 'g')) / greatest(len(w), 1) AS mean_word_len,
    len(list_filter(w, x -> list_contains(['the','a','and','of','to','in','is'], x))) /
      greatest(len(w), 1) AS stopword_ratio
  FROM (SELECT doc_id, text, {ws_tokens()} AS w FROM {src})
"""),
        ("r", """
  SELECT doc_id, n_tokens, mean_word_len, stopword_ratio,
         list_filter([
           CASE WHEN n_tokens < 30 THEN 'too_short' END,
           CASE WHEN mean_word_len > 5.0 THEN 'long_words' END,
           CASE WHEN stopword_ratio < 0.02 THEN 'low_stopword' END
         ], x -> x IS NOT NULL) AS failed
  FROM f
"""),
        ("feats0", f"""
  SELECT doc_id,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         len(failed) = 0 AS keep,
         COALESCE(array_to_string(failed, ','), '') AS fail_reasons,
         n_tokens / 100.0 AS r1,
         {dr("mean_word_len")} AS r2,
         {dr("stopword_ratio")} AS r3,
         CASE WHEN len(failed) = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM r
"""),
        ("m", """
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(r1 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
         CAST(sum(CAST(floor(r2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s2,
         CAST(sum(CAST(floor(r3 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s3
  FROM feats0
"""),
        ("feats", f"""
  SELECT f0.doc_id, f0.n_tokens, f0.keep, f0.fail_reasons, f0.y,
         f0.r1 - ({dr("m.s1 / (m.n * 1000000.0)")}) AS x1,
         f0.r2 - ({dr("m.s2 / (m.n * 1000000.0)")}) AS x2,
         f0.r3 - ({dr("m.s3 / (m.n * 1000000.0)")}) AS x3
  FROM feats0 f0 CROSS JOIN m
"""),
        ("w0c", "SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3"),
    ]
    for t in range(1, iters + 1):
        gs = ",\n         ".join(
            f"CAST(sum(CAST(floor((s - y) * {x} * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g{j}"
            for j, x in enumerate(xs)
        )
        ws = ",\n         ".join(
            dr(f"w{t-1}c.w{j} - {lr} * it{t}.g{j} / (it{t}.n * 1000000.0)") + f" AS w{j}"
            for j in range(4)
        )
        ctes.append((f"it{t}", f"""
  SELECT CAST(count(*) AS BIGINT) AS n,
         {gs}
  FROM (SELECT y, x1, x2, x3, {sig(f'w{t-1}c')} AS s
        FROM feats CROSS JOIN w{t-1}c)
"""))
        ctes.append((f"w{t}c", f"\n  SELECT {ws}\n  FROM w{t-1}c CROSS JOIN it{t}\n"))
    ctes.append(("scored", f"""
  SELECT feats.*,
         CAST(floor(({sig(f'w{iters}c')}) * 1000000.0 + 0.5) AS BIGINT) AS sm
  FROM feats CROSS JOIN w{iters}c
"""))
    ctes.append(("tot", """
  SELECT CAST(sum(sm) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS c
  FROM scored
"""))
    return ctes


_CLF_SELECT = """SELECT doc_id, n_tokens, keep, fail_reasons,
       sm / 1000000.0 AS clf_score,
       sm * c >= t AS clf_keep
FROM scored CROSS JOIN tot"""


# RETIRED round 10 (rotation budget): `curation_quality_filter` — its
# ENTIRE contract (n_tokens / keep / fail_reasons at doc granularity)
# is a strict subset of `curation_quality_classifier` below, which
# re-emits those columns bit-identically and adds the trained score,
# so the swap loses zero evidence (the dedup_substring_duprate →
# dedup_substring_removal rule). The quality_filter OPERATOR stays —
# it is a stage of curation_end_to_end, whose oracle replays it inside
# _clf_ctes, plus tests/test_curation.py coverage.


@register(
    "curation_quality_classifier", oracle=with_ctes(_clf_ctes(), _CLF_SELECT)
)
def curation_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality gate (the fastText-style rung above rule
    gates): logistic regression over corpus-mean-centered Gopher
    features, fit by 25-iteration full-batch gradient descent
    distilled from the rule
    gate's own keep flag — borderline docs get a rankable continuous
    score instead of a threshold cliff. The k-means quantization
    discipline (integer-quantized gradient terms, exact sums, 6-dp
    weight updates) makes the whole TRAINING LOOP value-oracled: the
    DuckDB CTE chain replays every weight bit-for-bit. Output strictly
    supersedes the retired curation_quality_filter (same n_tokens /
    keep / fail_reasons) plus clf_score and the above-corpus-mean
    clf_keep (integer cross-compare — the lm below_corpus_mean
    convention; non-vacuous on the fixture, unlike a 0.5 cut against
    an unseparated base rate)."""
    d = read_table(spark, sf_dir, "documents")
    return cu.quality_classifier(d, "doc_id", "text", iters=25, lr=1.0)


@register(
    "curation_sample_per_group",
    oracle=f"""
SELECT doc_id, lang
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY lang ORDER BY {_BUCKET_SQL}, doc_id) <= 3
""",
)
def curation_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-docs-per-language inspection sample (see
    curation.sample_per_group — reproducible reservoir-sampling
    stand-in, WindowGroupLimit shape)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return cu.sample_per_group(d, "doc_id", "lang", k=3)


@register(
    "curation_export_shards",
    oracle="""
WITH keyed AS (
  SELECT doc_id, md5(concat('export|', doc_id)) AS sk FROM documents
), sharded AS (
  SELECT doc_id, sk, ntile(16) OVER (ORDER BY sk, doc_id) - 1 AS shard
  FROM keyed
)
SELECT shard, count(*) AS n_docs, min(sk) AS first_key, max(sk) AS last_key
FROM sharded GROUP BY shard
""",
)
def curation_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced shard assignment for training-data
    export: docs ordered by the seeded md5 shuffle key (the
    reproducible global permutation) and cut into 16 equal shards via
    ntile — every shard within one row of corpus/16, re-runs
    bit-identical, and each shard's key range is contiguous so a
    range-partitioned writer emits one internally-ordered file per
    shard with zero extra shuffle. The oracle replays key, ntile and
    per-shard stats exactly."""
    from graphragdatapipeline_spark.operators import curation as cu
    from graphragdatapipeline_spark.operators.relational import global_row_number

    d = read_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", cu.shuffle_key(F.col("doc_id"), seed="export").alias("sk")
    )
    # global rank via the DISTRIBUTED recipe (range partition + local
    # rank + broadcast offsets) — an unpartitioned ntile window would
    # drag the whole corpus through one task at scale. The ntile
    # bucket arithmetic is then replayed exactly: the first N mod k
    # shards hold ceil(N/k) docs, the rest floor(N/k).
    ranked = global_row_number(keyed, ["sk", "doc_id"], rank_col="rn")
    n_total = keyed.count()
    k = 16
    q, r = divmod(n_total, k)
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading shards
    shard = F.when(
        F.col("rn") <= big, F.floor((F.col("rn") - 1) / (q + 1))
    ).otherwise(r + F.floor((F.col("rn") - 1 - big) / q) if q else F.lit(r))
    sharded = ranked.withColumn("shard", shard.cast("long"))
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("sk").alias("first_key"),
        F.max("sk").alias("last_key"),
    )


_DSIR_NIB = (
    "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 + "
    "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 + "
    "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + "
    "(strpos('0123456789abcdef', substr(h, 4, 1)) - 1)"
)


@register(
    "curation_dsir_weights",
    oracle=with_ctes(
        [
            ("toks", f"SELECT doc_id, lang, {ws_tokens()} AS w\n  FROM documents"),
            ("feats", """
  SELECT doc_id, (lang = 'en') AS tgt,
         unnest(w || list_transform(generate_series(1, len(w) - 1),
                                    i -> concat_ws(' ', w[i], w[i+1]))) AS f
  FROM toks
"""),
            ("cells", f"""
  SELECT doc_id, tgt, ({_DSIR_NIB}) % 64 AS cell
  FROM (SELECT doc_id, tgt, md5(f) AS h FROM feats)
"""),
            ("model", """
  SELECT cell,
         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(count(*) AS BIGINT) AS cr
  FROM cells GROUP BY cell
"""),
            ("tot", "SELECT CAST(sum(ct) AS BIGINT) AS Nt, CAST(sum(cr) AS BIGINT) AS Nr FROM model"),
            ("llr", """
  SELECT m.cell,
         CAST(floor((ln(2 * m.ct + 1) - ln(2 * t.Nt + 64)
                     - ln(2 * m.cr + 1) + ln(2 * t.Nr + 64)) * 1000000 + 0.5)
              AS BIGINT) AS lq
  FROM model m CROSS JOIN tot t
"""),
            ("per", """
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_features,
         CAST(sum(l.lq) AS BIGINT) AS s
  FROM cells c JOIN llr l USING (cell)
  GROUP BY c.doc_id
"""),
        ],
        """SELECT doc_id, n_features,
       floor((s / 1000000.0) * 1000000 + 0.5) / 1000000.0 AS log_ratio,
       (s > 0) AS target_like
FROM per""",
    ),
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023): hashed
    unigram+bigram bag-of-ngrams models of the TARGET domain
    (lang = 'en') vs the RAW corpus, per-document log-likelihood
    ratio, integer-quantized end-to-end so the oracle replays
    feature-hash → both models → per-doc score exactly. The standard
    pre-training move for "more data that looks like X" without a
    trained classifier — the model is B=64 rows at ANY corpus size."""
    from graphragdatapipeline_spark.operators.curation import dsir_importance_weights

    d = read_table(spark, sf_dir, "documents")
    return dsir_importance_weights(d, F.col("lang") == "en", "doc_id", "text")


@register(
    "curation_perplexity_buckets",
    oracle=with_ctes(
        _unigram_lm_ctes() + [
            ("ce", """
  SELECT doc_id,
         floor((-sum_lq / (n_tokens * 1000000.0)) * 1000000 + 0.5) / 1000000.0
           AS cross_entropy
  FROM per
"""),
            ("th", "SELECT quantile_cont(cross_entropy, [1.0/3, 2.0/3]) AS t FROM ce"),
            ("b", """
  SELECT c.doc_id, c.cross_entropy,
         CASE WHEN c.cross_entropy <= th.t[1] THEN 'head'
              WHEN c.cross_entropy <= th.t[2] THEN 'middle'
              ELSE 'tail' END AS bucket,
         (('0x' || substr(md5(concat('ppl|', CAST(c.doc_id AS VARCHAR))), 1, 8))::BIGINT % 10000) AS h
  FROM ce c CROSS JOIN th
"""),
        ],
        """SELECT doc_id, bucket, cross_entropy
FROM b
WHERE bucket = 'head'
   OR (bucket = 'middle' AND h < 5000)
   OR (bucket = 'tail' AND h < 1000)""",
    ),
)
def curation_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing end-to-end (Wenzek et al. 2020): the
    corpus-trained unigram LM scores every document (the oracled
    text_lm_quality_score flow), tercile CUTOFFS come from one
    percentile aggregate (broadcast scalars, never a global ntile
    sort), and each bucket keeps at its own deterministic-hash rate —
    head fully, middle 50%, tail 10%. Spark percentile is
    bit-compatible with DuckDB quantile_cont (same p·(n−1) linear
    interpolation), the cross-entropies entering it are already
    6-dp-exact integers-over-10⁶, and membership is a salted md5
    property of the row — so the oracle replays scoring, cutoffs,
    bucketing, and sampling value-exactly."""
    d = read_table(spark, sf_dir, "documents")
    # scored feeds BOTH the tercile-percentile aggregate and the
    # bucket/keep branch; lazy-checkpoint the narrow score frame so
    # the LM pipeline underneath runs once (measured with
    # lm_quality_scores' own reuse point: 4.26 s → 3.25 s at the 100×
    # fixture for the two changes together, values bit-identical).
    scored = ta.lm_quality_scores(d, "doc_id", "text").localCheckpoint(
        eager=False
    )
    return cu.perplexity_bucket_sample(
        scored.select("doc_id", "cross_entropy"), rates=(1.0, 0.5, 0.1)
    )


@register(
    "curation_temperature_sampling",
    oracle=with_ctes(
        [
            ("cnt", "SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang"),
            ("sq", """
  SELECT lang, n,
         CAST(floor(power(CAST(n AS DOUBLE), 0.7) * 1000000 + 0.5) AS BIGINT) AS s
  FROM cnt
"""),
            ("tot", "SELECT CAST(sum(s) AS BIGINT) AS stot FROM sq"),
            ("thr", """
  SELECT lang, least(CAST(10000 AS BIGINT), (2500000 * s) // (stot * n)) AS thr
  FROM sq CROSS JOIN tot
"""),
        ],
        """SELECT d.doc_id, d.lang
FROM documents d JOIN thr t ON d.lang = t.lang
WHERE (('0x' || substr(md5(concat('temp|', CAST(d.doc_id AS VARCHAR))), 1, 8))::BIGINT % 10000) < t.thr""",
    ),
)
def curation_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (XLM-R / mT5 sampling,
    α=0.7): per-lang keep rates derived from the corpus's own counts
    — q_lang ∝ n^0.7, so low-resource languages keep a larger
    FRACTION of their docs than the head language — targeting ~250
    kept docs total. Thresholds are integer-exact (quantized n^α,
    int64 normalizer, integer division), membership is a salted-hash
    row property; the oracle replays rate derivation + sampling at id
    granularity."""
    d = read_table(spark, sf_dir, "documents")
    return cu.temperature_sample(
        d.select("doc_id", "lang"), group_col="lang", id_col="doc_id",
        alpha=0.7, target=250,
    ).select("doc_id", "lang")


def _e2e_oracle() -> str:
    """Composed SEVEN-stage curation pipeline oracle — the production
    RefinedWeb/Dolma order: exact dedup → verified near-dup corpus
    (the dedup_corpus_verified CTEs, sourced from the exact-dedup
    survivors) → exact-substring span REMOVAL (the
    dedup_substring_removal statement re-sourced onto the near-dup
    survivors; downstream stages see the CLEANED text) → TRAINED
    quality gate (the full 25-iteration curation_quality_classifier
    replay, corpus means and weights computed over the cleaned
    survivor corpus, gating on the above-corpus-mean clf_keep) →
    benchmark decontamination (bench shingled from the ORIGINAL
    corpus — eval membership is not affected by pipeline stages;
    training-side shingles from the CLEANED text we'd actually ship)
    → hash split → offset packing by cleaned-char budget. Every
    fragment is the already-green per-stage oracle builder called
    with src=<survivor CTE> (no post-hoc string replacement — the
    round-10 advice), its CTEs spliced into one WITH clause; only the
    stage wiring is new."""
    return with_ctes(
        [
            ("exact_keep", r"""
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id
           ) AS rn
    FROM documents
  ) WHERE rn = 1
"""),
            ("d1", "SELECT d.* FROM documents d JOIN exact_keep USING (doc_id)"),
            *_verified_flow_ctes(src="d1"),
            ("mega_drops", MEGA_DROPS),
            ("d2", """
  SELECT d.* FROM d1 d
  WHERE NOT EXISTS (SELECT 1 FROM verified v WHERE v.b = d.doc_id)
    AND NOT EXISTS (SELECT 1 FROM mega_drops md WHERE md.doc_id = d.doc_id)
"""),
            *_substring_ctes(src="d2"),
            ("subq", SUBSTRING_SELECT),
            ("d3", """
  SELECT d.doc_id, d.lang, s.cleaned_text AS text
  FROM d2 d JOIN subq s USING (doc_id)
"""),
            *_clf_ctes(25, 1.0, src="d3"),
            ("clfq", _CLF_SELECT),
            ("d4", """
  SELECT d.doc_id, d.lang, d.text, c.n_tokens, c.clf_score
  FROM d3 d JOIN clfq c USING (doc_id)
  WHERE c.clf_keep
"""),
            ("btoks", f"SELECT doc_id, {ws_tokens()} AS w\n  FROM documents WHERE doc_id % 97 = 0"),
            ("bench", f"SELECT DISTINCT unnest({WORD_SHINGLES}) AS shingle\n  FROM btoks"),
            ("dtoks", f"SELECT doc_id, {ws_tokens()} AS w FROM d4"),
            ("dsh", f"SELECT doc_id, unnest({WORD_SHINGLES}) AS shingle\n  FROM dtoks"),
            ("shared", """
  SELECT s.doc_id, count(DISTINCT s.shingle) AS shared_shingles
  FROM dsh s
  JOIN bench b USING (shingle)
  GROUP BY 1
"""),
            ("d5", """
  SELECT d.* FROM d4 d LEFT JOIN shared x USING (doc_id)
  WHERE coalesce(x.shared_shingles, 0) < 2
"""),
            ("d6", f"""
  SELECT d.*,
         CASE WHEN {_BUCKET_SQL} < 1000 THEN 'test' ELSE 'train' END AS split
  FROM d5 d
"""),
        ],
        """SELECT doc_id, lang, split, n_tokens, clf_score,
       CAST(floor((sum(length(text)) OVER w - length(text)) / 4000.0) AS BIGINT) AS seq_index,
       CAST((sum(length(text)) OVER w - length(text)) % 4000 AS BIGINT) AS seq_offset
FROM d6
WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)""",
    )


@register("curation_end_to_end", oracle=_e2e_oracle())
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data mirror of graphrag_end_to_end: the full curation
    pipeline as ONE composed query over the documents fixture, in the
    production RefinedWeb/Dolma stage order — exact dedup (min-id per
    fingerprint) → verified near-dup corpus (capped LSH candidates →
    exact-Jaccard verify → larger-id drop + mega-bucket
    representative-keep, the dedup_corpus_verified registered
    defaults) → exact-substring span REMOVAL (Lee et al. 2022;
    every downstream stage operates on the CLEANED text) → TRAINED
    quality gate (the 25-iteration curation_quality_classifier fit on
    the cleaned survivor corpus; gate = above-corpus-mean clf_keep,
    the relative top-half cut production classifiers make, not the
    rule cliff) → benchmark decontamination (every 97th ORIGINAL doc
    as the eval stand-in — eval membership must not depend on
    pipeline survival; training-side shingles from the cleaned text
    we'd actually ship) → 10% hash test split → 4000-char offset
    packing per language shard, budgeted on CLEANED length. Output:
    one row per surviving doc with its split, trained score, and
    training-sequence coordinates. Each stage is independently green;
    this pins the COMPOSITION — schema contracts and survivor-set
    plumbing across stage boundaries — which per-stage oracles
    cannot. The oracle calls the per-stage oracle BUILDERS with
    src=<survivor CTE> (round-10 advice: parameterized re-sourcing,
    no string surgery) and replays all seven stages, including every
    gradient-descent iteration of the classifier, in one statement.

    Scale shape: the union of its stages' shapes — nothing new
    crosses a shuffle beyond what the stages already shuffle, the
    token payload rides only the id-keyed survivor joins, and the
    final packing window is one shuffle on the language shard key.
    The cleaned corpus (d3) is lazily checkpointed once: it feeds the
    classifier's 26 driver round-trips, the decontamination shingles
    and the final pack, and without the cut Catalyst re-derives the
    exact+neardup+substring subtree per consumer."""
    from graphragdatapipeline_spark.operators import dedup as dd
    from graphragdatapipeline_spark.registries.dedup_queries import _verified_flow

    d = read_table(spark, sf_dir, "documents")
    d1 = dd.exact_dedup(d, "doc_id", "text")
    d2 = _verified_flow(d1)[1]
    sub = dd.remove_duplicated_spans(d2, "doc_id", "text", k=3, min_df=2)
    d3 = (
        d2.select("doc_id", "lang")
        .join(
            sub.select("doc_id", F.col("cleaned_text").alias("text")),
            "doc_id",
        )
        .localCheckpoint(eager=False)
    )
    # Classifier fit, then decontamination, in line: shingling the
    # benchmark on a driver thread during the fit did not pay in
    # `profile` A/Bs at sf0.01 (4-vCPU host).
    clf = cu.quality_classifier(d3, "doc_id", "text", iters=25, lr=1.0)
    d4 = d3.join(
        clf.filter(F.col("clf_keep")).select(
            "doc_id", "n_tokens", "clf_score"
        ),
        "doc_id",
    )
    dec = cu.decontaminate(
        d4,
        d.filter(F.col("doc_id") % 97 == 0),
        id_col="doc_id",
        text_col="text",
        k=3,
        min_shared=2,
    )
    d5 = d4.join(
        dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    d6 = cu.train_test_split(d5, "doc_id", test_rate=0.1)
    packed = cu.pack_into_sequences(
        d6.withColumn("_nc", F.length("text")),
        shard_col="lang", order_cols=["doc_id"], token_col="_nc",
        budget=4000,
    )
    return packed.select(
        "doc_id", "lang", "split", "n_tokens", "clf_score",
        "seq_index", "seq_offset",
    )
