"""Vector-layer registry queries (SURVEY §2.11) over the embeddings
fixture. The query vector is the row with vec_id = 0 (deterministic)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.registry import dround, register, with_ctes
from graphragdatapipeline_spark.vector import similarity as vs


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


@register(
    "vector_knn_bruteforce",
    oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         list_dot_product(embedding::DOUBLE[], qe)
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
              * sqrt(list_dot_product(qe, qe))) AS sim
  FROM embeddings, q
  WHERE vec_id <> 0
)
SELECT vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim
FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 8
""",
    headline=True,
)
def vector_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 — exact cosine top-8 (Chroma n_results=8 parity,
    scripts/query_embeddings.py:52-58). TakeOrderedAndProject keeps
    k rows per partition — no global sort."""
    e = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    q = _query_vec(spark, sf_dir)
    out = vs.cosine_topk(e, q, k=8)
    return out.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


@register(
    "vector_search_partitioned",
    oracle="""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qe, label AS qlabel FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))) AS sim
  FROM embeddings e, q
  WHERE e.label = q.qlabel AND e.vec_id <> 0
)
SELECT vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim
FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 5
""",
)
def vector_search_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style partition-pruned search: score only the query's cell
    (here the label column; in a real deployment the kmeans cell id,
    with the table partitioned by it)."""
    e = read_table(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding", "label").first()
    q = [float(x) for x in qrow[0]]
    out = vs.partition_pruned_topk(
        e.filter(F.col("vec_id") != 0), q, cell=qrow[1], k=5
    )
    return out.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


@register(
    "vector_norm_stats",
    oracle="""
WITH norms AS (
  SELECT label, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT label, count(*) AS n_vectors,
       floor(min(nrm) * 1000000 + 0.5) / 1000000 AS min_norm,
       floor(max(nrm) * 1000000 + 0.5) / 1000000 AS max_norm
FROM norms GROUP BY label
""",
)
def vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell norm statistics (min/max are order-independent —
    exact across engines; used as the collection-health check)."""
    e = read_table(spark, sf_dir, "embeddings")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    norms = e.select("label", vs.l2_norm(ed).alias("nrm"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        dround(F.min("nrm"), 6).alias("min_norm"),
        dround(F.max("nrm"), 6).alias("max_norm"),
    )


@register(
    "vector_ivf_centroids",
    oracle="""
SELECT label,
       count(*) AS n_members,
       CAST(max(len(embedding)) AS INT) AS dim,
       floor((sum(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))) / count(*)) * 10000 + 0.5) / 10000
         AS centroid_sum
FROM embeddings GROUP BY label
""",
)
def vector_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid computation (element-wise mean per cell), verified
    through an exact invariant: sum over dims of per-dim means equals
    (total element sum) / n_members, so the oracle checks the centroid
    VALUES without replaying the per-dim aggregation; portable
    rounding absorbs the differing float summation orders. Full
    element-wise checks are pytest-gated."""
    from graphragdatapipeline_spark.registry import dround

    e = read_table(spark, sf_dir, "embeddings")
    cents = vs.ivf_assignments(e)
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return cents.join(counts, "label").select(
        "label",
        "n_members",
        F.size("centroid").alias("dim"),
        dround(
            F.aggregate("centroid", F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("centroid_sum"),
    )


@register(
    "vector_embed_documents",
    oracle="""
SELECT lang, count(*) AS n_docs, count(*) AS n_unit_norm
FROM documents GROUP BY lang
""",
)
def vector_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 — batch embedding of documents via the deterministic
    hash-projection pandas UDF (Arrow-batched, vs.embed_text_udf).
    Emits per-lang counts of embedded docs with unit-norm check; the
    oracle pins the contract (every document embedded, every embedding
    unit-norm) — the hash values themselves are the stub's choice, not
    the contract."""
    d = read_table(spark, sf_dir, "documents")
    embed = vs.embed_text_udf(dim=64)
    emb = d.select("doc_id", "lang", embed(F.col("text")).alias("embedding"))
    ed = F.transform("embedding", lambda x: x.cast("double"))
    return (
        emb.select("lang", vs.l2_norm(ed).alias("nrm"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.abs(F.col("nrm") - 1.0) < 1e-5, 1).otherwise(0)).alias(
                "n_unit_norm"
            ),
        )
    )


@register(
    "vector_upsert_dedup",
    oracle=with_ctes(
        [
            ("new_docs", """
  SELECT vec_id, label FROM embeddings WHERE vec_id < 50
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, label FROM embeddings WHERE vec_id < 50
"""),
            ("existing", "SELECT vec_id, label FROM embeddings"),
        ],
        """SELECT vec_id, label FROM existing
UNION ALL
SELECT n.vec_id, n.label FROM new_docs n
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.vec_id = n.vec_id)""",
    ),
)
def vector_upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4/J8 — vector-collection upsert with id-dedup: a re-ingest
    batch (50 known ids + 50 fresh ids) left-anti joined against the
    existing collection, then unioned (reference
    ingest_community_summaries.py:135-178)."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    overlap = emb.filter(F.col("vec_id") < 50)
    fresh = overlap.withColumn("vec_id", F.col("vec_id") + 100000)
    new_docs = overlap.unionByName(fresh)
    return vs.upsert_dedup(new_docs, emb, "vec_id")


@register(
    "vector_lsh_buckets",
    oracle="""
WITH h AS (
  SELECT vec_id AS h_id, embedding FROM embeddings WHERE vec_id BETWEEN 1 AND 8
), sig AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], h.embedding::DOUBLE[]) > 0
                  THEN CAST(power(2, h.h_id - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN h
  GROUP BY e.vec_id
)
SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
FROM sig GROUP BY bucket
""",
)
def vector_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketing (ANN scale path alongside IVF): 8
    deterministic hyperplanes (embeddings 1–8), map-side signatures
    via `lsh_signature_col` (the planes ship as literal arrays —
    collecting 8 rows is index metadata, not the corpus), bucket
    histogram. The signature is a per-row expression with ZERO
    Exchange below the histogram aggregation — the 100 TB ingest
    shape; the crossJoin+groupBy contrast formulation survives only in
    `lsh_hyperplane_buckets` for the equivalence pytest. Bit-compatible
    dot products on both engines."""
    e = read_table(spark, sf_dir, "embeddings")
    planes = e.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("h_id"), "embedding"
    )
    h_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in planes.select("h_id", "embedding").collect()
    ]
    sig = e.select(
        "vec_id", vs.lsh_signature_col(h_rows, F.col("embedding")).alias("bucket")
    )
    return sig.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


@register(
    "vector_lsh_probe_topk",
    oracle=with_ctes(
        [
            ("h", "SELECT vec_id AS h_id, embedding FROM embeddings WHERE vec_id BETWEEN 1 AND 8"),
            ("sig", """
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], h.embedding::DOUBLE[]) > 0
                  THEN CAST(power(2, h.h_id - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN h
  GROUP BY e.vec_id
"""),
            ("qb", "SELECT bucket FROM sig WHERE vec_id = 0"),
            ("probe", """
  SELECT bucket FROM qb
  UNION ALL
  SELECT xor(qb.bucket, CAST(power(2, t.i) AS BIGINT)) AS bucket FROM qb, range(8) t(i)
"""),
            ("q", "SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0"),
            ("scored", """
  SELECT s.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))) AS sim
  FROM sig s JOIN embeddings e ON s.vec_id = e.vec_id, q
  WHERE s.bucket IN (SELECT bucket FROM probe) AND s.vec_id <> 0
"""),
        ],
        """SELECT vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim
FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 8""",
    ),
)
def vector_lsh_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ANN read path: LSH bucket probe (query bucket +
    Hamming-1 neighbors) + exact cosine rerank over the probed subset
    — the sub-linear counterpart of vector_knn_bruteforce (reference
    read path scripts/query_embeddings.py:52-58). Signature is a
    zero-shuffle map-side expression; with the collection stored by
    bucket the probe filter is partition pruning. The oracle replays
    the identical signature/probe/rerank pipeline in SQL."""
    e = read_table(spark, sf_dir, "embeddings")
    planes = e.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("h_id"), "embedding"
    )
    q = _query_vec(spark, sf_dir)
    out = vs.lsh_probe_topk(e.filter(F.col("vec_id") != 0), planes, q, k=8)
    return out.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


@register(
    "vector_near_dup_keep",
    oracle=with_ctes(
        [
            ("bsz", "SELECT label, count(*) AS bn FROM embeddings GROUP BY label"),
            ("eligible", """
  SELECT e.vec_id, e.label, e.embedding
  FROM embeddings e JOIN bsz USING (label) WHERE bn <= 2048
"""),
            ("pairs", """
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM eligible a JOIN eligible b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.3
"""),
        ],
        """SELECT e.vec_id, e.label
FROM embeddings e
LEFT JOIN (SELECT DISTINCT b FROM pairs) d ON e.vec_id = d.b
WHERE d.b IS NULL""",
    ),
)
def vector_near_dup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding dedup at id granularity: label-blocked
    cosine near-dup pairs (equi join — the O(n²) never materializes
    across blocks) → cleaned corpus via dedup_corpus's anti-join drop
    rule (min-id representative per duplicate group survives). The
    oracle verifies the exact survivor id set, which pins both the
    pair generation and the drop rule; cosine VALUES are verified by
    vector_knn_bruteforce (same shared cosine_similarity expression).

    max_block=2048 is the REGISTERED default as of r11 (was None, the
    guardrail existed but wasn't promoted — the PQ-knob lesson): cost
    is Σ|block|², and the non-degenerate 100× fixture (global labels
    → ~20k-row blocks) ground for 15+ minutes unbounded; capped it
    returns in seconds. A no-op at fixture scale (max label block:
    59 at sf0.01, 218 at sf0.1) and mirrored in the oracle (the ER
    max_block precedent). Mega-blocks are near-total duplicate
    clusters handled by cluster-level sampling or the LEARNED
    blocking path (dedup_semantic_kmeans), not pairwise scoring."""
    from graphragdatapipeline_spark.operators.dedup import dedup_corpus

    e = read_table(spark, sf_dir, "embeddings")
    pairs = vs.embedding_near_dup_pairs(
        e, threshold=0.3, block_col="label", max_block=2048
    )
    return dedup_corpus(e.select("vec_id", "label"), pairs, id_col="vec_id")


@register(
    "hybrid_search_rrf",
    oracle=with_ctes(
        [
            ("corpus", """
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
"""),
            ("q", "SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0"),
            ("ft", """
  SELECT doc_id,
         row_number() OVER (
           ORDER BY (CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END
                   + CASE WHEN text LIKE '%join%' THEN 1 ELSE 0 END
                   + CASE WHEN text LIKE '%stream%' THEN 1 ELSE 0 END) DESC,
                    doc_id ASC) AS r
  FROM corpus
  WHERE text LIKE '%spark%' OR text LIKE '%join%' OR text LIKE '%stream%'
"""),
            ("vec", """
  SELECT doc_id,
         row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS r
  FROM (
    SELECT c.doc_id,
           list_dot_product(c.embedding::DOUBLE[], q.qe)
             / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qe, q.qe))) AS sim
    FROM corpus c, q WHERE c.doc_id <> 0
  )
"""),
            ("fused", """
  SELECT coalesce(ft.doc_id, vec.doc_id) AS doc_id,
         coalesce(1.0 / (60 + ft.r), 0) + coalesce(1.0 / (60 + vec.r), 0) AS rrf
  FROM (SELECT * FROM ft WHERE r <= 50) ft
  FULL OUTER JOIN (SELECT * FROM vec WHERE r <= 50) vec ON ft.doc_id = vec.doc_id
"""),
        ],
        """SELECT doc_id, floor(rrf * 1000000 + 0.5) / 1000000 AS rrf_score
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10""",
    ),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the RAG read
    path that combines the engine's two search modalities (reference
    queries Chroma for vectors and scans text separately;
    query_embeddings.py:52-58): a keyword list ranked by term-match
    count and a cosine list ranked by similarity, each truncated to
    50, fused by RRF score Σ 1/(60+rank) and reranked top-10. Ranks
    come from row_number with doc_id tiebreaks, so the fusion is
    integer-deterministic; only the published score is floating-point.
    Scale shape: both candidate lists are TakeOrdered top-50 (no
    global sort), the fusion joins two 50-row frames — driver-light,
    corpus-scan-bound, identical at 100 TB."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    corpus = d.join(e, d.doc_id == e.vec_id).select("doc_id", "text", "embedding")
    q = _query_vec(spark, sf_dir)
    terms = ["spark", "join", "stream"]
    n_hits = sum(
        F.when(F.col("text").contains(t), 1).otherwise(0) for t in terms
    )
    # Candidate truncation is orderBy+limit — TakeOrderedAndProject
    # keeps 50 rows per partition and never globally sorts; the
    # unpartitioned row_number window then ranks a ≤50-row frame
    # (bounded constant), NOT the corpus — the global-window
    # single-partition hazard never touches corpus-sized data.
    ft = (
        corpus.withColumn("_hits", n_hits)
        .filter(F.col("_hits") > 0)
        .orderBy(F.desc("_hits"), F.asc("doc_id"))
        .limit(50)
        .withColumn(
            "ft_r",
            F.row_number().over(Window.orderBy(F.desc("_hits"), F.asc("doc_id"))),
        )
        .select("doc_id", "ft_r")
    )
    qv = F.array(*[F.lit(float(x)) for x in q])
    vec = (
        corpus.filter(F.col("doc_id") != 0)
        .withColumn("sim", vs.cosine_similarity(F.col("embedding"), qv))
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(50)
        .withColumn(
            "vec_r",
            F.row_number().over(Window.orderBy(F.desc("sim"), F.asc("doc_id"))),
        )
        .select("doc_id", "vec_r")
    )
    fused = ft.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (60 + F.col("ft_r")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("vec_r")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", dround(F.col("rrf"), 6).alias("rrf_score"))
    )


# The embeddings as DOUBLE lists: the input of every k-means replay.
_EMB = ("emb", "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings")


def _q6(e: str) -> str:
    return f"floor(({e}) * 1000000 + 0.5) / 1000000"


def _sqdist(a: str, b: str) -> str:
    """Squared L2 distance as the engine folds it: the same
    fold-of-squared-diffs, so both engines run one IEEE sequence."""
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2])))"


def _cosine(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b})\n"
        f"           / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _kmeans_unroll_parts(
    prefix: str, emb_cte: str, k: int | str, iters: int, dim: int
) -> list[tuple[str, str]]:
    """The reusable Lloyd's-replay CTE chain: per iteration one
    assignment CTE (fold-of-squared-diffs distance, ties to the lowest
    cell) and one quantized centroid update (exact int64 component
    sums → one double division → 6-dp rounding — the order-independent
    arithmetic that makes k-means cross-engine exact). `prefix` names
    the CTEs so several independent trainings (PQ subspaces) can share
    one WITH clause. `k`, the seed count, is an int or a scalar SQL
    subquery."""
    parts = [(
        f"{prefix}c0",
        f"SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, "
        f"list_transform(v, x -> {_q6('x')}) AS c FROM {emb_cte} ORDER BY vec_id LIMIT {k}",
    )]
    for i in range(iters + 1):
        parts.append((
            f"{prefix}a{i}",
            f"SELECT vec_id, cell FROM ("
            f"SELECT e.vec_id, c.cell, {_sqdist('e.v', 'c.c')} AS dist "
            f"FROM {emb_cte} e CROSS JOIN {prefix}c{i} c) "
            f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) = 1",
        ))
        if i == iters:
            break
        parts.append((
            f"{prefix}s{i}",
            f"SELECT a.cell, d.i AS dim, "
            f"sum(CAST(floor(e.v[d.i + 1] * 1000000 + 0.5) AS BIGINT)) AS s, count(*) AS n "
            f"FROM {prefix}a{i} a JOIN {emb_cte} e USING (vec_id) CROSS JOIN range({dim}) d(i) "
            f"GROUP BY a.cell, d.i",
        ))
        parts.append((
            f"{prefix}n{i}",
            f"SELECT cell, "
            f"list({_q6('CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)')} ORDER BY dim) AS c "
            f"FROM {prefix}s{i} GROUP BY cell",
        ))
        parts.append((
            f"{prefix}c{i + 1}",
            f"SELECT p.cell, COALESCE(u.c, p.c) AS c "
            f"FROM {prefix}c{i} p LEFT JOIN {prefix}n{i} u USING (cell)",
        ))
    return parts


def _kmeans_ctes(k: int | str = 4, iters: int = 3, dim: int = 64) -> list[tuple[str, str]]:
    """Unrolled Lloyd's-iteration replay (same scheme as the pagerank
    oracles) over the full embedding space: final assignment
    a{iters}, final centroids c{iters}."""
    return [_EMB] + _kmeans_unroll_parts("", "emb", k, iters, dim)


def _qcell(iters: int) -> list[tuple[str, str]]:
    """The query vector `qv` (vec_id 0) and `qcell`, its nearest final
    centroid, ties to the lowest cell."""
    return [
        ("qv", "SELECT v FROM emb WHERE vec_id = 0"),
        ("qcell", f"""
  SELECT c.cell FROM c{iters} c CROSS JOIN qv q
  ORDER BY {_sqdist('q.v', 'c.c')} ASC,
           c.cell ASC LIMIT 1
"""),
    ]


@register(
    "vector_kmeans_train",
    oracle=with_ctes(
        _kmeans_ctes(),
        f"SELECT a.cell, count(*) AS n_members, min(a.vec_id) AS min_vec, max(a.vec_id) AS max_vec,\n"
        f"       {_q6('list_sum(any_value(c.c))')} AS centroid_sum\n"
        f"FROM a3 a JOIN c3 c USING (cell)\n"
        f"GROUP BY a.cell",
    ),
)
def vector_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IVF training, no stand-in: 3 Lloyd iterations of k-means
    over the embedding corpus (deterministic seeded init = the k
    lowest-id vectors; quantized order-independent centroid updates —
    see kmeans_cells). Emits per-cell membership stats + the final
    centroid checksum; the oracle replays the ENTIRE training loop —
    every assignment of every iteration — in unrolled SQL."""
    from graphragdatapipeline_spark.registry import dround

    e = read_table(spark, sf_dir, "embeddings")
    assigned, cents = vs.kmeans_cells(e, k=4, iters=3)
    sums = {ci: sum(c) for ci, c in enumerate(cents)}
    checksum = F.create_map(
        *[F.lit(x) for kv in sums.items() for x in kv]
    )[F.col("cell")]
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )
        .select(
            "cell", "n_members", "min_vec", "max_vec",
            dround(checksum, 6).alias("centroid_sum"),
        )
    )


def _ivf_probe_oracle(k: int = 4, iters: int = 3, dim: int = 64, topk: int = 5) -> str:
    """IVF probe replay on top of the trained cells: assign the query
    vector to its nearest final centroid (same fold distance, ties to
    the lowest cell), then exact cosine top-k restricted to that
    cell's members."""
    return with_ctes(
        _kmeans_ctes(k, iters, dim) + _qcell(iters) + [("scored", f"""
  SELECT e.vec_id,
         {_cosine('e.v', 'q.v')} AS sim
  FROM emb e
  JOIN a{iters} a USING (vec_id)
  CROSS JOIN qv q
  WHERE a.cell = (SELECT cell FROM qcell) AND e.vec_id <> 0
""")],
        f"""SELECT vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim
FROM scored ORDER BY sim DESC, vec_id ASC LIMIT {topk}""",
    )


@register("vector_ivf_probe_trained", oracle=_ivf_probe_oracle())
def vector_ivf_probe_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE IVF pipeline: k-means training (kmeans_cells) →
    query-to-centroid assignment → exact cosine top-k inside the
    query's trained cell only — the read path scans 1/nlist of the
    corpus, with the cell id a partition column at scale. The oracle
    replays training, query assignment and rerank end-to-end.

    Probe width: this registers nprobe=1 because the fixture trains
    only k=4 cells (nprobe=2 would scan half the corpus — meaningless
    at 500 vectors). The r10 clustered-regime sweep's production
    guidance is nprobe=2 as the operating point (0.86 recall@8 at 15%
    scanned, 6× the uniform regime per scanned row) rising to 4 for
    0.98 — a knob of the same probe machinery, nothing structural."""
    from graphragdatapipeline_spark.registry import dround

    e = read_table(spark, sf_dir, "embeddings")
    assigned, cents = vs.kmeans_cells(e, k=4, iters=3)
    q = _query_vec(spark, sf_dir)

    def sqdist(c: list[float]) -> float:
        acc = 0.0
        for a, b in zip(q, c):
            acc += (a - b) * (a - b)  # same left fold as engine/oracle
        return acc
    qcell = min(range(len(cents)), key=lambda ci: (sqdist(cents[ci]), ci))

    members = assigned.filter(F.col("cell") == qcell).select("vec_id")
    cand = e.join(members, "vec_id").filter(F.col("vec_id") != 0)
    out = vs.cosine_topk(cand, q, k=5)
    return out.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


def _pq_ctes(
    m: int = 2, k: int = 4, iters: int = 2, dim: int = 64
) -> list[tuple[str, str]]:
    """PQ replay: per subspace the full quantized-k-means unroll
    (shared _kmeans_unroll_parts, prefixed CTEs), then the query's
    per-subspace distance tables (same fold), then ADC scoring
    (`scored`) = sum of per-subspace table lookups at each vector's
    final code."""
    subdim = dim // m
    parts = [_EMB]
    for mi in range(m):
        lo, hi = mi * subdim + 1, (mi + 1) * subdim
        parts.append((f"emb{mi}", f"SELECT vec_id, v[{lo}:{hi}] AS v FROM emb"))
        parts += _kmeans_unroll_parts(f"p{mi}_", f"emb{mi}", k, iters, subdim)
        parts.append((f"qv{mi}", f"SELECT v FROM emb{mi} WHERE vec_id = 0"))
        parts.append((
            f"dt{mi}",
            f"SELECT c.cell, {_sqdist('q.v', 'c.c')} AS d "
            f"FROM p{mi}_c{iters} c CROSS JOIN qv{mi} q",
        ))
    joins = " ".join(
        f"JOIN p{mi}_a{iters} a{mi} ON a{mi}.vec_id = a0.vec_id "
        f"JOIN dt{mi} d{mi} ON d{mi}.cell = a{mi}.cell"
        for mi in range(1, m)
    )
    dsum = " + ".join(f"d{mi}.d" for mi in range(m))
    parts.append((
        "scored",
        f"\n  SELECT a0.vec_id, {dsum} AS dist\n"
        f"  FROM p0_a{iters} a0 JOIN dt0 d0 ON d0.cell = a0.cell {joins}\n"
        f"  WHERE a0.vec_id <> 0\n",
    ))
    return parts


def _rerank(shortlist: int, topk: int) -> tuple[list[tuple[str, str]], str]:
    """The CTEs and SELECT of an exact cosine rerank, against the
    query vector, of the `shortlist` vectors nearest by `scored`.dist."""
    ctes = [
        ("shortlist", f"SELECT vec_id FROM scored ORDER BY dist ASC, vec_id ASC LIMIT {shortlist}"),
        ("q", "SELECT v FROM emb WHERE vec_id = 0"),
        ("rr", f"""
  SELECT e.vec_id,
         {_cosine('e.v', 'q.v')} AS sim
  FROM emb e JOIN shortlist s USING (vec_id) CROSS JOIN q
"""),
    ]
    return ctes, (
        "SELECT vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim\n"
        f"FROM rr ORDER BY sim DESC, vec_id ASC LIMIT {topk}"
    )


@register(
    "vector_pq_adc_topk",
    oracle=with_ctes(
        _pq_ctes(k=16),
        "SELECT vec_id, floor(dist * 1000000 + 0.5) / 1000000 AS adc_dist\n"
        "FROM scored ORDER BY dist ASC, vec_id ASC LIMIT 8",
    ),
)
def vector_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011), end-to-end: train
    m=2 per-subspace codebooks with the deterministic quantized
    k-means, encode every vector to m codes via map-side
    nearest-centroid expressions, and answer the query by asymmetric
    distance — per-subspace query→centroid tables computed driver-side
    (m·k doubles of index metadata), per-row score = sum of m table
    lookups. The 100 TB shape: codes are m small ints stored at
    ingest, so the candidate scan reads ~(4·dim)/m× less than raw
    vectors and evaluates array lookups instead of a dim-wide fold;
    exact rerank composes on top like lsh_probe_topk. The oracle
    replays BOTH subspace trainings, the encoding, the distance
    tables, and the ADC ranking in one SQL statement.

    Codebook size: the r10 sweep (SCALE.md, `git show 6183020:scripts/ann_recall_pq_codebook.py`)
    measured recall@8 = 0.27 (k=16) → 0.36 (k=64) → 0.56 (k=256) at
    IDENTICAL scan cost on a clustered corpus — the production default
    is k=256 (the standard 1-byte PQ code). This registers k=16, the
    LARGEST sound codebook the 500-vector sf0.01 fixture supports:
    k-means needs ~39+ training points per centroid (the FAISS
    training heuristic) and k=256 on 500 vectors would make half the
    corpus its own 'centroid' — memorization, not quantization.
    k=16 at ~31 points/centroid is the evidence-backed knob this
    fixture can honestly train (was k=4 through r10).

    The production default is EXECUTED, not extrapolated (r12,
    SCALE.md): pq_rerank at m=2/k=256 on the 200 k-vector fixture
    (~780 points/centroid — trains soundly) reached recall@8 = 1.0
    vs 0.9922 at k=16, train 5.5 s, one-time encode 117.7 s, stored-
    code probe 0.76 s/query via the code_cols encode-at-ingest path
    (the inline per-query re-encode grows linearly in k and is the
    wrong probe shape beyond the fixture — see pq_adc_topk)."""
    from graphragdatapipeline_spark.registry import dround

    e = read_table(spark, sf_dir, "embeddings")
    books = vs.pq_train(e, m=2, k=16, iters=2)
    q = _query_vec(spark, sf_dir)
    out = vs.pq_adc_topk(e.filter(F.col("vec_id") != 0), books, q, k=8)
    return out.select("vec_id", dround(F.col("adc_dist"), 6).alias("adc_dist"))


def _pq_rerank_oracle(
    m: int = 2, k: int = 4, iters: int = 2, dim: int = 64,
    shortlist: int = 32, topk: int = 8,
) -> str:
    """IVFPQ-style read-path replay: the full PQ unroll, then the ADC
    shortlist, then exact cosine rerank of the survivors."""
    ctes, select = _rerank(shortlist, topk)
    return with_ctes(_pq_ctes(m, k, iters, dim) + ctes, select)


@register(
    "vector_pq_rerank_topk", oracle=_pq_rerank_oracle(k=16, shortlist=128)
)
def vector_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE PQ read path (FAISS IVFPQ search shape): ADC
    shortlist over the compressed codes, then exact cosine rerank to
    top-8 — only the shortlist ever touches full vectors. The oracle
    replays training, encoding, ADC shortlisting, and the exact
    rerank end-to-end; the sibling vector_pq_adc_topk pins the ADC
    ordering itself.

    Knobs promoted to the r10 measurements (SCALE.md sweep): codebook
    k=16 — the largest the 500-vector fixture trains soundly, see
    vector_pq_adc_topk; production default k=256 — and shortlist=128
    = 16·k_results, the measured starting-point budget (shortlist
    reliably buys more recall per scanned row than probe width; 32
    was the pre-sweep value)."""
    from graphragdatapipeline_spark.registry import dround

    e = read_table(spark, sf_dir, "embeddings")
    books = vs.pq_train(e, m=2, k=16, iters=2)
    q = _query_vec(spark, sf_dir)
    out = vs.pq_rerank_topk(
        e.filter(F.col("vec_id") != 0), books, q, k=8, shortlist=128
    )
    return out.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


def _ivfpq_residual_oracle(
    kc: int = 4,
    ic: int = 3,
    m: int = 2,
    kpq: int = 16,
    ipq: int = 2,
    dim: int = 64,
    shortlist: int = 32,
    topk: int = 8,
) -> str:
    """IVFADC replay (nprobe=1): the coarse k-means unroll, the
    per-vector RESIDUAL against the final coarse centroid, the m
    per-subspace PQ trainings over the residuals, the query's
    residual distance tables, ADC over the query-cell members,
    shortlist, exact rerank on the ORIGINAL vectors."""
    subdim = dim // m
    parts = _kmeans_ctes(kc, ic, dim)
    parts.append((
        "res",
        f"SELECT e.vec_id, "
        f"list_transform(list_zip(e.v, c.c), p -> p[1] - p[2]) AS v "
        f"FROM emb e JOIN a{ic} a USING (vec_id) JOIN c{ic} c USING (cell)",
    ))
    for mi in range(m):
        lo, hi = mi * subdim + 1, (mi + 1) * subdim
        parts.append((f"res{mi}", f"SELECT vec_id, v[{lo}:{hi}] AS v FROM res"))
        parts += _kmeans_unroll_parts(f"p{mi}_", f"res{mi}", kpq, ipq, subdim)
        parts.append((f"qres{mi}", f"SELECT v FROM res{mi} WHERE vec_id = 0"))
        parts.append((
            f"dt{mi}",
            f"SELECT c.cell, {_sqdist('q.v', 'c.c')} AS d "
            f"FROM p{mi}_c{ipq} c CROSS JOIN qres{mi} q",
        ))
    joins = " ".join(
        f"JOIN p{mi}_a{ipq} r{mi} ON r{mi}.vec_id = r0.vec_id "
        f"JOIN dt{mi} d{mi} ON d{mi}.cell = r{mi}.cell"
        for mi in range(1, m)
    )
    dsum = " + ".join(f"d{mi}.d" for mi in range(m))
    parts.append(("qcell", f"SELECT cell FROM a{ic} WHERE vec_id = 0"))
    parts.append((
        "scored",
        f"\n  SELECT r0.vec_id, {dsum} AS dist\n"
        f"  FROM p0_a{ipq} r0 JOIN dt0 d0 ON d0.cell = r0.cell {joins}\n"
        f"  JOIN a{ic} iv ON iv.vec_id = r0.vec_id\n"
        f"  WHERE iv.cell = (SELECT cell FROM qcell) AND r0.vec_id <> 0\n",
    ))
    ctes, select = _rerank(shortlist, topk)
    return with_ctes(parts + ctes, select)


@register("vector_ivfpq_residual_rerank", oracle=_ivfpq_residual_oracle())
def vector_ivfpq_residual_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — PQ over RESIDUALS (Jégou et al. 2011 §IV, the FAISS
    IVFPQ default; r13): coarse IVF k-means, PQ codebooks trained on
    v − centroid[cell], the query answered inside its nearest cell by
    asymmetric distance against the QUERY'S residual, then exact
    rerank. Same codebook budget as raw-vector PQ, finer effective
    pitch exactly where clusters are tight — the fix for the r12
    clustered-regime soft spot (raw PQ recall@8 = 0.71 at the
    production shape; the residual variant's measured gain is the
    SCALE.md r13 recall row). The oracle replays the ENTIRE pipeline —
    coarse training, residuals, both subspace trainings, the residual
    distance tables, ADC, shortlist, rerank — in one SQL statement.

    Fixture knobs: coarse k=4 (the sf0.01 oracle standard), PQ k=16 —
    the largest sound codebook at 500 vectors (see vector_pq_adc_topk);
    production: coarse k ~ √n, PQ k=256, nprobe 2-8."""
    e = read_table(spark, sf_dir, "embeddings")
    _, cents = vs.kmeans_cells(e, k=4, iters=3)
    books = vs.pq_train(e, m=2, k=16, iters=2, centroids=cents)
    q = _query_vec(spark, sf_dir)
    out = vs.ivfpq_residual_topk(
        e.filter(F.col("vec_id") != 0),
        cents,
        books,
        q,
        k=8,
        nprobe=1,
        shortlist=32,
    )
    return out.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


def _semantic_dedup_oracle(iters: int = 3, tau: float = 0.3) -> str:
    """SemDeDup replay: the full k-means training unroll (shared
    _kmeans_ctes) seeded with the query's k = max(4, n // 128) cells,
    then intra-cell cosine pairs over the FINAL assignment, then the
    min-id-survivor anti-join."""
    k = "(SELECT greatest(4, count(*) // 128) FROM emb)"
    return with_ctes(
        _kmeans_ctes(k, iters) + [("pairs", f"""
  SELECT aa.vec_id AS a, ab.vec_id AS b
  FROM a{iters} aa JOIN a{iters} ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
  JOIN emb ea ON ea.vec_id = aa.vec_id
  JOIN emb eb ON eb.vec_id = ab.vec_id
  WHERE {_cosine('ea.v', 'eb.v')}
        >= {tau}
""")],
        """SELECT e.vec_id, e.label FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.b = e.vec_id)""",
    )


@register("dedup_semantic_kmeans", oracle=_semantic_dedup_oracle())
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup where the blocking
    structure is LEARNED, not given — k-means clusters the embedding
    space, cosine near-dup pairs are scored only INSIDE each trained
    cell, and the min-id representative of each duplicate group
    survives. This is the scale path for embedding dedup when no
    label/LSH blocking key exists: pairwise cost is Σ|cell|² instead
    of n², and the cell id becomes a partition column at 100 TB so
    the near-dup self-join is co-partitioned (zero extra shuffle).
    At sf0.01 this drops 258 of 500 vectors at tau=0.3.

    The oracle replays the ENTIRE flow — all 3 Lloyd iterations of
    training, the final assignment, intra-cell cosine scoring, and
    the survivor anti-join — so the correctness gate covers the
    learned blocking, not just the drop rule."""
    from graphragdatapipeline_spark.operators.dedup import dedup_corpus

    e = read_table(spark, sf_dir, "embeddings")
    # Adaptive cell count: SemDeDup's pairwise cost is Σ|cell|², so
    # cells must stay O(constant) — k grows with the corpus (the paper
    # trains k ∝ n, e.g. 110k clusters for 5B embeddings; a FIXED k
    # would re-create the quadratic blowup blocking exists to avoid).
    # Targets ~128 vectors/cell; at the sf0.01 oracle fixture
    # (500 vectors) this is exactly k=4, the unrolled oracle's k.
    n = e.count()  # parquet metadata count — no data scan
    k = max(4, int(n) // 128)
    assigned, _ = vs.kmeans_cells(e, k=k, iters=3)
    blocked = e.join(assigned, "vec_id")
    pairs = vs.embedding_near_dup_pairs(blocked, threshold=0.3, block_col="cell")
    return dedup_corpus(e.select("vec_id", "label"), pairs.select("a", "b"), "vec_id")


@register(
    "vector_sq8_topk",
    oracle="""
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id = 0
), enc AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id <> 0
), params AS (
  SELECT vec_id, v, list_min(v) AS mn,
         CASE WHEN list_max(v) > list_min(v)
              THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
  FROM enc
), deq AS (
  SELECT vec_id,
         list_transform(v, x -> mn + floor((x - mn) / scale + 0.5) * scale) AS dv
  FROM params
), scored AS (
  SELECT vec_id,
         list_dot_product(dv, qe)
           / (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(qe, qe))) AS sim
  FROM deq, q
)
SELECT vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim
FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 8
""",
)
def vector_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8 SCALAR-quantized vectors (SQ8): encode =
    per-vector affine map onto 0..255 (map-side, no model), search =
    dequantize-on-the-fly against the exact query. The 4×-compression
    rung between exact scan and PQ — at 100 TB the scan reads 1
    byte/dim instead of 4, and reconstruction error is bounded by
    scale/2 per component. Oracle replays encode → dequantize → cosine
    → top-k with the identical arithmetic sequence."""
    from graphragdatapipeline_spark.registry import dround

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    codes = vs.sq8_encode(emb)
    top = vs.sq8_topk(codes, _query_vec(spark, sf_dir), k=8)
    return top.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


def _ivf_sq8_oracle(
    k: int = 4, iters: int = 3, dim: int = 64, shortlist: int = 16, topk: int = 5
) -> str:
    """IVF → SQ8 shortlist → exact rerank replay: trained-cell probe
    (shared k-means unroll), SQ8 dequantized cosine inside the cell,
    top-`shortlist` survivors rescored with exact full-precision
    cosine."""
    return with_ctes(
        _kmeans_ctes(k, iters, dim) + _qcell(iters) + [
            ("members", f"""
  SELECT e.vec_id, e.v FROM emb e JOIN a{iters} a USING (vec_id)
  WHERE a.cell = (SELECT cell FROM qcell) AND e.vec_id <> 0
"""),
            ("params", """
  SELECT vec_id, v, list_min(v) AS mn,
         CASE WHEN list_max(v) > list_min(v)
              THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
  FROM members
"""),
            ("deq", """
  SELECT vec_id, v,
         list_transform(v, x -> mn + floor((x - mn) / scale + 0.5) * scale) AS dv
  FROM params
"""),
            ("short", f"""
  SELECT vec_id, v FROM (
    SELECT d.vec_id, d.v,
           {_cosine('d.dv', 'q.v')} AS qsim
    FROM deq d CROSS JOIN qv q
    QUALIFY row_number() OVER (ORDER BY qsim DESC, d.vec_id ASC) <= {shortlist})
"""),
            ("exact", f"""
  SELECT s.vec_id,
         {_cosine('s.v', 'q.v')} AS sim
  FROM short s CROSS JOIN qv q
"""),
        ],
        f"""SELECT vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim
FROM exact ORDER BY sim DESC, vec_id ASC LIMIT {topk}""",
    )


@register("vector_ivf_sq8_rerank", oracle=_ivf_sq8_oracle())
def vector_ivf_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN read path with BOTH compression rungs
    composed: trained IVF partition probe (scan 1/nlist of the
    corpus — a partition column at scale) → SQ8 quantized cosine over
    the cell's CODES (1 byte/dim scanned) → exact full-precision
    rerank of the 16 survivors (only 16 full vectors ever load). The
    oracle replays training, probe, quantization, shortlist, and
    rerank end-to-end — five independently-oracled layers in one
    flow."""
    from graphragdatapipeline_spark.registry import dround

    e = read_table(spark, sf_dir, "embeddings")
    assigned, cents = vs.kmeans_cells(e, k=4, iters=3)
    q = _query_vec(spark, sf_dir)

    def sqdist(c: list[float]) -> float:
        acc = 0.0
        for a, b in zip(q, c):
            acc += (a - b) * (a - b)  # same left fold as engine/oracle
        return acc

    qcell = min(range(len(cents)), key=lambda ci: (sqdist(cents[ci]), ci))
    members = assigned.filter(F.col("cell") == qcell).select("vec_id")
    cand = e.join(members, "vec_id").filter(F.col("vec_id") != 0)
    short_ids = vs.sq8_topk(vs.sq8_encode(cand), q, k=16).select("vec_id")
    out = vs.cosine_topk(cand.join(short_ids, "vec_id"), q, k=5)
    return out.select("vec_id", dround(F.col("sim"), 6).alias("sim"))


@register(
    "vector_index_latest_wins",
    oracle="""
WITH e1 AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.25 AS FLOAT))
           AS embedding,
         CAST(1 AS BIGINT) AS _epoch
  FROM embeddings WHERE vec_id % 5 = 0
), u AS (
  SELECT vec_id, embedding, CAST(0 AS BIGINT) AS _epoch FROM embeddings
  UNION ALL SELECT vec_id, embedding, _epoch FROM e1
), r AS (
  SELECT vec_id, embedding, _epoch,
         row_number() OVER (PARTITION BY vec_id ORDER BY _epoch DESC) AS rn
  FROM u
)
SELECT vec_id, _epoch AS epoch_kept,
       floor(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * 1000000 + 0.5) / 1000000 AS norm
FROM r WHERE rn = 1
""",
)
def vector_index_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSERT resolution of the streaming vector index (r12): two
    simulated index epochs — epoch 0 is the full collection, epoch 1
    redelivers every fifth id with a shifted vector (the re-embedded-
    document shape the reference handles by full collection re-upsert,
    ingest_vector_db.py:181-204) — merged through the PRODUCTION
    latest-wins window (streaming.ops.latest_wins, the exact
    expression read_vector_index runs over committed epochs). The
    oracle replays the epoch simulation and the window in SQL and
    value-checks which epoch won per id plus the surviving vector's
    norm — so a latest-wins regression (wrong order, wrong tie rule,
    lost upsert) flips epoch_kept or the norm and fails the hash. The
    streamed twin of this semantics (real micro-batches, compaction,
    tails) is pinned in tests/test_streaming.py's three
    vector_index_sink tests."""
    from graphragdatapipeline_spark.streaming.ops import latest_wins

    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e0 = e.withColumn("_epoch", F.lit(0).cast("bigint"))
    e1 = (
        e.filter(F.col("vec_id") % 5 == 0)
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: (x.cast("double") + F.lit(0.25)).cast("float")
            ).alias("embedding"),
        )
        .withColumn("_epoch", F.lit(1).cast("bigint"))
    )
    merged = latest_wins(e0.unionByName(e1), "vec_id")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    return merged.select(
        "vec_id",
        F.col("_epoch").alias("epoch_kept"),
        dround(vs.l2_norm(ed), 6).alias("norm"),
    )


@register(
    "vector_index_tail_read",
    oracle=with_ctes(
        [
            ("comp", """
  SELECT vec_id, embedding, CAST(0 AS BIGINT) AS _epoch FROM embeddings
"""),
            ("t1", """
  SELECT vec_id,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.25 AS FLOAT))
           AS embedding,
         CAST(1 AS BIGINT) AS _epoch
  FROM embeddings WHERE vec_id % 7 = 0
"""),
            ("t2", """
  SELECT vec_id, CAST(NULL AS FLOAT[]) AS embedding,
         CAST(2 AS BIGINT) AS _epoch
  FROM embeddings WHERE vec_id % 11 = 0
"""),
            ("t3", """
  SELECT vec_id,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) - 0.5 AS FLOAT))
           AS embedding,
         CAST(3 AS BIGINT) AS _epoch
  FROM embeddings WHERE vec_id % 33 = 0
"""),
            ("tail", """
  SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
"""),
            ("tw", """
  SELECT vec_id, embedding, _epoch,
         row_number() OVER (PARTITION BY vec_id ORDER BY _epoch DESC) AS rn
  FROM tail
"""),
            ("live_tail", """
  SELECT vec_id, embedding, _epoch FROM tw WHERE rn = 1 AND embedding IS NOT NULL
"""),
            ("kept", """
  SELECT c.vec_id, c.embedding, c._epoch FROM comp c
  WHERE NOT EXISTS (SELECT 1 FROM tail t WHERE t.vec_id = c.vec_id)
"""),
            ("v", """
  SELECT * FROM kept UNION ALL SELECT * FROM live_tail
"""),
        ],
        """SELECT vec_id, _epoch AS epoch_kept,
       floor(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * 1000000 + 0.5) / 1000000 AS norm
FROM v""",
    ),
)
def vector_index_tail_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAIL-BOUNDED view resolution of the streaming vector index (the
    r13 read/probe shape): the full collection simulates the compacted
    generation (unique non-tombstoned ids — the fold contract), and a
    three-epoch tail carries upserts (every 7th id, epoch 1),
    tombstones (every 11th id, epoch 2), and re-inserts after a
    tombstone (every 33rd id, epoch 3 — so %33 ids survive with the
    epoch-3 vector while the other %11 ids are absent). Runs the exact
    production composition (streaming.ops.tail_bounded_view: compacted
    rows anti-joined on tail ids ∪ live tail winners) and value-checks
    which epoch won per id plus the surviving vector's norm. The
    oracle replays the anti-join, the tail window, and the tombstone
    filter in SQL — a regression in any branch (anti-join dropping too
    much/little, wrong tail winner, tombstones leaking into or a
    re-insert missing from the view) flips membership, epoch_kept, or
    the norm and fails the hash. Complements `vector_index_latest_wins`
    (the pre-compaction full-window shape); the disk-backed twin with
    real micro-batches is pinned in
    test_read_vector_index_tail_bounded_equals_full_window."""
    from graphragdatapipeline_spark.streaming.ops import tail_bounded_view

    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    comp = e.withColumn("_epoch", F.lit(0).cast("bigint"))

    def shifted(delta: float, epoch: int, mod: int) -> DataFrame:
        return (
            e.filter(F.col("vec_id") % mod == 0)
            .select(
                "vec_id",
                F.transform(
                    "embedding",
                    lambda x: (x.cast("double") + F.lit(delta)).cast("float"),
                ).alias("embedding"),
            )
            .withColumn("_epoch", F.lit(epoch).cast("bigint"))
        )

    tomb = (
        e.filter(F.col("vec_id") % 11 == 0)
        .select("vec_id", F.lit(None).cast("array<float>").alias("embedding"))
        .withColumn("_epoch", F.lit(2).cast("bigint"))
    )
    tail = shifted(0.25, 1, 7).unionByName(tomb).unionByName(shifted(-0.5, 3, 33))
    view = tail_bounded_view(comp, tail, "vec_id", "embedding")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    return view.select(
        "vec_id",
        F.col("_epoch").alias("epoch_kept"),
        dround(vs.l2_norm(ed), 6).alias("norm"),
    )


@register(
    "vector_knn_batch",
    oracle="""
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % 50 <> 0
), s AS (
  SELECT q.q_id, c.vec_id,
         list_dot_product(cv, qv)
           / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
           AS sim
  FROM c, q
), r AS (
  SELECT q_id, vec_id, sim,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
  FROM s
)
SELECT q_id, vec_id, floor(sim * 1000000 + 0.5) / 1000000 AS sim, rank
FROM r WHERE rank <= 5
""",
)
def vector_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN (cosine_topk_batch): exact cosine top-5 for a TABLE
    of queries (every 50th id) against the rest of the collection in
    ONE corpus pass — the retrieval-eval / reference-corpus-dedup
    shape, vs vector_knn_bruteforce's single query vector. The fold
    scorer is bit-compatible with the DuckDB cross-join + row_number
    replay."""
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.filter(F.col("vec_id") % 50 != 0)
    out = vs.cosine_topk_batch(corpus, queries, k=5)
    return out.select(
        "q_id", "vec_id", dround(F.col("sim"), 6).alias("sim"), "rank"
    )
