"""Vector similarity layer (SURVEY §2.11, V1–V4) + ANN extensions.

The reference's vector store is ChromaDB with cosine distance
(defs/resources.py:96-136; query at scripts/query_embeddings.py:52-58).
Here the collection is a DataFrame (id, embedding array<float>, …);
similarity is a native column expression (zip_with + aggregate — pure
JVM fold, no UDF), top-k is orderBy+limit, and the scale paths are:

- partition-pruned search (IVF-style): restrict the scan to the
  query's cell/partition before scoring — at 100 TB this is partition
  pruning on the cell id, reading 1/nlist of the data;
- embedding near-dup: self-join bounded by a blocking key so the
  O(n²) never materializes.

Embedding generation (V1/V2) ships as a deterministic hash-projection
pandas UDF — the one embedder every vector query and its oracle use,
because correctness gates need determinism (SURVEY §7.3).
"""

from __future__ import annotations

import math
from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphragdatapipeline_spark.session import run_concurrently


def _q6(x: float) -> float:
    """Round to 6 dp the portable way (floor(x·10⁶ + 0.5) / 10⁶), as the
    k-means centroid update and its DuckDB replay both do."""
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def _sq_dist(a: list[float], b: list[float]) -> float:
    """Driver-side squared L2 distance as a plain left fold, the op
    order of the engine's fold expressions and of the DuckDB oracle
    (builtin sum() compensates its rounding from Python 3.12 on)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def dot_product(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (bit-compatible with DuckDB's
    list_dot_product for the oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return dot_product(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """V3 — brute-force cosine top-k (the exact baseline; Chroma
    n_results=8 default per README.md:459). One scan, one narrow
    TopK sort — Spark's TakeOrderedAndProject keeps only k rows per
    partition, so this scales linearly with no full sort.

    Scores with the zip_with + aggregate fold, bit-compatible with the
    DuckDB oracles (list_dot_product is the same sequential left
    fold). A NULL embedding scores NULL and sorts last; a zero-norm
    one raises DIVIDE_BY_ZERO under ANSI (the Spark 4 default)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col), q)
    return (
        embeddings.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Batch k-NN: exact cosine top-k for a whole TABLE of queries in
    one corpus pass — the retrieval-eval / reference-dedup shape where
    per-query probe loops (one driver round-trip each) stop scaling.
    Output: (q_id, vec_id, sim, rank), rank 1..k per query, ordered by
    (sim desc, id asc) — the cosine_topk total order.

    The query table is broadcast into a cross join, scored with the
    cosine_topk fold and ranked with one window shuffle on q_id —
    bit-compatible with the DuckDB replay (the `vector_knn_batch`
    oracle). The cross join materializes |corpus| × |queries| scored
    rows. Degenerate rows follow the fold: NULL vectors score NULL
    (ranked last), zero-norm ones raise under ANSI."""
    q = F.broadcast(queries.select(q_id_col, q_vec_col))
    scored = corpus.select(id_col, vec_col).crossJoin(q).select(
        q_id_col,
        id_col,
        cosine_similarity(F.col(vec_col), F.col(q_vec_col)).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "sim", "rank")
    )


def ivf_assignments(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF cell statistics: per-cell centroid (element-wise mean) via
    posexplode → (cell, dim) partial agg → re-assemble. The shuffle
    carries cells × dims rows, independent of corpus size."""
    dims = (
        embeddings.select(F.col(cell_col), F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(cell_col, "dim")
        .agg(F.avg("x").alias("mean_x"))
    )
    return (
        dims.groupBy(cell_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mean_x"))).alias("_d")
        )
        .select(
            cell_col,
            F.transform("_d", lambda s: s["mean_x"]).alias("centroid"),
        )
    )


def partition_pruned_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    cell: int | str,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style search: score only the query's cell. With the
    collection written partitionBy(cell_col), the filter becomes
    partition pruning — the scan reads 1/nlist of a 100 TB corpus."""
    return cosine_topk(
        embeddings.filter(F.col(cell_col) == cell), query_vec, k, id_col, vec_col
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: blocked self-join (same block key →
    equi join, never a cross join), cosine ≥ threshold.

    Cost is sum over blocks of |block|² — ONE hot block (a skewed LSH
    bucket, a dominant label) makes the whole job quadratic. Pass
    ``max_block`` to drop blocks above the cap before the join, the
    standard production guardrail: mega-clusters are near-total
    duplicates anyway and are handled by cluster-level sampling, not
    pairwise scoring. Measured here: a 16-bucket skew at 20k vectors
    is 220 s pairwise; capped, it returns in seconds."""
    if max_block is not None:
        sizes = embeddings.groupBy(F.col(block_col)).agg(
            F.count(F.lit(1)).alias("_bn")
        )
        embeddings = (
            embeddings.join(F.broadcast(sizes), block_col)
            .filter(F.col("_bn") <= max_block)
            .drop("_bn")
        )
    # Per-vector norms are computed map-side BEFORE the self-join:
    # sqrt(dot(v,v)) once per vector instead of once per PAIR — the
    # pairwise hot loop then evaluates a single interpreted
    # higher-order fold (the cross dot product) per candidate instead
    # of three. Bit-identical to cosine_similarity: same fold order,
    # same operands, so sqrt(aa)*sqrt(bb) is the same double either
    # way (pinned by the oracle parity of every consumer).
    ed = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(dot_product(ed, ed))
    a = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("a"),
        ed.alias("va"),
        norm.alias("_na"),
    )
    b = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("b"),
        ed.alias("vb"),
        norm.alias("_nb"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cosine",
            dot_product(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("blk", "a", "b", "cosine")
    )


def embed_text_udf(dim: int = 64):
    """V1/V2 — deterministic hash-projection embedding UDF
    (string → array<float>, L2-normalized). Stands in for the
    reference's SentenceTransformer batch encoder
    (chroma_helpers.py:36-81): same dataflow (Arrow-batched, executor-
    local state, normalized output; None rows pass through as None),
    deterministic output for tests and oracles."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def _embed(texts):  # type: ignore[no-untyped-def]
        import hashlib
        import math

        def one(text):
            if text is None:
                return None
            vec = []
            for i in range(dim):
                h = hashlib.md5(f"{i}|{text}".encode("utf-8")).hexdigest()
                vec.append(int(h[:8], 16) / 2**32 - 0.5)
            norm = math.sqrt(sum(x * x for x in vec)) or 1.0
            return [x / norm for x in vec]

        return texts.map(one)

    return _embed


def upsert_dedup(new: DataFrame, existing: DataFrame, id_col: str) -> DataFrame:
    """V4/J8 — upsert with id-dedup: left-anti against existing ids,
    union (reference ingest_community_summaries.py:135-178)."""
    fresh = new.join(existing.select(id_col), id_col, "left_anti")
    return existing.unionByName(fresh, allowMissingColumns=True)


def lsh_hyperplane_buckets(
    embeddings: DataFrame,
    hyperplanes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    h_id_col: str = "h_id",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH: each vector's
    bucket is the bit signature of sign(dot(v, h_r)) over R broadcast
    hyperplanes. Cosine-similar vectors collide with probability
    1 - angle/pi per bit; ANN search probes only the query's bucket
    (plus Hamming-1 neighbors for higher recall).

    RETIRED from the registered query path (round 8): the crossJoin +
    groupBy formulation shuffles (docs × R) rows, while
    `lsh_signature_col` computes the identical bucket as a per-row
    expression with zero shuffle. Kept only as the independent
    contrast formulation for
    `test_lsh_signature_col_matches_bucket_join`.

    The complement of IVF (ivf_assign): LSH needs no training pass;
    IVF adapts to the data distribution."""
    h = F.broadcast(
        hyperplanes.select(
            F.col(h_id_col).alias("_h_id"), F.col(vec_col).alias("_h")
        )
    )
    ed = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    hd = F.transform(F.col("_h"), lambda x: x.cast("double"))
    bit = F.when(dot_product(ed, hd) > 0, F.pow(F.lit(2.0), F.col("_h_id") - 1)).otherwise(
        F.lit(0.0)
    )
    return (
        embeddings.crossJoin(h)
        .groupBy(id_col)
        .agg(F.sum(bit).cast("long").alias("bucket"))
    )


def lsh_signature_col(
    hyperplanes: list[tuple[int, list[float]]], vec_col: Column
) -> Column:
    """Map-side LSH signature: the hyperplanes ship as literal arrays
    (R × dim floats — trivially broadcast inside the plan), so the
    bucket is a per-row expression with ZERO shuffle — no crossJoin,
    no groupBy, no join back to the corpus. This is the 100 TB shape
    for signature computation: at scale the signature is computed once
    at ingest and stored as a partition column; this expression is
    exactly that ingest-time computation."""
    ed = F.transform(vec_col, lambda x: x.cast("double"))
    bucket = F.lit(0).cast("long")
    for h_id, h_vec in hyperplanes:
        hv = F.array(*[F.lit(float(x)) for x in h_vec])
        bucket = bucket + F.when(
            dot_product(ed, hv) > 0, F.lit(1 << (int(h_id) - 1)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_probe_topk(
    embeddings: DataFrame,
    hyperplanes: DataFrame,
    query_vec: list[float],
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    h_id_col: str = "h_id",
) -> DataFrame:
    """End-to-end ANN read path: LSH bucket probe with Hamming-1
    neighbor expansion + exact cosine rerank (reference read-path
    parity: scripts/query_embeddings.py:52-58 top-8 cosine, here the
    sub-linear variant of cosine_topk).

    1. The query's bucket is computed driver-side against the R
       hyperplanes (R × dim floats — collecting them is reading the
       index metadata, not the corpus).
    2. Probe set = query bucket + its R Hamming-1 neighbors: one
       flipped sign bit is the most likely LSH error for a true
       neighbor, so probing them trades R extra buckets for most of
       the lost recall (standard multi-probe LSH).
    3. Corpus rows are filtered to the probe set via the map-side
       signature expression — with the collection partitioned/stored
       by bucket this becomes partition pruning, reading (R+1)/2^R of
       a 100 TB corpus — then exactly reranked with cosine top-k
       (TakeOrderedAndProject: k rows per partition, no global sort).

    Same sequential-fold dot product as the DuckDB oracle, so sign
    decisions (and therefore bucket membership) are bit-compatible."""
    h_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in hyperplanes.select(h_id_col, vec_col).collect()
    ]
    qbucket = 0
    for h_id, h_vec in h_rows:
        acc = 0.0
        for a, b in zip(query_vec, h_vec):
            acc += a * b  # same left-fold order as dot_product / DuckDB
        if acc > 0:
            qbucket |= 1 << (h_id - 1)
    # Flip the bit each hyperplane actually owns (1 << (h_id-1)), not
    # positional range(R): with gapped or re-numbered h_ids a
    # positional flip would probe buckets no signature can produce,
    # silently losing multi-probe recall.
    probe = [qbucket] + [qbucket ^ (1 << (h_id - 1)) for h_id, _ in h_rows]
    sig = lsh_signature_col(h_rows, F.col(vec_col))
    cand = embeddings.filter(sig.isin(probe))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def nearest_centroid_col(cents: list[list[float]], vec_col: Column) -> Column:
    """Map-side nearest-centroid assignment over broadcast centroid
    literals: the same sequential-fold squared distance as kmeans_cells'
    fold path (bit-compatible with the DuckDB replay), first-min ties
    to the lowest centroid id. Zero shuffle — the 100 TB encode shape
    (centroids are index metadata; assignment is a per-row expression,
    at scale computed once at ingest and stored)."""
    ed = F.transform(vec_col, lambda x: x.cast("double"))
    dists = []
    for c in cents:
        ca = F.array(*[F.lit(float(x)) for x in c])
        diff = F.zip_with(ed, ca, lambda a, b: (a - b) * (a - b))
        dists.append(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))
    darr = F.array(*dists)
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def _ranked_cells(
    cents: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The query's ``nprobe`` nearest IVF cells, ranked driver-side over
    the centroid metadata (same squared distance as the ingest
    assignment, ties to the lowest cell id)."""
    ranked = sorted(range(len(cents)), key=lambda i: (_sq_dist(query_vec, cents[i]), i))
    return ranked[: max(1, nprobe)]


def residual_col(
    cents: list[list[float]], vec_col: Column, cell_col: Column | None = None
) -> Column:
    """IVF residual (Jégou et al. 2011, IVFADC): v − centroid[cell],
    entirely map-side over broadcast centroid literals. ``cell_col``
    supplies a precomputed assignment (encode-at-ingest); omitted, the
    nearest centroid is computed inline with the same fold distance as
    the ingest path. Residual subtraction is one IEEE op per component
    on both engines — bit-compatible with the DuckDB list_zip replay."""
    carr = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    cell = (
        cell_col if cell_col is not None else nearest_centroid_col(cents, vec_col)
    )
    cvec = F.element_at(carr, cell.cast("int") + 1)
    ed = F.transform(vec_col, lambda x: x.cast("double"))
    return F.zip_with(ed, cvec, lambda a, b: a - b)


def pq_train(
    embeddings: DataFrame,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebook training (Jégou et al. 2011, the
    memory-compression ANN scale path the reference's Chroma store
    gets from its HNSW backend): split the dim-d space into m
    contiguous subspaces and run the SAME deterministic quantized
    k-means (kmeans_cells) independently in each. Returns m codebooks
    of k centroids of dim/m floats — m·k·(d/m) = k·d floats of index
    metadata regardless of corpus size.

    At 100 TB the win is storage + bandwidth: each vector compresses
    to m small codes (m bytes at k≤256), so the candidate scan of an
    ADC query reads codes, not vectors — a 4-byte-per-float, d-float
    embedding shrinks ~(4d)/m ×. Training cost is m independent
    kmeans runs over sliced views of one corpus scan per iteration;
    they run concurrently (``session.run_concurrently``, up to 4 driver
    threads) and return their codebooks in subspace order.

    Sizing k (measured, r10 codebook sweep): on clustered corpora the
    true neighbors sit closer together than a coarse quantizer's grid
    pitch, and recall@8 at fixed scan cost rose 0.27 → 0.56 going
    k=16 → k=256 — size codebooks to the intra-cluster distance
    scale. Production default: k=256 (the standard 1-byte code),
    shortlist ≈ 16·k_results on the rerank path; k must also respect
    the ~39-training-points-per-centroid floor, which is what caps
    the sf0.01 registered queries at k=16.

    ``centroids`` (r13) switches to RESIDUAL training — the IVFADC
    form (Jégou 2011 §IV): codebooks are trained on v − centroid[cell]
    instead of raw vectors. Same codebook budget, finer effective
    pitch exactly where it matters: on clustered corpora the raw
    vectors span the whole space (the codebooks spend their k entries
    re-describing the coarse structure IVF already captured) while the
    residuals concentrate near the origin at the intra-cluster
    distance scale — the r12 clustered-regime soft spot (recall@8
    0.71 at m=2, k=256) is exactly what this recovers. Query with
    ivfpq_residual_topk, which builds per-probed-cell distance tables
    from the query's residual."""
    if centroids is not None:
        # Materialize residuals ONCE: k-means makes (iters+2) scans per
        # subspace, and recomputing the |centroids|-branch assignment
        # fold on every scan multiplies the whole training by the
        # coarse-quantizer width (measured: 57 s vs 3 s raw at 20 k
        # vectors, k_c=16). The production analog is encode-at-ingest
        # (residuals stored beside the codes — the r12 code_cols
        # lesson); localCheckpoint is that materialization in-session.
        # Eager: the concurrent subspace trainings below must find the
        # residuals already materialized (a lazy checkpoint would be
        # raced by their first actions).
        embeddings = embeddings.select(
            F.col(id_col),
            residual_col(centroids, F.col(vec_col)).alias(vec_col),
        ).localCheckpoint(eager=True)
        # Residuals have the coarse centroids' dimensionality — no need
        # to pay a driver round-trip just to read a row's length.
        dim = len(centroids[0])
    else:
        dim = None
    # ONE TakeOrdered seeds every subspace (r14): each subspace k-means
    # inits from the k lowest-id rows of ITS slice, and slicing commutes
    # with the row pick — so collecting the k lowest-id FULL rows once
    # and slicing driver-side yields bit-identical seeds while replacing
    # m init jobs (plus the raw path's dim-probing first()) with one.
    init_rows = (
        embeddings.orderBy(id_col)
        .limit(k)
        .select(F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    if not init_rows:
        raise ValueError("pq_train: embeddings corpus is empty")
    if dim is None:
        dim = len(init_rows[0]["v"])
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    subdim = dim // m

    def _train_sub(mi: int) -> list[list[float]]:
        lo = mi * subdim
        seed = [
            [_q6(float(x)) for x in r["v"][lo : lo + subdim]] for r in init_rows
        ]
        sub = embeddings.select(
            F.col(id_col),
            F.slice(F.col(vec_col), mi * subdim + 1, subdim).alias(vec_col),
        )
        _, cents = kmeans_cells(
            sub,
            k=k,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
            init_centroids=seed,
        )
        return cents

    # The m subspace trainings are INDEPENDENT (disjoint slices of the
    # same materialized corpus): run concurrently, their per-iteration
    # jobs overlap instead of serializing (vector_pq_rerank_topk at
    # sf0.01 on a 4-vCPU host: 2.65 s vs 3.23 s sequential).
    # Each subspace is deterministic, so the codebooks are the
    # sequential loop's.
    return run_concurrently(
        embeddings.sparkSession, [partial(_train_sub, mi) for mi in range(m)]
    )


def pq_encode_cols(
    books: list[list[list[float]]], vec_col: Column
) -> list[Column]:
    """Encode a vector column into m PQ codes — one map-side
    nearest-centroid expression per subspace, zero shuffle."""
    subdim = len(books[0][0])
    return [
        nearest_centroid_col(b, F.slice(vec_col, mi * subdim + 1, subdim))
        for mi, b in enumerate(books)
    ]


def pq_adc_topk(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_cols: list[str] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query is
    NOT quantized — per subspace, a k-entry table of exact squared
    distances query-subvector → centroid is computed driver-side
    (m·k doubles of metadata, same left fold as the engine/oracle),
    and each corpus row's approximate distance is the sum of m table
    lookups at its codes. The scan evaluates m array-index lookups
    per row instead of a d-dim fold — and at scale reads the m-byte
    code columns instead of the 4d-byte vectors. TakeOrdered keeps k
    rows per partition; no global sort. Exact-rerank composes on top
    exactly like lsh_probe_topk's rerank stage.

    ``code_cols`` (r12) is the encode-at-ingest path the docstring's
    scale claim was always about: pass columns previously materialized
    with pq_encode_cols and the probe scans m stored ints per row
    instead of re-running the k-way nearest-centroid fold per query —
    at k=256 the inline fold is 256 zip_with/aggregate branches per
    subspace and dominates probe wall (measured at the 200 k-vector
    fixture: the k=256 inline probe is minutes/query, the stored-code
    probe sub-second arithmetic plus the scan). Stored and inline
    codes are identical by construction (pq_encode_cols is the same
    expression; pinned in test_pq_stored_codes_match_inline)."""
    subdim = len(books[0][0])
    score: Column | None = None
    for mi, book in enumerate(books):
        qsub = query_vec[mi * subdim : (mi + 1) * subdim]
        table = [_sq_dist(qsub, c) for c in book]
        code = (
            F.col(code_cols[mi])
            if code_cols is not None
            else nearest_centroid_col(
                book, F.slice(F.col(vec_col), mi * subdim + 1, subdim)
            )
        )
        t = F.array(*[F.lit(float(x)) for x in table])
        term = F.element_at(t, code + 1)
        score = term if score is None else score + term
    return (
        embeddings.select(F.col(id_col), score.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 8,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_cols: list[str] | None = None,
) -> DataFrame:
    """The complete PQ read path: ADC shortlist (cheap scan over
    codes) → exact cosine rerank of the `shortlist` survivors — the
    standard IVFPQ/FAISS search shape. Only `shortlist` rows ever
    load their full vectors; at 100 TB that is the difference between
    scanning codes (m bytes/row) and scanning embeddings
    (4·dim bytes/row), with exactness restored on the short list.
    ``code_cols`` forwards to pq_adc_topk's encode-at-ingest path
    (r12) — the DataFrame must then carry both the stored code
    columns (shortlist scan) and the vector column (rerank)."""
    cand_ids = pq_adc_topk(
        embeddings,
        books,
        query_vec,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        code_cols=code_cols,
    ).select(id_col)
    cand = embeddings.join(cand_ids, id_col)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivfpq_residual_topk(
    embeddings: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 8,
    nprobe: int = 1,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    code_cols: list[str] | None = None,
) -> DataFrame:
    """The complete IVFADC read path (Jégou 2011 §IV, the FAISS
    IVFPQ default): the query's ``nprobe`` nearest IVF cells are
    ranked driver-side, and within each probed cell the asymmetric
    distance uses the QUERY'S RESIDUAL against that cell's centroid —
    per (cell, subspace) a k-entry table of exact squared distances
    (nprobe·m·k doubles of metadata, left-fold arithmetic shared with
    the oracle), per-row score = m table lookups selected by the row's
    cell. ADC shortlist → exact cosine rerank on the original vectors,
    like pq_rerank_topk. ``books`` must come from
    pq_train(..., centroids=cents) — residual codebooks; ``cell_col``
    / ``code_cols`` are the encode-at-ingest path (cell and residual
    codes stored at write time — at scale the scan reads m+1 small
    ints per row and prunes to the probed cells' partitions, never
    touching vectors until the rerank)."""
    cells = _ranked_cells(cents, query_vec, nprobe)
    cell = (
        F.col(cell_col)
        if cell_col is not None
        else nearest_centroid_col(cents, F.col(vec_col))
    )
    cand = embeddings.withColumn("_cell", cell).filter(F.col("_cell").isin(cells))
    score = ivfpq_adc_score_col(
        cents, books, query_vec, cells, F.col("_cell"), vec_col, code_cols
    )
    sl = (
        cand.select(F.col(id_col), score.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    return cosine_topk(embeddings.join(sl, id_col), query_vec, k, id_col, vec_col)


def ivfpq_adc_score_col(
    cents: list[list[float]],
    books: list[list[list[float]]],
    query_vec: list[float],
    cells: list[int],
    cell_col: Column,
    vec_col: str,
    code_cols: list[str] | None = None,
) -> Column:
    """The per-row IVFADC asymmetric distance as one column expression
    (factored from ivfpq_residual_topk in r13 so the streaming index
    probe shares it): per probed cell and subspace, a k-entry table of
    exact squared distances from the QUERY'S residual against that
    cell's centroid (driver-side, the left fold shared with the
    oracle), shipped as literal arrays behind a WHEN chain on the
    row's cell; per-row score = Σ_m table[cell][code]. ``code_cols``
    reads stored residual codes (encode-at-ingest); omitted, codes are
    re-derived inline from the vector column."""
    subdim = len(books[0][0])
    res = (
        None
        if code_cols is not None
        else residual_col(cents, F.col(vec_col), cell_col)
    )
    score: Column | None = None
    for mi, book in enumerate(books):
        table_by_cell: Column | None = None
        for c in cells:
            qres = [q - cc for q, cc in zip(query_vec, cents[c])]
            qsub = qres[mi * subdim : (mi + 1) * subdim]
            table = [_sq_dist(qsub, cent) for cent in book]
            arr = F.array(*[F.lit(float(x)) for x in table])
            table_by_cell = (
                F.when(cell_col == c, arr)
                if table_by_cell is None
                else table_by_cell.when(cell_col == c, arr)
            )
        code = (
            F.col(code_cols[mi])
            if code_cols is not None
            else nearest_centroid_col(
                book, F.slice(res, mi * subdim + 1, subdim)
            )
        )
        term = F.element_at(table_by_cell, code + 1)
        score = term if score is None else score + term
    return score


def _encode_cells(
    cents: list[list[float]],
    vec_col: Column,
    books: list[list[list[float]]] | None = None,
) -> Column:
    """Nearest-centroid encode as ONE struct column (cell, pq_0 ..
    pq_{m-1}): each row's cell and, given the residual codebooks
    ``books``, its m residual-PQ codes. NULL vectors (tombstones) get
    NULL fields. The one owner of the encode kernel choice, made by
    centroid count as kmeans_cells and vector_index_sink both need it:

    - up to 8 centroids: the fold expressions (nearest_centroid_col,
      residual_col → pq_encode_cols), bit-compatible with the DuckDB
      replay — the registered k=4 trainings take this path;
    - above 8: one float64 numpy matmul per Arrow batch, argmin over
      ||c||² − 2·x·c (np.argmin keeps the first minimum, so ties go
      to the lowest id like the fold). The fold costs k·dim
      interpreted work per row and its literal-array expression grows
      with k: at the 202 k-vector drain with k=16 the fold encode was
      93× slower (SCALE.md). numpy sums in another order, so an
      EQUIDISTANT boundary vector may take the other, equally near
      cell.

    Callers read the fields off the struct, so the kernel runs once
    per row."""
    if len(cents) <= 8:
        cell = nearest_centroid_col(cents, vec_col)
        codes = (
            []
            if books is None
            else pq_encode_cols(books, residual_col(cents, vec_col, cell))
        )
        return F.struct(
            cell.alias("cell"), *[c.alias(f"pq_{i}") for i, c in enumerate(codes)]
        )

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def argmin_l2(x, mat):
        # ||x||² is constant per row and dropped
        dist = (mat * mat).sum(axis=1)[None, :] - 2.0 * (x @ mat.T)
        return np.argmin(dist, axis=1)

    cmat = np.asarray(cents, dtype=np.float64)  # k × dim
    bmats = [np.asarray(b, dtype=np.float64) for b in books or []]  # k × subdim each
    fields = ["cell"] + [f"pq_{i}" for i in range(len(bmats))]

    @pandas_udf(", ".join(f"{f} INT" for f in fields))
    def _enc(vecs):  # type: ignore[no-untyped-def]
        import pandas as pd

        out = pd.DataFrame(
            {f: pd.Series([None] * len(vecs), dtype="Int32") for f in fields}
        )
        pos = np.flatnonzero(vecs.notna().to_numpy())
        if len(pos):
            x = np.vstack(vecs.iloc[pos].to_numpy()).astype(np.float64)
            cells = argmin_l2(x, cmat)
            out.iloc[pos, 0] = cells
            r = x - cmat[cells]
            for mi, bm in enumerate(bmats):
                sd = bm.shape[1]
                out.iloc[pos, mi + 1] = argmin_l2(r[:, mi * sd : (mi + 1) * sd], bm)
        return out

    return _enc(vec_col)


def sq8_encode(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization (SQ8) → (id, codes
    array<int>, mn, scale): each vector is affinely mapped onto
    0..255 by its own min/max (code = ⌊(x−mn)/scale + ½⌋, scale =
    (mx−mn)/255, degenerate constant vectors get scale 1). The
    standard 4×-compression rung below PQ: at 100 TB the search scan
    reads 1 byte/dim + two doubles/row instead of 4 bytes/dim, with
    reconstruction error bounded by scale/2 per component. Entirely
    map-side — no model, no shuffle, encode-on-ingest."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    enc = (
        df.withColumn("_v", vd)
        .withColumn("_mn", F.array_min("_v"))
        .withColumn("_mx", F.array_max("_v"))
        .withColumn(
            "scale",
            F.when(
                F.col("_mx") > F.col("_mn"),
                (F.col("_mx") - F.col("_mn")) / F.lit(255.0),
            ).otherwise(F.lit(1.0)),
        )
        .withColumn(
            "codes",
            F.transform(
                F.col("_v"),
                lambda x: F.floor((x - F.col("_mn")) / F.col("scale") + F.lit(0.5))
                .cast("int"),
            ),
        )
    )
    return enc.select(F.col(id_col), "codes", F.col("_mn").alias("mn"), "scale")


def sq8_topk(
    codes: DataFrame,
    query_vec: list[float],
    k: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k over SQ8 codes: each row is dequantized on the fly
    (x̂ᵢ = mn + codeᵢ·scale — two flops per component on top of the
    1-byte read) and scored against the EXACT query (asymmetric, like
    ADC: the query is never quantized). Same TakeOrdered shape as the
    exact scan; the win is pure I/O — the code column is ~4× narrower
    than the float vectors, and the full-precision embeddings never
    load. Pair with an exact rerank of the survivors (pq_rerank_topk
    pattern) when recall at the boundary matters."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    deq = F.transform(
        F.col("codes"), lambda c: F.col("mn") + c.cast("double") * F.col("scale")
    )
    sim = (dot_product(deq, q) / (l2_norm(deq) * l2_norm(q))).alias("sim")
    return (
        codes.select(F.col(id_col), sim)
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def kmeans_cells(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centroids: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic distributed k-means (Lloyd's algorithm) — the
    REAL IVF training step (replacing the fixture label standing in as
    the cell id). Returns (assignments DataFrame with a `cell` column,
    final centroids).

    Engineered for cross-engine exactness, the property every other
    oracle here relies on: the centroid update is QUANTIZED — each
    component is first scaled to an exact integer (floor(x·10⁶ + 0.5),
    the portable rounding), summed in int64 (order-independent, unlike
    float partial aggregation), and the mean is one double division
    rounded back to 6 dp. Identical centroids → identical assignments
    on any engine, which is what lets a SQL replay verify the whole
    training loop value-exactly.

    Scale shape: init + centroid updates collect k×dim integers to the
    driver (training metadata, like any Spark-ML-style fit); the
    ASSIGNMENT is a map-side expression over broadcast centroid
    literals — one scan per iteration, zero shuffle beyond the
    (cell, dim) partial-agg whose row count is k·dim, independent of
    corpus size. Empty clusters keep their previous centroid.

    Assignment runs through _encode_cells, which picks the kernel by
    the centroid count: the oracle-exact fold for k ≤ 8 (the
    registered k=4 trainings), the Arrow-batched numpy kernel above
    (pq_train's k=16 codebooks). A NULL embedding gets a NULL cell
    either way."""
    ed = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    if init_centroids is not None:
        # Caller-provided seeds (r14): pq_train's m subspace trainings
        # all init from the SAME k lowest-id rows, so ONE TakeOrdered at
        # the caller replaces m per-subspace init jobs. The caller must
        # pass already-6dp-quantized values identical to what the
        # collect below would produce (pq_train slices + q6-quantizes
        # the exact same collected rows).
        cents = [list(c) for c in init_centroids]
    else:
        init_rows = (
            embeddings.orderBy(id_col)
            .limit(k)
            .select(
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
            )
            .collect()
        )
        cents = [[_q6(float(x)) for x in r["v"]] for r in init_rows]
    if not cents:
        raise ValueError("kmeans_cells: embeddings corpus is empty")
    # Corpus smaller than k: train with the clusters we can seed (the
    # empty-cluster branch below indexes cents[ci], so k must equal
    # len(cents), not the requested count).
    k = len(cents)

    for _ in range(iters):
        assigned = embeddings.select(
            F.col(id_col),
            _encode_cells(cents, F.col(vec_col))["cell"].alias("cell"),
            ed.alias("_v"),
        )
        sums = (
            assigned.select("cell", F.posexplode("_v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("x") * 1_000_000 + 0.5).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        new_cents = []
        for ci in range(k):
            if ci in by_cell:
                dims = by_cell[ci]
                new_cents.append(
                    [
                        _q6(dims[d][0] / (dims[d][1] * 1_000_000))
                        for d in sorted(dims)
                    ]
                )
            else:
                new_cents.append(cents[ci])  # empty cluster: keep centroid
        cents = new_cents

    final = embeddings.select(
        F.col(id_col), _encode_cells(cents, F.col(vec_col))["cell"].alias("cell")
    )
    return final, cents
