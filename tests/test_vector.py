

def test_near_dup_max_block_guardrail(spark):
    from graphragdatapipeline_spark.vector import similarity as vs

    rows = []
    # hot block: 20 identical vectors; small block: 3
    for i in range(20):
        rows.append((i, [1.0, 0.0], "hot"))
    for i in range(100, 103):
        rows.append((i, [0.0, 1.0], "cold"))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    full = vs.embedding_near_dup_pairs(df, 0.99).collect()
    assert len(full) == 20 * 19 // 2 + 3  # hot pairs + cold pairs
    capped = vs.embedding_near_dup_pairs(df, 0.99, max_block=10).collect()
    # hot block dropped entirely; cold block untouched
    assert {(r.a, r.b) for r in capped} == {(100, 101), (100, 102), (101, 102)}


def test_lsh_probe_topk_recall_and_candidate_fraction(spark):
    """Probe-and-rerank must (a) recover planted cosine-near neighbors
    with high recall vs exact bruteforce and (b) score only a fraction
    of the corpus — the whole point of the probe."""
    import numpy as np

    from pyspark.sql import functions as F
    from graphragdatapipeline_spark.vector import similarity as vs

    rng = np.random.default_rng(42)
    dim, n_noise, n_planted, k = 32, 500, 20, 8
    q = rng.normal(size=dim)
    q /= np.linalg.norm(q)
    rows = []
    # planted near-neighbors: q + small noise → cosine ≈ 0.97
    for i in range(n_planted):
        v = q + 0.15 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    # background corpus: random directions (cosine ≈ 0)
    for i in range(n_planted, n_planted + n_noise):
        v = rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    planes = spark.createDataFrame(
        [(r + 1, [float(x) for x in rng.normal(size=dim)]) for r in range(8)],
        "h_id LONG, embedding ARRAY<DOUBLE>",
    )
    qv = [float(x) for x in q]

    exact = {r.vec_id for r in vs.cosine_topk(corpus, qv, k=k).collect()}
    probed = {r.vec_id for r in vs.lsh_probe_topk(corpus, planes, qv, k=k).collect()}
    recall = len(exact & probed) / k
    assert recall >= 0.75, f"recall@{k}={recall} (exact={exact}, probed={probed})"

    # candidate fraction: the probe filter must exclude most of the corpus
    h_rows = [(int(r[0]), [float(x) for x in r[1]]) for r in planes.collect()]
    sig = vs.lsh_signature_col(h_rows, F.col("embedding"))
    qb = 0
    for h_id, h_vec in h_rows:
        if sum(a * b for a, b in zip(qv, h_vec)) > 0:
            qb |= 1 << (h_id - 1)
    probe = [qb] + [qb ^ (1 << i) for i in range(len(h_rows))]
    n_cand = corpus.filter(sig.isin(probe)).count()
    assert n_cand < (n_noise + n_planted) * 0.25, n_cand


def test_lsh_signature_col_matches_bucket_join(spark, sf_dir):
    """The zero-shuffle map-side signature must agree exactly with the
    crossJoin+groupBy formulation for every corpus vector."""
    from pyspark.sql import functions as F
    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.vector import similarity as vs

    e = read_table(spark, sf_dir, "embeddings")
    planes = e.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("h_id"), "embedding"
    )
    joined = vs.lsh_hyperplane_buckets(e, planes)
    h_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in planes.select("h_id", "embedding").collect()
    ]
    mapped = e.select(
        "vec_id", vs.lsh_signature_col(h_rows, F.col("embedding")).alias("bucket")
    )
    diff = joined.alias("a").join(mapped.alias("b"), "vec_id").filter(
        F.col("a.bucket") != F.col("b.bucket")
    )
    assert diff.count() == 0


def test_lsh_signature_col_plan_has_no_exchange(spark, sf_dir):
    """Signature computation is map-side: no Exchange in the plan."""
    from pyspark.sql import functions as F
    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.vector import similarity as vs

    e = read_table(spark, sf_dir, "embeddings")
    planes = [(r + 1, [0.1 * (i - 3) for i in range(8)]) for r in range(4)]
    sig = e.select("vec_id", vs.lsh_signature_col(planes, F.col("embedding")).alias("b"))
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_kmeans_cells_deterministic_and_separates(spark):
    """Quantized k-means: bit-identical across runs, and on clearly
    separated clusters it recovers the planted structure exactly."""
    import numpy as np

    from graphragdatapipeline_spark.vector import similarity as vs

    rng = np.random.default_rng(5)
    rows = []
    centers = [np.array([5.0, 0.0]), np.array([-5.0, 0.0]), np.array([0.0, 5.0])]
    for i in range(90):
        c = centers[i % 3]
        v = c + 0.3 * rng.normal(size=2)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    a1, c1 = vs.kmeans_cells(df, k=3, iters=5)
    a2, c2 = vs.kmeans_cells(df, k=3, iters=5)
    s1 = sorted(tuple(r) for r in a1.collect())
    assert s1 == sorted(tuple(r) for r in a2.collect()) and c1 == c2
    # planted clusters recovered: all points of one residue class share a cell
    by_cell = {}
    for vid, cell in s1:
        by_cell.setdefault(vid % 3, set()).add(cell)
    assert all(len(cells) == 1 for cells in by_cell.values())
    assert len({next(iter(c)) for c in by_cell.values()}) == 3


def test_kmeans_arrow_assignment_matches_fold(spark, sf_dir):
    """Above 8 centroids the encode rule picks the Arrow-batched numpy
    kernel (the 100 TB shape) and at 8 or fewer the fold. A k=9
    training must assign every row, a NULL embedding included, to the
    cell the oracle-exact fold (nearest_centroid_col) gives it under
    the returned centroids. Continuous embeddings have no equidistant
    boundary ties, so ulp-level distance differences cannot flip an
    argmin here. A NULL embedding gets a NULL cell on both paths."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.vector import similarity as vs

    e = read_table(spark, sf_dir, "embeddings")
    null_id = e.agg(F.max("vec_id")).first()[0] + 1
    e = e.unionByName(
        e.limit(1).select(
            F.lit(null_id).alias("vec_id"),
            F.lit(None).cast(e.schema["embedding"].dataType).alias("embedding"),
            "label",
        )
    )

    def runs_kernel(df):
        return "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString()

    assigned, cents = vs.kmeans_cells(e, k=9, iters=3)
    assert len(cents) == 9 and runs_kernel(assigned)
    enc8 = e.select(vs._encode_cells(cents[:8], F.col("embedding"))["cell"])
    assert not runs_kernel(enc8)
    fold = e.select(
        "vec_id", vs.nearest_centroid_col(cents, F.col("embedding")).alias("cell")
    )
    rows = sorted(map(tuple, assigned.collect()))
    assert rows == sorted(map(tuple, fold.collect()))
    assert (null_id, None) in rows


def test_lsh_probe_topk_gapped_hyperplane_ids(spark):
    """Probe bits must come from the actual h_id values (1 << (h_id-1)),
    not positional order: with gapped ids the positional flip probes
    buckets no signature can produce (ADVICE r6). Planes with ids
    {1,3,5} must give the same result as the same planes renumbered
    contiguously {1,2,3} — the signature remaps, but recall must not
    silently vanish."""
    import numpy as np

    from graphragdatapipeline_spark.vector import similarity as vs

    rng = np.random.default_rng(7)
    dim, k = 16, 5
    q = rng.normal(size=dim)
    rows = [
        (i, [float(x) for x in (q + 0.1 * rng.normal(size=dim))])
        for i in range(30)
    ]
    corpus = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    vecs = [[float(x) for x in rng.normal(size=dim)] for _ in range(3)]
    qv = [float(x) for x in q]
    gapped = spark.createDataFrame(
        [(hid, v) for hid, v in zip((1, 3, 5), vecs)],
        "h_id LONG, embedding ARRAY<DOUBLE>",
    )
    contiguous = spark.createDataFrame(
        [(hid, v) for hid, v in zip((1, 2, 3), vecs)],
        "h_id LONG, embedding ARRAY<DOUBLE>",
    )
    got_g = {r.vec_id for r in vs.lsh_probe_topk(corpus, gapped, qv, k=k).collect()}
    got_c = {r.vec_id for r in vs.lsh_probe_topk(corpus, contiguous, qv, k=k).collect()}
    assert got_g == got_c and len(got_c) == k


def test_kmeans_cells_corpus_smaller_than_k(spark):
    """k > |corpus| must clamp to the seedable cluster count instead of
    IndexError-ing in the empty-cluster branch (ADVICE r6); an empty
    corpus raises a clear ValueError."""
    import pytest

    from graphragdatapipeline_spark.vector import similarity as vs

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    assigned, cents = vs.kmeans_cells(df, k=5, iters=2)
    assert len(cents) == 2
    assert {r.cell for r in assigned.collect()} <= {0, 1}

    empty = df.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        vs.kmeans_cells(empty, k=3)


def test_real_embedder_rung_contract(spark):
    """The embedder every vector query uses satisfies the embed
    contract a library encoder would (array<float>, unit L2 norm,
    None passthrough)."""
    import math

    from pyspark.sql import functions as F
    from graphragdatapipeline_spark.vector import similarity as vs

    udf = vs.embed_text_udf(dim=16)

    df = spark.createDataFrame(
        [(0, "hello world"), (1, None), (2, "grete palucca")],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r.emb for r in
            df.select("doc_id", udf(F.col("text")).alias("emb")).collect()}
    assert rows[1] is None
    for k in (0, 2):
        vec = rows[k]
        assert vec is not None and len(vec) >= 16
        assert abs(math.sqrt(sum(x * x for x in vec)) - 1.0) < 1e-5


def test_pq_train_encode_adc_contract(spark):
    """PQ contract on a planted two-cluster corpus: codebooks are
    deterministic across retrains, codes stay in [0, k), and ADC
    ranks the query's own cluster ahead of the far cluster — the
    approximate distance must preserve the coarse geometry even
    though each vector is compressed to m codes."""
    from pyspark.sql import functions as F
    from graphragdatapipeline_spark.vector import similarity as vs

    rows = []
    for i in range(40):  # cluster A around +1 in the first half-space
        base = [1.0 + (i % 7) * 0.01] * 4 + [0.0] * 4
        rows.append((i, base))
    for i in range(40, 80):  # cluster B around -1 in the second half-space
        base = [0.0] * 4 + [-1.0 - (i % 5) * 0.01] * 4
        rows.append((i, base))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    books = vs.pq_train(df, m=2, k=4, iters=2)
    books2 = vs.pq_train(df, m=2, k=4, iters=2)
    assert books == books2  # quantized training is run-deterministic
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    assert all(len(c) == 4 for b in books for c in b)

    codes = df.select(
        "vec_id", *[c.alias(f"code_{i}") for i, c in enumerate(vs.pq_encode_cols(books, F.col("embedding")))]
    ).collect()
    for r in codes:
        assert 0 <= r.code_0 < 4 and 0 <= r.code_1 < 4

    query = [1.0] * 4 + [0.0] * 4  # sits in cluster A
    top = vs.pq_adc_topk(df, books, query, k=10).collect()
    assert len(top) == 10
    assert all(r.vec_id < 40 for r in top)  # all hits from cluster A
    # ADC distances are non-decreasing in rank and far cluster scores worse
    dists = [r.adc_dist for r in top]
    assert dists == sorted(dists)


def test_kmeans_shared_init_matches_per_subspace_init(spark):
    """pq_train's single shared init collect (r14) must seed each
    subspace k-means with exactly what that subspace's own TakeOrdered
    would have collected: train each slice BOTH ways and compare
    centroids AND assignments bit-for-bit."""
    import math

    from pyspark.sql import functions as F
    from graphragdatapipeline_spark.vector import similarity as vs

    def q6(x: float) -> float:
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    rows = [
        (i, [float((i * 13 + d * 5) % 17) / 4.0 - 2.0 for d in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    k, subdim = 4, 4
    init_rows = (
        df.orderBy("vec_id")
        .limit(k)
        .select(
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v")
        )
        .collect()
    )
    for mi in range(2):
        lo = mi * subdim
        seed = [
            [q6(float(x)) for x in r["v"][lo : lo + subdim]] for r in init_rows
        ]
        sub = df.select(
            "vec_id",
            F.slice(F.col("embedding"), lo + 1, subdim).alias("embedding"),
        )
        a_df, a_c = vs.kmeans_cells(sub, k=k, iters=2, init_centroids=seed)
        b_df, b_c = vs.kmeans_cells(sub, k=k, iters=2)
        assert a_c == b_c
        assert sorted(map(tuple, a_df.collect())) == sorted(
            map(tuple, b_df.collect())
        )


def test_pq_adc_matches_table_lookup_locally(spark):
    """ADC scores are exactly the sum of per-subspace table entries at
    each vector's code — recompute driver-side for every row."""
    from pyspark.sql import functions as F
    from graphragdatapipeline_spark.vector import similarity as vs

    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    books = vs.pq_train(df, m=2, k=4, iters=2)
    query = [0.5] * 8
    out = {
        r.vec_id: r.adc_dist
        for r in vs.pq_adc_topk(df, books, query, k=24).collect()
    }
    codes = {
        r.vec_id: (r.c0, r.c1)
        for r in df.select(
            "vec_id",
            vs.pq_encode_cols(books, F.col("embedding"))[0].alias("c0"),
            vs.pq_encode_cols(books, F.col("embedding"))[1].alias("c1"),
        ).collect()
    }

    def table(book, qsub):
        out = []
        for c in book:
            acc = 0.0
            for a, b in zip(qsub, c):
                acc += (a - b) * (a - b)
            out.append(acc)
        return out

    t0, t1 = table(books[0], query[:4]), table(books[1], query[4:])
    for vid, (c0, c1) in codes.items():
        assert out[vid] == t0[c0] + t1[c1]


def test_pq_rerank_recovers_exact_topk(spark):
    """With a shortlist wide enough to cover the query's cluster, the
    ADC-shortlist → exact-rerank path returns exactly the bruteforce
    cosine top-k (the IVFPQ recall contract at full probe width)."""
    from graphragdatapipeline_spark.vector import similarity as vs

    rows = []
    for i in range(40):
        rows.append((i, [1.0 + (i % 7) * 0.01] * 4 + [0.01 * (i % 3)] * 4))
    for i in range(40, 80):
        rows.append((i, [0.0] * 4 + [-1.0 - (i % 5) * 0.01] * 4))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    books = vs.pq_train(df, m=2, k=4, iters=2)
    query = [1.0] * 4 + [0.0] * 4
    exact = [r.vec_id for r in vs.cosine_topk(df, query, k=8).collect()]
    rr = [r.vec_id for r in
          vs.pq_rerank_topk(df, books, query, k=8, shortlist=40).collect()]
    assert rr == exact


def test_pq_stored_codes_match_inline(spark):
    """The encode-at-ingest path (code_cols over pq_encode_cols
    columns) must return exactly the inline-encode results for both
    pq_adc_topk and pq_rerank_topk — stored codes are the same
    expression materialized once, so this is a pure scan-shape swap
    (the 100 TB probe shape: m stored ints per row instead of a k-way
    nearest-centroid fold per query)."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.vector import similarity as vs

    rows = []
    for i in range(60):
        rows.append((i, [1.0 + (i % 7) * 0.01] * 4 + [0.01 * (i % 3)] * 4))
    for i in range(60, 120):
        rows.append((i, [0.0] * 4 + [-1.0 - (i % 5) * 0.01] * 4))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    books = vs.pq_train(df, m=2, k=4, iters=2)
    enc = df.select(
        "vec_id",
        "embedding",
        *[
            c.alias(f"pq_{i}")
            for i, c in enumerate(vs.pq_encode_cols(books, F.col("embedding")))
        ],
    )
    query = [1.0] * 4 + [0.0] * 4
    inline_adc = [tuple(r) for r in vs.pq_adc_topk(df, books, query, k=10).collect()]
    stored_adc = [
        tuple(r)
        for r in vs.pq_adc_topk(
            enc, books, query, k=10, code_cols=["pq_0", "pq_1"]
        ).collect()
    ]
    assert stored_adc == inline_adc
    inline_rr = [
        r.vec_id for r in vs.pq_rerank_topk(df, books, query, k=8, shortlist=20).collect()
    ]
    stored_rr = [
        r.vec_id
        for r in vs.pq_rerank_topk(
            enc, books, query, k=8, shortlist=20, code_cols=["pq_0", "pq_1"]
        ).collect()
    ]
    assert stored_rr == inline_rr


def test_sq8_reconstruction_error_bound(spark):
    """Dequantized components sit within scale/2 of the originals —
    the SQ8 contract that bounds the similarity perturbation."""
    from graphragdatapipeline_spark.vector import similarity as vs

    df = spark.createDataFrame(
        [(1, [0.13, -2.7, 3.14, 0.0]), (2, [5.0, 5.0, 5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    enc = {r.vec_id: r for r in vs.sq8_encode(df).collect()}
    orig = {1: [0.13, -2.7, 3.14, 0.0], 2: [5.0, 5.0, 5.0, 5.0]}
    for vid, r in enc.items():
        assert all(0 <= c <= 255 for c in r.codes)
        for c, x in zip(r.codes, orig[vid]):
            assert abs((r.mn + c * r.scale) - x) <= r.scale / 2 + 1e-12
    # constant vector: degenerate range → scale 1, all codes 0, exact
    assert enc[2].scale == 1.0 and enc[2].codes == [0, 0, 0, 0]
    assert enc[2].mn == 5.0


def test_sq8_topk_recall_vs_exact(spark, sf_dir):
    """SQ8 top-8 vs exact top-8 on the fixture corpus: quantization at
    8 bits barely moves cosine, so overlap must stay high (≥ 6/8). The
    exact top-8 is the same from the batch scorer with string ids on
    both sides (cosine_topk_batch keeps non-bigint id columns). The
    exact fold scores a NULL embedding NULL (ranked last) and raises
    on a zero-norm one under ANSI, the Spark 4 default."""
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.vector import similarity as vs

    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    row = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in row.embedding]
    exact = {r.vec_id for r in vs.cosine_topk(emb, q, k=8).collect()}
    sq8 = {r.vec_id for r in vs.sq8_topk(vs.sq8_encode(emb), q, k=8).collect()}
    assert len(exact & sq8) >= 6

    docs = emb.select(
        F.concat(F.lit("d-"), F.col("vec_id")).alias("doc"), "embedding"
    )
    queries = spark.createDataFrame([("q-0", q)], "q_id string, q_vec array<double>")
    batch = vs.cosine_topk_batch(docs, queries, k=8, id_col="doc").collect()
    assert {r.q_id for r in batch} == {"q-0"}
    assert sorted(r.rank for r in batch) == list(range(1, 9))
    assert {r.doc for r in batch} == {f"d-{i}" for i in exact}

    dim = len(q)
    ddl = "vec_id long, embedding array<float>"
    deg = spark.createDataFrame([(2, None), (1, [1.0] * dim)], ddl)
    scored = [(r.vec_id, r.sim is None) for r in vs.cosine_topk(deg, q).collect()]
    assert scored == [(1, False), (2, True)]
    zero = spark.createDataFrame([(3, [0.0] * dim)], ddl)
    with pytest.raises(ArithmeticException):
        vs.cosine_topk(zero, q).collect()


def test_ivf_sq8_full_shortlist_matches_ivf_probe(spark, sf_dir):
    """With the shortlist opened to the whole cell, the SQ8 stage
    cannot drop the true top-k — the rerank must reproduce the exact
    in-cell probe result (quantization only reorders the SHORTLIST
    boundary, never the exact-rescored survivors)."""
    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.registry import REGISTRY
    from graphragdatapipeline_spark.vector import similarity as vs
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "embeddings")
    assigned, cents = vs.kmeans_cells(e, k=4, iters=3)
    row = e.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in row.embedding]

    def sqd(c):
        acc = 0.0
        for a, b in zip(q, c):
            acc += (a - b) * (a - b)
        return acc

    qcell = min(range(len(cents)), key=lambda ci: (sqd(cents[ci]), ci))
    members = assigned.filter(F.col("cell") == qcell).select("vec_id")
    cand = e.join(members, "vec_id").filter(F.col("vec_id") != 0)
    n_cell = cand.count()
    short = vs.sq8_topk(vs.sq8_encode(cand), q, k=n_cell).select("vec_id")
    reranked = [
        r.vec_id
        for r in vs.cosine_topk(cand.join(short, "vec_id"), q, k=5).collect()
    ]
    probe = [
        r.vec_id
        for r in REGISTRY["vector_ivf_probe_trained"].fn(spark, sf_dir).collect()
    ]
    assert reranked == probe


def test_residual_col_subtracts_assigned_centroid(spark):
    """residual_col must equal v − centroid[nearest cell], component
    by component, both inline and with a stored cell column."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.vector import similarity as vs

    cents = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 10.0, 10.0]]
    rows = [(1, [0.5, -0.25, 0.0, 1.0]), (2, [9.0, 10.5, 11.0, 10.0])]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {
        r.vec_id: (r.cell, r.res)
        for r in df.select(
            "vec_id",
            vs.nearest_centroid_col(cents, F.col("embedding")).alias("cell"),
            vs.residual_col(cents, F.col("embedding")).alias("res"),
        ).collect()
    }
    assert got[1][0] == 0 and got[1][1] == [0.5, -0.25, 0.0, 1.0]
    assert got[2][0] == 1 and got[2][1] == [-1.0, 0.5, 1.0, 0.0]
    # stored-cell variant is identical
    with_cell = df.withColumn(
        "cell", vs.nearest_centroid_col(cents, F.col("embedding"))
    )
    got2 = {
        r.vec_id: r.res
        for r in with_cell.select(
            "vec_id",
            vs.residual_col(
                cents, F.col("embedding"), F.col("cell")
            ).alias("res"),
        ).collect()
    }
    assert {v: r[1] for v, r in got.items()} == got2


def test_ivfpq_residual_full_probe_recovers_exact_topk(spark):
    """IVFADC recall floor: with nprobe = n_cells and a shortlist
    covering the corpus, the residual-PQ read path returns exactly the
    bruteforce cosine top-k (same contract as pq_rerank's)."""
    from graphragdatapipeline_spark.vector import similarity as vs

    rows = []
    for i in range(40):
        rows.append((i, [1.0 + (i % 7) * 0.01] * 4 + [0.01 * (i % 3)] * 4))
    for i in range(40, 80):
        rows.append((i, [0.0] * 4 + [-1.0 - (i % 5) * 0.01] * 4))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    _, cents = vs.kmeans_cells(df, k=2, iters=3)
    books = vs.pq_train(df, m=2, k=4, iters=2, centroids=cents)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    query = [1.0] * 4 + [0.0] * 4
    exact = [r.vec_id for r in vs.cosine_topk(df, query, k=8).collect()]
    got = [
        r.vec_id
        for r in vs.ivfpq_residual_topk(
            df, cents, books, query, k=8, nprobe=2, shortlist=80
        ).collect()
    ]
    assert got == exact
    # residual training is run-deterministic like raw pq_train
    assert books == vs.pq_train(df, m=2, k=4, iters=2, centroids=cents)


def test_ivfpq_residual_stored_codes_match_inline(spark):
    """Encode-at-ingest for IVFADC: stored (cell, residual codes) must
    return exactly the inline-encode results — same expressions
    materialized once (the scan-shape contract the raw-PQ twin pins in
    test_pq_stored_codes_match_inline)."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.vector import similarity as vs

    rows = []
    for i in range(60):
        rows.append((i, [1.0 + (i % 7) * 0.01] * 4 + [0.01 * (i % 3)] * 4))
    for i in range(60, 120):
        rows.append((i, [0.0] * 4 + [-1.0 - (i % 5) * 0.01] * 4))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    _, cents = vs.kmeans_cells(df, k=2, iters=3)
    books = vs.pq_train(df, m=2, k=4, iters=2, centroids=cents)
    with_cell = df.withColumn(
        "cell", vs.nearest_centroid_col(cents, F.col("embedding"))
    )
    enc = with_cell.select(
        "vec_id",
        "embedding",
        "cell",
        *[
            c.alias(f"rpq_{i}")
            for i, c in enumerate(
                vs.pq_encode_cols(
                    books,
                    vs.residual_col(cents, F.col("embedding"), F.col("cell")),
                )
            )
        ],
    )
    query = [1.0] * 4 + [0.2] * 4
    for nprobe in (1, 2):
        inline = [
            tuple(r)
            for r in vs.ivfpq_residual_topk(
                df, cents, books, query, k=6, nprobe=nprobe, shortlist=12
            ).collect()
        ]
        stored = [
            tuple(r)
            for r in vs.ivfpq_residual_topk(
                enc,
                cents,
                books,
                query,
                k=6,
                nprobe=nprobe,
                shortlist=12,
                cell_col="cell",
                code_cols=["rpq_0", "rpq_1"],
            ).collect()
        ]
        assert stored == inline


def test_semantic_dedup_matches_oracle_at_sf01(spark, sf_dir):
    """dedup_semantic_kmeans trains k = max(4, n // 128) cells: 4 at
    sf0.01's 500 vectors, 15 at sf0.1's 2000. The oracle's k-means
    replay must seed the same k, so the contract is checked at sf0.1,
    where the two scales part."""
    import os

    from graphragdatapipeline_spark.registry import REGISTRY
    from tests.oracle_utils import compare, duckdb_conn

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    qd = REGISTRY["dedup_semantic_kmeans"]
    assert compare(qd.fn(spark, sf01), duckdb_conn(sf01).sql(qd.oracle)) == []
