"""Drain-rate measurement for the streaming vector index sink
(streaming/ops.vector_index_sink) at the 200 k-vector scale fixture —
the same evidence shape as the substring/co-occurrence/near-dup drain
rows in SCALE.md.

Builds the fixture inline (sf0.1 embeddings x FACTOR by key shift; the
LAST replica redelivers replica-0's ids with shifted vectors, so the
drain includes real upsert traffic, not just appends), trains k=16
centroids once (index metadata), then drains SLICES micro-batches
through the sink with auto_compact_every=AUTO and reports wall,
vectors/sec, on-disk bytes, the latest-wins read wall before and after
a final full compaction, probe walls (the r13 tail-bounded winner
path), and probe recall@8 vs brute force.

Batch boundaries are EXACT (r13, from the r12 advice): each slice is
ONE file and the stream runs maxFilesPerTrigger=1, so a micro-batch is
a slice by construction — the upsert slice can never share a batch
with original rows of the same ids (within-batch resolution is by
vector hash, not recency, so a straddling batch would silently
benchmark different semantics). The surviving vectors of the upserted
ids are asserted, not just the row count.

Usage: python scripts/bench_vector_index_sink.py [SRC_SF_DIR] [FACTOR]
           [--sample-train FRACTION] [--pq]

--sample-train additionally trains a SECOND centroid set on a
FRACTION sample of the corpus (the production shape: a 100 TB index
never k-means the full corpus) and reports train wall + probe
recall@8 for sampled vs full training at the same k.

--pq builds the IVFADC index shape: residual-PQ codebooks (m=2, k=16,
trained on a 10% sample) are passed to the sink as pq_books so codes
are encoded AT INGEST, and the probe section additionally reports the
vector_index_probe_adc wall + recall (shortlist=128).

The k=16 centroids make the sink encode with the Arrow-batched numpy
kernel: the encode picks its kernel by centroid count (the fold
expressions up to 8 centroids), and so does the k-means training.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.session import get_session
from graphragdatapipeline_spark.streaming import ops as so
from graphragdatapipeline_spark.vector.similarity import cosine_topk, kmeans_cells

SLICES = 8
AUTO = 4
N_QUERIES = 5


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(d, "**"), recursive=True)
        if os.path.isfile(p)
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    src = args[0] if args else "/root/testdata/sf0.1"
    factor = int(args[1]) if len(args) > 1 else 10
    sample_frac = None
    if "--sample-train" in sys.argv:
        sample_frac = float(sys.argv[sys.argv.index("--sample-train") + 1])
    use_pq = "--pq" in sys.argv
    base = "/tmp/vecsink_bench"
    shutil.rmtree(base, ignore_errors=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "vecsink-bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    emb = read_table(spark, src, "embeddings").select("vec_id", "embedding")
    n0 = emb.count()

    # explode-based replication: one plan node regardless of factor (a
    # union of `factor` branches stops planning long before 1000×)
    def replicas(lo: int, hi: int):
        return emb.select(
            F.explode(F.sequence(F.lit(lo), F.lit(hi))).alias("_r"),
            "vec_id",
            "embedding",
        ).select((F.col("vec_id") + F.col("_r") * n0).alias("vec_id"), "embedding")

    whole = replicas(0, factor - 1)
    # upsert traffic: the final slice redelivers replica 0's ids with a
    # shifted vector — latest-wins must rewrite them at read
    upserts = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: (x + F.lit(0.25)).cast("float")).alias(
            "embedding"
        ),
    )
    total = factor * n0 + n0

    cents_t0 = time.time()
    _, cents = kmeans_cells(whole, k=16, iters=3)
    cents_wall = time.time() - cents_t0

    books = None
    if use_pq:
        from graphragdatapipeline_spark.vector.similarity import pq_train

        t0 = time.time()
        books = pq_train(
            whole.sample(fraction=0.1, seed=13),
            m=2,
            k=16,
            iters=2,
            centroids=cents,
        )
        print(f"pq_train (residual, m=2 k=16, 10% sample): {time.time() - t0:.1f}s")

    in_dir = os.path.join(base, "input")
    os.makedirs(in_dir)
    per = factor // (SLICES - 1) or 1
    # evenly tile the replicas over SLICES-1 slices, upserts last
    staged = []
    for s in range(SLICES - 1):
        lo = s * per
        hi = factor - 1 if s == SLICES - 2 else min((s + 1) * per, factor) - 1
        if lo >= factor or lo > hi:
            continue
        staged.append(replicas(lo, hi))
    staged.append(upserts)
    # ONE file per slice + maxFilesPerTrigger=1 below: micro-batch ==
    # slice by construction (exact boundaries — see module docstring)
    for i, sl in enumerate(staged):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.05)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = os.path.join(base, "index")
    t0 = time.time()
    q = so.vector_index_sink(
        stream,
        cents,
        index_dir,
        os.path.join(base, "ckpt"),
        auto_compact_every=AUTO,
        pq_books=books,
    )
    q.awaitTermination(3600)
    drain = time.time() - t0

    def read_wall() -> tuple[float, int]:
        t = time.time()
        n = so.read_vector_index(spark, index_dir).count()
        return time.time() - t, n

    r_pre, n_pre = read_wall()
    bytes_pre = _dir_bytes(index_dir)
    t = time.time()
    upto = so.compact_vector_index(spark, index_dir, gc=True)
    compact_wall = time.time() - t
    r_post, n_post = read_wall()
    bytes_post = _dir_bytes(index_dir)
    assert n_pre == n_post == total - n0  # latest-wins: upserts replace
    # the upserted ids must survive with the SHIFTED vector, not any
    # original-replica row (exact-boundary semantics, r12 advice)
    view = so.read_vector_index(spark, index_dir)
    diff = (
        view.join(upserts.withColumnRenamed("embedding", "_want"), "vec_id")
        .filter(F.hash("embedding") != F.hash("_want"))
        .count()
    )
    assert diff == 0, f"{diff} upserted ids did not resolve to the upsert vector"

    n_gen_files = len(
        glob.glob(os.path.join(index_dir, "_compacted", f"upto={upto}", "**", "*.parquet"), recursive=True)
    )
    print(
        f"vectors={total} (incl {n0} upserts) slices={len(staged)} "
        f"{'pq ' if use_pq else ''}"
        f"train_k16={cents_wall:.1f}s drain={drain:.1f}s "
        f"rate={total / drain:.0f} vec/s auto_compact_every={AUTO}"
    )
    print(
        f"read latest-wins: pre-final-compact {r_pre:.2f}s "
        f"({bytes_pre / 1e6:.1f} MB on disk) -> post gc-compact "
        f"{r_post:.2f}s ({bytes_post / 1e6:.1f} MB, {n_gen_files} files, "
        f"partitionBy(cell)), final compact {compact_wall:.1f}s "
        f"upto={upto}, rows={n_post}"
    )

    qvecs = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(N_QUERIES).collect()
    ]

    def probe_wall(nprobe: int) -> float:
        t = time.time()
        for qv in qvecs:
            so.vector_index_probe(
                spark, index_dir, cents, qv, k=8, nprobe=nprobe
            ).collect()
        return (time.time() - t) / len(qvecs)

    def probe_recall(cents_now, nprobe: int = 1) -> float:
        hit = tot = 0
        for qv in qvecs:
            truth = {
                r.vec_id for r in cosine_topk(view, qv, k=8).collect()
            }
            got = {
                r.vec_id
                for r in so.vector_index_probe(
                    spark, index_dir, cents_now, qv, k=8, nprobe=nprobe
                ).collect()
            }
            hit += len(truth & got)
            tot += len(truth)
        return hit / tot

    p1, pf = probe_wall(1), probe_wall(len(cents))
    rec1 = probe_recall(cents, nprobe=1)
    print(
        f"probe top-8 over the compacted index (avg of {len(qvecs)} queries, "
        f"tail-bounded winners): nprobe=1 {p1:.2f}s (recall@8 {rec1:.3f}), "
        f"nprobe={len(cents)} (exact) {pf:.2f}s"
    )

    if use_pq:
        hit = tot = 0
        t = time.time()
        for qv in qvecs:
            truth = {r.vec_id for r in cosine_topk(view, qv, k=8).collect()}
            got = {
                r.vec_id
                for r in so.vector_index_probe_adc(
                    spark, index_dir, cents, books, qv, k=8, nprobe=1,
                    shortlist=128,
                ).collect()
            }
            hit += len(truth & got)
            tot += len(truth)
        p_adc = (time.time() - t) / len(qvecs)
        print(
            f"ADC probe (stored residual codes, shortlist=128): nprobe=1 "
            f"{p_adc:.2f}s/q, recall@8 {hit / tot:.3f}"
        )

    if sample_frac is not None:
        t = time.time()
        _, s_cents = kmeans_cells(
            whole.sample(fraction=sample_frac, seed=13), k=16, iters=3
        )
        s_wall = time.time() - t
        # recall with sample-trained cells probing the SAME index: the
        # index cells were assigned with the full-train centroids, so
        # this measures the end state of re-encoding at the sampled
        # centroids — rebuild a small sampled-cells index instead
        s_idx = os.path.join(base, "index_sampled")
        sp_in = os.path.join(base, "input_s")
        os.makedirs(sp_in)
        view.select("vec_id", "embedding").coalesce(1).write.parquet(
            os.path.join(sp_in, "slice=0")
        )
        s_stream = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(sp_in + "/slice=*")
        )
        so.vector_index_sink(
            s_stream, s_cents, s_idx, os.path.join(base, "ckpt_s")
        ).awaitTermination(3600)
        so.compact_vector_index(spark, s_idx, gc=True)
        hit = tot = 0
        t = time.time()
        for qv in qvecs:
            truth = {r.vec_id for r in cosine_topk(view, qv, k=8).collect()}
            got = {
                r.vec_id
                for r in so.vector_index_probe(
                    spark, s_idx, s_cents, qv, k=8, nprobe=1
                ).collect()
            }
            hit += len(truth & got)
            tot += len(truth)
        s_probe = (time.time() - t) / len(qvecs)
        print(
            f"sample-train fraction={sample_frac}: train {s_wall:.1f}s "
            f"(vs full {cents_wall:.1f}s), nprobe=1 recall@8 "
            f"{hit / tot:.3f} (vs full-train {rec1:.3f}), probe {s_probe:.2f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
