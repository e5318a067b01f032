#!/usr/bin/env python
"""Decade-scaling measurement for the composed curation pipeline with
NON-degenerate replication (round-10 verdict #3): builds documents-only
MUTATE-mode decades (token-noise replicas — see make_scale_fixture's
module docstring for the two-tier math) and reports, per decade, the
survivor count at every stage boundary of curation_end_to_end plus the
composed query's wall — proving stages 2-7 actually see decade-scaled
inputs instead of collapsing to the original ~5k distinct docs.

Stage labels match the registered query/oracle CTEs:
d1 = exact-dedup survivors, d2 = near-dup survivors, span_affected =
d2 docs that lost ≥1 token to substring removal, d4 = trained-gate
(clf_keep) survivors, d5 = post-decontamination, rows = packed output.

Usage: python scripts/bench_curation_e2e_scaled.py [SRC_SF_DIR] [WORK]
       [FACTOR ...]
Defaults: /root/testdata/sf0.1 /tmp/sfmut 10 100.
Prints one JSON line per decade.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(_HERE, ".."))
sys.path.insert(0, _HERE)

import make_scale_fixture as msf  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from graphragdatapipeline_spark.io import read_table  # noqa: E402
from graphragdatapipeline_spark.operators import curation as cu  # noqa: E402
from graphragdatapipeline_spark.operators import dedup as dd  # noqa: E402
from graphragdatapipeline_spark.registries.dedup_oracles import (  # noqa: E402
    BANDS,
    MAX_BUCKET,
    NUM_HASHES,
)
from graphragdatapipeline_spark.registry import REGISTRY  # noqa: E402
from graphragdatapipeline_spark.session import (  # noqa: E402
    ensure_parallelism,
    get_session,
)


def build_docs(spark, src: str, dst: str, factor: int) -> None:
    """documents-only MUTATE-mode replication (the full fixture script
    replicates every table; the composed pipeline reads only docs)."""
    d = read_table(spark, src, "documents")
    base = {"doc_id": d.agg(F.max("doc_id")).first()[0] + 1}
    whole = msf.replicate_table("documents", d, factor, base, "mutate")
    whole.write.mode("overwrite").parquet(os.path.join(dst, "documents"))


def stage_counts(spark, sf_dir: str) -> dict:
    """Replays the registered curation_end_to_end stage wiring with a
    count at each boundary (same operator calls, same knobs)."""
    d = read_table(spark, sf_dir, "documents")
    d1 = dd.exact_dedup(d, "doc_id", "text")
    sig = dd.minhash_signatures_rowwise(
        ensure_parallelism(d1), "doc_id", "text", k=3, num_hashes=NUM_HASHES
    )
    bands = dd.lsh_bands(sig, "doc_id", NUM_HASHES, BANDS).localCheckpoint(
        eager=False
    )
    cands = dd.lsh_candidate_pairs(bands, "doc_id", max_bucket=MAX_BUCKET)
    mega = dd.lsh_mega_bucket_drops(bands, "doc_id", MAX_BUCKET)
    sh = dd.shingle_table(d1, "doc_id", "text", k=3)
    pairs = dd.jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cands)
    d2 = dd.dedup_corpus(d1, pairs.select("a", "b"), "doc_id").join(
        mega, "doc_id", "left_anti"
    )
    sub = dd.remove_duplicated_spans(
        d2, "doc_id", "text", k=3, min_df=2
    ).localCheckpoint(eager=False)
    d3 = d2.select("doc_id", "lang").join(
        sub.select("doc_id", F.col("cleaned_text").alias("text")), "doc_id"
    ).localCheckpoint(eager=False)
    clf = cu.quality_classifier(d3, "doc_id", "text", iters=25, lr=1.0)
    d4 = d3.join(
        clf.filter(F.col("clf_keep")).select("doc_id", "n_tokens"), "doc_id"
    ).localCheckpoint(eager=False)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    dec = cu.decontaminate(
        d4, bench, id_col="doc_id", text_col="text", k=3, min_shared=2
    )
    d5 = d4.join(
        dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    return {
        "docs": d.count(),
        "d1_exact": d1.count(),
        "d2_neardup": d2.count(),
        "span_affected": sub.filter(F.col("n_removed") > 0).count(),
        "d4_clf_keep": d4.count(),
        "d5_decontaminated": d5.count(),
    }


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfmut"
    factors = [int(a) for a in sys.argv[3:]] or [10, 100]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "e2e-scaled", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    qd = REGISTRY["curation_end_to_end"]

    # 1x reference on the unreplicated source
    for factor in [1] + factors:
        if factor == 1:
            sf_dir = src
        else:
            sf_dir = f"{work}{factor}"
            shutil.rmtree(sf_dir, ignore_errors=True)
            t0 = time.time()
            build_docs(spark, src, sf_dir, factor)
            print(
                json.dumps(
                    {"build_factor": factor, "wall_s": round(time.time() - t0, 1)}
                ),
                flush=True,
            )
        counts = stage_counts(spark, sf_dir)
        qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        print(
            json.dumps(
                {"factor": factor, "e2e_wall_s": round(best, 2), **counts}
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
