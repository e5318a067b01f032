#!/usr/bin/env python
"""Classifier-gate label crosstab at a scale fixture (r13, verdict
item 7): replay curation_end_to_end's d1→d3 stage wiring on a
documents-only decade fixture, train the distilled gate on d3, and
report the (rule keep × clf_keep) crosstab plus the distinct-score
count — the two-class evidence. The r12 de-vacuization measured this
at the MUTATE decades (junk tier reaches the gate); zipf's global
templates + verbatim replicas interact differently with span removal,
so this confirms the labels stay two-class there too.

Usage: python scripts/crosstab_clf_gate.py [SRC_SF_DIR] [WORK] [FACTOR] [MODE]
Defaults: /root/testdata/sf0.1 /tmp/sfxtab 100 zipf. MODE ∈ zipf|mutate.
Prints one JSON line.
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
from graphragdatapipeline_spark.session import (  # noqa: E402
    ensure_parallelism,
    get_session,
)


def build_docs(spark, src: str, dst: str, factor: int, mode: str) -> None:
    d = read_table(spark, src, "documents")
    base = {"doc_id": d.agg(F.max("doc_id")).first()[0] + 1}
    mode = mode if mode == "zipf" else "mutate"
    whole = msf.replicate_table("documents", d, factor, base, mode)
    whole.write.mode("overwrite").parquet(os.path.join(dst, "documents"))


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfxtab"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    mode = sys.argv[4] if len(sys.argv) > 4 else "zipf"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "clf-crosstab", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = f"{work}_{mode}{factor}"
    shutil.rmtree(sf_dir, ignore_errors=True)
    build_docs(spark, src, sf_dir, factor, mode)

    # d1 → d3: the exact curation_end_to_end stage wiring
    t0 = time.time()
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
    sub = dd.remove_duplicated_spans(d2, "doc_id", "text", k=3, min_df=2)
    d3 = (
        d2.select("doc_id", "lang")
        .join(sub.select("doc_id", F.col("cleaned_text").alias("text")), "doc_id")
        .localCheckpoint(eager=False)
    )
    clf = cu.quality_classifier(d3, "doc_id", "text", iters=25, lr=1.0)
    clf = clf.localCheckpoint(eager=False)
    xtab = {
        f"rule_{r['keep']}_clf_{r['clf_keep']}": r["n"]
        for r in clf.groupBy("keep", "clf_keep")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_scores = clf.select("clf_score").distinct().count()
    print(
        json.dumps(
            {
                "mode": mode,
                "factor": factor,
                "d3_docs": sum(xtab.values()),
                "crosstab": xtab,
                "distinct_clf_scores": n_scores,
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
