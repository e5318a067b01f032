#!/usr/bin/env python
"""Count the Spark jobs (and wall time) a registry query or named
loop program submits — the evidence for job-fusion optimizations that
plan dumps cannot show (each fused job is a checkpoint/aggregate
boundary, not a plan-shape change).

Usage: python scripts/count_jobs.py NAME [SF_DIR]
NAME: a registry query name, or one of the micro-program aliases
      louvain_move / louvain_multilevel / pq_train / kmeans_cells.
Jobs are counted via a job group: everything the call submits (from
any driver thread, via inheritance) lands in the group.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from graphragdatapipeline_spark.session import get_session  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "graphrag-spark-jobcount",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.registry import REGISTRY

    read_table(spark, sf_dir, "lineitem").count()  # warm-up

    def run():
        if name in REGISTRY:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return
        from graphragdatapipeline_spark.graph import algorithms as ga
        from graphragdatapipeline_spark.registries.graph_queries import (
            build_tpch_graph,
        )

        g = build_tpch_graph(spark, sf_dir)
        if name == "louvain_move":
            ga.louvain_move(g.edges, 1.0, 4, g.vertices).write.format(
                "noop"
            ).mode("overwrite").save()
        elif name == "louvain_multilevel":
            ga.louvain_multilevel(
                g.edges.select("src", "dst"), gamma=2.0, rounds=4,
                max_cycles=3, vertices=g.vertices,
            ).write.format("noop").mode("overwrite").save()
        elif name == "pq_train":
            from graphragdatapipeline_spark.vector.similarity import pq_train

            e = read_table(spark, sf_dir, "embeddings").select(
                "vec_id", F.col("embedding")
            )
            pq_train(e, m=2, k=16, iters=2)
        elif name == "kmeans_cells":
            from graphragdatapipeline_spark.vector.similarity import (
                kmeans_cells,
            )

            e = read_table(spark, sf_dir, "embeddings").select(
                "vec_id", F.col("embedding")
            )
            kmeans_cells(e, k=16, iters=3)[0].write.format("noop").mode(
                "overwrite"
            ).save()
        else:
            raise SystemExit(f"unknown NAME {name!r}")

    # one untimed pass (JIT/codegen), then the counted+timed pass.
    # Counting method: job ids are globally monotonic, so two sentinel
    # jobs in a private group bracket the run — the delta counts every
    # job in between, including jobs submitted from the engine's own
    # pool threads. (The engine's pools wrap each task with
    # inheritable_thread_target, so a job group set by the caller now
    # covers those jobs too; the id bracket needs no group on the run.)
    run()
    group = f"jobcount-{name}-{time.time_ns()}"
    sc = spark.sparkContext

    def sentinel() -> int:
        sc.setLocalProperty("spark.jobGroup.id", group)
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        return ids[-1]

    j0 = sentinel()
    t0 = time.perf_counter()
    run()
    wall = time.perf_counter() - t0
    j1 = sentinel()
    print(
        f"{name}: jobs={j1 - j0 - 1} wall={wall:.3f}s sf_dir={sf_dir}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
