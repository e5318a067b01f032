"""CLI entry point — the engine as an operable product.

The reference is driven through the Dagster CLI/UI ("Materialize
all", per-asset runs — README.md:735). The Spark engine's equivalent:

    python -m graphragdatapipeline_spark query <name> [--sf-dir DIR] [-n 20]
    python -m graphragdatapipeline_spark list
    python -m graphragdatapipeline_spark checks [--sf-dir DIR]
    python -m graphragdatapipeline_spark bench
    python -m graphragdatapipeline_spark profile <name>... | --all [--sf-dir DIR] [--repeat 3]

`query` runs any registered query and shows rows; `checks` runs the
data-quality gates (reference defs/checks.py) and exits non-zero on
failure — the CI shape of Dagster's asset checks. `profile` times
queries and prints one JSON record per query with the Spark work of
its last timed pass, read from Spark's status store, and the generated
classes that pass compiled.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback


def _spark_work(sc, since: tuple[int, int]) -> tuple[dict, tuple[int, int]]:
    """The jobs, the stages that ran and their totals (ms, bytes) that
    Spark's status store holds with ids above ``since`` (job id, stage
    id), read once the listener bus is drained, and the newest ids. Ids
    are monotonic, so the jobs the engine submits from its own thread
    pools count too. A stage a job lists but never runs (SKIPPED: its
    shuffle output already exists; PENDING) is not counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, gw = jsc.statusStore(), sc._gateway
    jobs = store.jobsList(None)  # newest first, like stageList
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    work = dict.fromkeys(
        "jobs stages tasks executor_ms gc_ms shuffle_read_bytes "
        "shuffle_write_bytes spill_bytes".split(), 0
    )
    while work["jobs"] < jobs.size() and jobs.apply(work["jobs"]).jobId() > since[0]:
        work["jobs"] += 1
    for st in (stages.apply(i) for i in range(stages.size())):
        if st.stageId() <= since[1]:
            break
        if st.status().toString() in ("SKIPPED", "PENDING"):
            continue
        work["stages"] += 1
        work["tasks"] += st.numCompleteTasks()
        work["executor_ms"] += st.executorRunTime()
        work["gc_ms"] += st.jvmGcTime()
        work["shuffle_read_bytes"] += st.shuffleReadBytes()
        work["shuffle_write_bytes"] += st.shuffleWriteBytes()
        work["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    newest = (
        jobs.apply(0).jobId() if work["jobs"] else since[0],
        max(since[1], stages.apply(0).stageId()) if stages.size() else since[1],
    )
    return work, newest


def _codegen(jvm) -> tuple[int, int]:
    """Janino compiles so far in this JVM (``CodegenMetrics``' compile
    time histogram counts one per class the codegen cache missed) and
    their summed nanoseconds (``CodeGenerator.compileTime``; the
    histogram itself keeps only a sample)."""
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return hist.getCount(), gen.compileTime()


def _profile(names: list[str], sf_dir: str, repeat: int) -> int:
    """One untimed noop-sink pass and ``repeat`` timed ones per query;
    prints the best wall, the Spark work of the last timed pass, the
    classes it compiled and the persistent RDDs it left behind. A query
    that raises prints its error and the run goes on (exit 1)."""
    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.registry import REGISTRY
    from graphragdatapipeline_spark.session import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "graphragdatapipeline-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # keep every job and stage of a pass in the status store (one
        # graph_louvain_ladder call submitted 473 jobs at sf0.01)
        extra_conf={
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    read_table(spark, sf_dir, "documents").count()  # warm-up
    _, ids = _spark_work(sc, (-1, -1))
    failed = False
    for name in names:
        try:
            walls = []
            for _ in range(1 + repeat):  # the first pass is untimed
                rdds = sc._jsc.getPersistentRDDs().size()
                cg = _codegen(sc._jvm)
                t0 = time.perf_counter()
                df = REGISTRY[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                work, ids = _spark_work(sc, ids)
                left = sc._jsc.getPersistentRDDs().size() - rdds
                compiles, ns = (b - a for a, b in zip(cg, _codegen(sc._jvm)))
            rec = {"query": name, "sf_dir": sf_dir, "wall_s": round(min(walls[1:]), 3)}
            rec.update(
                work,
                codegen_compiles=compiles,
                codegen_ms=round(ns / 1e6, 1),
                persisted_rdds_left=left,
            )
        except Exception as exc:  # noqa: BLE001 — the run must finish
            traceback.print_exc()
            failed = True
            rec = {"query": name, "error": str(exc)}
        print(json.dumps(rec), flush=True)
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="graphragdatapipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run a registered query and print rows")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("-n", type=int, default=20, help="rows to show")

    sub.add_parser("list", help="list registered queries")

    c = sub.add_parser("checks", help="run data-quality gates (exit 1 on failure)")
    c.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    sub.add_parser("bench", help="run the benchmark (one JSON line)")

    pr = sub.add_parser(
        "profile", help="time queries and count their Spark work (JSON lines)"
    )
    pr.add_argument("names", nargs="*", metavar="name")
    pr.add_argument("--all", action="store_true", help="every registered query")
    pr.add_argument("--sf-dir", default=q.get_default("sf_dir"))
    pr.add_argument("--repeat", type=int, default=3, help="timed passes; best kept")

    comp = sub.add_parser(
        "compact", help="compact small parquet files (optional clustering)"
    )
    comp.add_argument("src_dir")
    comp.add_argument("dst_dir")
    comp.add_argument(
        "--target-mb", type=int, default=128, help="target MB per output file"
    )
    comp.add_argument(
        "--cluster-by", default=None, help="comma-separated range-cluster columns"
    )
    comp.add_argument(
        "--zorder-by", default=None, help="comma-separated Z-order columns"
    )

    ci = sub.add_parser(
        "compact-index",
        help="compact a streaming index's committed epochs into one "
        "pre-aggregated generation (substring | cooccurrence | neardup | vector)",
    )
    ci.add_argument("kind", choices=["substring", "cooccurrence", "neardup", "vector"])
    ci.add_argument("index_dir")
    ci.add_argument(
        "--corpus-dir",
        default=None,
        help="neardup only: the corpus dir whose _commits govern the band index",
    )
    ci.add_argument(
        "--id-col",
        default="vec_id",
        help="vector only: the upsert id column (latest-wins key)",
    )
    ci.add_argument(
        "--vec-col",
        default="embedding",
        help="vector only: the vector column (NULL marks a tombstone)",
    )
    ci.add_argument(
        "--gc",
        action="store_true",
        help="delete superseded epoch dirs + the previous generation "
        "(run quiesced — same contract as compact)",
    )

    sk = sub.add_parser(
        "skew", help="profile key skew of a table column (top-k heavy keys)"
    )
    sk.add_argument("table")
    sk.add_argument("key")
    sk.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sk.add_argument("-k", type=int, default=10)

    args = p.parse_args(argv)

    if args.cmd == "bench":
        import bench  # repo-root harness

        bench.main()
        return 0

    from graphragdatapipeline_spark.registry import REGISTRY

    if args.cmd == "list":
        for name, qd in sorted(REGISTRY.items()):
            print(f"{name} *" if qd.headline else name)
        return 0

    if args.cmd == "profile":
        if bool(args.names) == args.all or args.repeat < 1:
            pr.error("give query names or --all, and --repeat >= 1")
        names = sorted(REGISTRY) if args.all else args.names
        unknown = [n for n in names if n not in REGISTRY]
        if unknown:
            print(f"unknown query: {' '.join(unknown)}", file=sys.stderr)
            return 2
        return _profile(names, args.sf_dir, args.repeat)

    from graphragdatapipeline_spark.session import get_session

    spark = get_session("graphragdatapipeline-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "query":
        if args.name not in REGISTRY:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        REGISTRY[args.name].fn(spark, args.sf_dir).show(args.n, truncate=60)
        return 0

    if args.cmd == "checks":
        rows = REGISTRY["quality_check_gates"].fn(spark, args.sf_dir).collect()
        failed = [r for r in rows if not r.passed]
        for r in rows:
            print(f"{'PASS' if r.passed else 'FAIL'}  {r.check_name}")
        return 1 if failed else 0

    if args.cmd == "compact":
        from graphragdatapipeline_spark.io import compact_parquet

        n = compact_parquet(
            spark,
            args.src_dir,
            args.dst_dir,
            target_bytes_per_file=args.target_mb * 1024 * 1024,
            cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
        )
        print(f"wrote {n} files to {args.dst_dir}")
        return 0

    if args.cmd == "compact-index":
        from graphragdatapipeline_spark.streaming import ops as so

        if args.kind == "substring":
            upto = so.compact_substring_index(spark, args.index_dir, gc=args.gc)
        elif args.kind == "cooccurrence":
            upto = so.compact_cooccurrence_index(spark, args.index_dir, gc=args.gc)
        elif args.kind == "vector":
            upto = so.compact_vector_index(
                spark,
                args.index_dir,
                id_col=args.id_col,
                vec_col=args.vec_col,
                gc=args.gc,
            )
        else:
            if not args.corpus_dir:
                print("neardup requires --corpus-dir", file=sys.stderr)
                return 2
            upto = so.compact_neardup_band_index(
                spark, args.index_dir, args.corpus_dir, gc=args.gc
            )
        print(f"compacted {args.index_dir} up to epoch {upto}")
        return 0

    if args.cmd == "skew":
        from graphragdatapipeline_spark.io import read_table
        from graphragdatapipeline_spark.operators.relational import key_skew_profile

        key_skew_profile(
            read_table(spark, args.sf_dir, args.table), args.key, top_k=args.k
        ).show(args.k, truncate=False)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
