#!/usr/bin/env python3
"""sparkgraph benchmark: seeded workloads, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run, in one process and one long-lived SparkSession at
local[nproc] with nproc shuffle partitions:

1. generate the workload's input from the seed (timed, reported as
   ``gen_s`` on stderr, not a metric);
2. set up ``SETUPS`` times (session start plus a read of every
   table's footers);
3. run ``WARMUP_PASSES`` passes, which absorb JIT, codegen and
   first-touch cost; ``setup_s`` is the median CPU seconds of the
   set-ups plus the CPU seconds of the warm-up passes. Only the first
   set-up launches the JVM (later ones restart the session in it), so
   JVM launch is mostly outside that median;
4. run timed passes until ``--seconds`` have passed (at least one).
   Every operation's result is checked after the pass's clock stops;
   an operation that raised or gave a wrong result counts in
   ``failed``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
``setup_s``, ``cpu_s`` (CPU seconds of one pass) and
``query_cpu_ms_geomean``, all CPU time of the process tree (Python
driver, driver JVM, Python workers), because on a shared host wall time
also counts the time other tenants take. Wall times go to stderr here
and to ``session.pass_wall_s`` in a traced run.
With ``--trace 1`` untraced and traced passes alternate: traced passes
wrap the engine's public layer functions in spans and read Spark's
status store at each span boundary. The last line then carries the
per-layer metrics and ``tracing_overhead_s`` (median over traced passes
of the pass wall minus the mean wall of the untraced passes on either
side); the line before it carries the per-function detail, and the
spans go to ``perfbench/.out/``.

Metric names are the same for every workload; a layer a workload does
not call reports zero calls.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
WARMUP_PASSES = 1
CORES = os.cpu_count() or 1


def _env(work: str) -> None:
    """Keep the run's temporary files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _session():
    from graphragdatapipeline_spark.session import get_session

    spark = get_session(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.ui.showConsoleProgress": "false",
            # the status store must keep every job and stage of the run,
            # or counter deltas go wrong once old ones are evicted
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Clock:
    """Wall and process-tree CPU seconds of each step of one pass; with
    a tracer, a step is also a span."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.times: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.total = self.cpu_total = 0.0

    @contextlib.contextmanager
    def step(self, name: str, span: str | None = None):
        from counters import tree_cpu_s

        cm = self.tracer.span(span) if self.tracer and span else contextlib.nullcontext()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with cm:
            yield
        dt = time.perf_counter() - t0
        dc = tree_cpu_s() - c0
        self.times[name].append(dt)
        self.cpu[name].append(dc)
        self.total += dt
        self.cpu_total += dc


def _med(values) -> float:
    return statistics.median(list(values))


def _layer_metrics(tracer, passes: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics (medians over traced passes) and the
    per-function detail behind them."""
    from workloads import LAYERS, layer_of

    stats = ("calls", "self_s", "jobs", "executor_s", "shuffle_mb")
    by_fn: dict = defaultdict(lambda: dict.fromkeys(stats, 0.0))
    for s in tracer.self_stats():
        acc = by_fn[(s["name"], s["pass"])]
        acc["calls"] += 1
        acc["self_s"] += s["self_s"]
        acc["jobs"] += s["jobs"]
        acc["executor_s"] += s["executor_ms"] / 1e3
        acc["shuffle_mb"] += (s["shuffle_read"] + s["shuffle_write"]) / 1e6
    by_layer: dict = defaultdict(lambda: dict.fromkeys(stats, 0.0))
    for (name, p), acc in by_fn.items():
        for k in stats:
            by_layer[(layer_of(name), p)][k] += acc[k]

    def s5(rows: list[dict], walls: list[float]) -> dict:
        return {
            "calls": _med(r["calls"] for r in rows),
            "wall_s": _med(r["self_s"] for r in rows),
            "self_share": _med(r["self_s"] / w for r, w in zip(rows, walls)),
            "jobs": _med(r["jobs"] for r in rows),
            "executor_s": _med(r["executor_s"] for r in rows),
            "slot_util": _med(
                r["executor_s"] / (r["self_s"] * CORES) if r["self_s"] else 0.0 for r in rows
            ),
            "shuffle_mb": _med(r["shuffle_mb"] for r in rows),
        }

    ns = [p["n"] for p in passes]
    walls = [p["wall"] for p in passes]
    zero = dict.fromkeys(stats, 0.0)
    metrics = {}
    for layer, keep in LAYERS.items():
        row = s5([by_layer.get((layer, n), zero) for n in ns], walls)
        for k in keep:
            metrics[f"{layer}.{k}"] = row[k]
    detail = {}
    for name in sorted({name for name, _ in by_fn}):
        rows = [by_fn.get((name, n), zero) for n in ns]
        detail[name] = s5(rows, walls)
        setup = by_fn.get((name, -1))
        if setup:
            detail[f"setup:{name}"] = {"wall_s": setup["self_s"], "jobs": setup["jobs"]}
    return metrics, detail


def _session_metrics(passes: list[dict]) -> dict:
    def m(f):
        return _med(f(p) for p in passes)

    return {
        "session.jobs": m(lambda p: p["d"]["jobs"]),
        "session.stages": m(lambda p: p["d"]["stages"]),
        "session.tasks": m(lambda p: p["d"]["tasks"]),
        "session.executor_s": m(lambda p: p["d"]["executor_ms"] / 1e3),
        "session.slot_util": m(lambda p: p["d"]["executor_ms"] / 1e3 / (p["wall"] * CORES)),
        "session.gc_s": m(lambda p: p["d"]["gc_ms"] / 1e3),
        "session.shuffle_mb": m(lambda p: (p["d"]["shuffle_read"] + p["d"]["shuffle_write"]) / 1e6),
        "session.spill_mb": m(lambda p: p["d"]["spill"] / 1e6),
        "session.driver_gap_s": m(lambda p: p["gap"]),
        "session.retained_rdds": m(lambda p: p["retained"][0]),
        "session.retained_mb": m(lambda p: p["retained"][1]),
        "io.input_mb": m(lambda p: p["d"]["input_bytes"] / 1e6),
        "io.input_rows": m(lambda p: p["d"]["input_rows"]),
    }


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    import workloads
    from counters import RssSampler, StatusCounters, delta, driver_gap_s, tree_cpu_s
    from spans import Tracer

    wl = workloads.WORKLOADS[workload_name]
    work = os.path.join(HERE, ".work", f"{workload_name}-{seed}-{os.getpid()}")
    _env(work)
    data = os.path.join(work, "data")
    spark = None
    try:
        t0 = time.perf_counter()
        info = wl.generate(data, seed)
        info["gen_s"] = time.perf_counter() - t0

        setups, setups_cpu = [], []
        tracer = counters = None
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            spark = _session()
            if trace and i == SETUPS - 1:
                # the last set-up is traced as pass -1
                counters = StatusCounters(spark)
                tracer = Tracer(counters)
                tracer.pass_no = -1
                with tracer.patch(workloads.TRACED):
                    wl.prepare(spark, data)
            else:
                wl.prepare(spark, data)
            setups.append(time.perf_counter() - t0)
            setups_cpu.append(tree_cpu_s() - c0)
        wl.bind(spark, data, info)

        attempted = failed = 0
        warmup_cpu = 0.0
        for _ in range(WARMUP_PASSES):
            clock = Clock()
            got = wl.run_pass(clock)
            warmup_cpu += clock.cpu_total
            attempted += len(got)
            failed += wl.failures(got)

        walls: list[float] = []  # untraced passes
        cpus: list[float] = []
        by_pass: list[float] = []  # every pass, in order
        steps: dict[str, list[float]] = defaultdict(list)
        steps_cpu: dict[str, list[float]] = defaultdict(list)
        traced: list[dict] = []
        deadline = time.perf_counter() + seconds
        # memory is sampled in traced runs only: the sampler thread takes
        # the interpreter lock from the driver-bound loops it would time
        with RssSampler() if trace else contextlib.nullcontext() as rss:
            n = 0
            # a traced run alternates untraced and traced passes and ends
            # on an untraced one, so every traced pass has an untraced
            # one on each side
            while (
                n < (3 if trace else 1)
                or time.perf_counter() < deadline
                or (trace and n % 2 == 0)
            ):
                if trace and n % 2 == 1:
                    tracer.pass_no = n
                    clock = Clock(tracer)
                    c0, j0, e0 = counters.snapshot(), len(counters.job_times), time.time()
                    with tracer.patch(workloads.TRACED):
                        got = wl.run_pass(clock)
                    e1 = time.time()
                    traced.append(
                        {
                            "n": n,
                            "wall": clock.total,
                            "d": delta(counters.snapshot(), c0),
                            "gap": driver_gap_s(counters.job_times[j0:], e0, e1),
                            "retained": counters.retained(),
                        }
                    )
                else:
                    clock = Clock()
                    got = wl.run_pass(clock)
                    walls.append(clock.total)
                    cpus.append(clock.cpu_total)
                    for k, v in clock.times.items():
                        steps[k] += v
                        steps_cpu[k] += clock.cpu[k]
                by_pass.append(clock.total)
                attempted += len(got)
                failed += wl.failures(got)
                n += 1

        info.update(
            setups=setups,
            setups_cpu=setups_cpu,
            warmup_cpu=warmup_cpu,
            walls=walls,
            cpus=cpus,
            traced_walls=[p["wall"] for p in traced],
            step_s={k: _med(v) for k, v in steps.items()},
        )
        if trace:
            metrics, info["detail"] = _layer_metrics(tracer, traced)
            metrics.update(_session_metrics(traced))
            metrics["session.peak_rss_mb"] = rss.peak_mb
            metrics["session.pass_wall_s"] = _med(walls)
            # against the mean of the neighbouring untraced passes, which
            # cancels the drift of a still-warming JVM
            metrics["tracing_overhead_s"] = _med(
                by_pass[p["n"]] - (by_pass[p["n"] - 1] + by_pass[p["n"] + 1]) / 2
                for p in traced
            )
            out_dir = os.path.join(HERE, ".out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{workload_name}-{seed}.json"))
        else:
            # CPU seconds of the process tree: on a shared host, wall time
            # also counts the time other tenants take from this one
            metrics = {
                "setup_s": _med(setups_cpu) + warmup_cpu,
                "cpu_s": _med(cpus),
                # each operation's median, so every query weighs the same
                "query_cpu_ms_geomean": statistics.geometric_mean(
                    _med(v) * 1e3 for v in steps_cpu.values()
                ),
            }
            info["wall_s"] = _med(walls)
            info["query_ms_geomean"] = statistics.geometric_mean(
                _med(v) * 1e3 for v in steps.values()
            )
        return {"attempted": attempted, "failed": failed, "metrics": metrics, "info": info}
    finally:
        with contextlib.suppress(Exception):
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def unit(metric: str) -> str:
    """Unit of a reported metric, from its name."""
    for suffix, u in (
        ("_ms_geomean", "ms"),
        ("_mb", "MB"),
        ("_s", "s"),
        ("_share", "ratio"),
        ("slot_util", "ratio"),
        ("_rows", "count"),
        ("_rdds", "count"),
        ("calls", "count"),
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
    ):
        if metric.endswith(suffix):
            return u
    raise KeyError(metric)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import graphragdatapipeline_spark  # noqa: F401  (fails outside a checkout)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    info = res["info"]
    detail = info.pop("detail", None)
    print(json.dumps({"info": info}, default=str), file=sys.stderr)
    if detail is not None:
        print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": unit(k)} for k, v in sorted(res["metrics"].items())
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
