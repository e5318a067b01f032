"""SparkSession factory with scale-oriented defaults.

The reference pipeline relies on Polars' lazy engine for pushdown and
streaming sinks (reference: defs/io_managers.py:96-140). On Spark the
equivalent work is Catalyst's — we only need to turn the right knobs:

- AQE on (runtime coalescing, skew-join splitting),
- Arrow on (vectorized pandas-UDF boundary for the few Python kernels),
- UTC session timezone so parquet NTZ/LTZ wall-clock values are stable
  across engines (the DuckDB oracle reads naive timestamps),
- shuffle partition count sized for the local harness but overridable
  via env for cluster deployment,
- a generated-class cache that holds the engine's working set. Spark
  caches whole-stage-codegen classes in a JVM-wide LRU of 100 entries;
  the queries run in a cycle over more classes than that (one etl_20x
  pass uses 133, the full registry 2757 at sf0.001), and a cycle longer
  than an LRU misses on every access. At 100 entries every etl_20x pass
  recompiled 124 classes with Janino and re-JITted them (about a fifth
  of its CPU); at 4096 the second pass compiles none.

The codegen cache and ``spark.driver.memory`` are static: they take
effect only in a session this module builds (or a cluster launched with
them). A session someone else built keeps Spark's values; only
``_RUNTIME_DEFAULTS`` are applied to it.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# Defaults tuned for the local[32] harness; on a real cluster these are
# overridden by spark-submit conf (documented in README).
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects natively; read nanos as long and rebuild micros in
    # io.read_table — same truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound the rows per Arrow batch reaching Python kernels (blob
    # payloads can be MBs each); the multimodal row kernels slice each
    # batch further (multimodal.blob._map_rows' ``rows``) instead of
    # mutating session conf.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # 96 MiB input splits: big enough to amortize task overhead locally,
    # small enough that a 100 TB table still yields ~1M tasks, not 10M.
    "spark.sql.files.maxPartitionBytes": "96m",
    # ...but never fewer splits than cores: a 30 MB table must still
    # fan out across the executor slots instead of running on 1-3 tasks
    # (advisory; maxPartitionBytes still governs huge inputs).
    "spark.sql.files.minPartitionNum": str(os.cpu_count() or 8),
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.shuffle.partitions": "32",
    # RocksDB state store: streaming state (dedup pairs, window panes,
    # per-key stateful ops) lives off-heap and spills to disk — the
    # in-memory HDFS-backed default OOMs once stateful-operator
    # cardinality outgrows executor heap, which a 100 TB stream does on
    # day one.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Static and JVM-wide: read once, at the first codegen in the JVM.
    # Holds the full registry's 2757 classes at sf0.001 with headroom for
    # the plan variants AQE picks at other scales (module docstring).
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.ui.enabled": "false",
}


def get_session(
    app_name: str = "graphragdatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Runtime-settable confs every engine entry point needs regardless of
# who built the SparkSession (the correctness harness hands us ITS
# session). Centralized here — query bodies must not spark.conf.set.
_RUNTIME_DEFAULTS = {
    # Oracle comparability: DuckDB reads naive timestamps as wall-clock;
    # a non-UTC session would shift every emitted timestamp string.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_CONFED_APPS: set[str] = set()


def ensure_session_defaults(spark: SparkSession) -> None:
    """Apply `_RUNTIME_DEFAULTS` to a caller-provided session, once per
    SparkContext. Idempotent; the single sanctioned place for runtime
    conf mutation (VERDICT r2 #6)."""
    app = spark.sparkContext.applicationId
    if app in _CONFED_APPS:
        return
    for k, v in _RUNTIME_DEFAULTS.items():
        spark.conf.set(k, v)
    _CONFED_APPS.add(app)


_SHIPPED_APPS: set[str] = set()
_PKG_ZIP: str | None = None


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile.

    Arrow/pandas kernels that reference module-level functions are
    cloudpickled BY REFERENCE (the module is importable on the driver),
    so Python workers must be able to import the package too. On a real
    cluster that means shipping a zip with the job — the same holds for
    a driver process whose cwd/PYTHONPATH doesn't include the repo
    (the correctness harness runs that way). Zip is built once per
    driver process, added once per SparkContext."""
    global _PKG_ZIP
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED_APPS:
        return
    if _PKG_ZIP is None:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        root = os.path.dirname(pkg_dir)
        zpath = os.path.join(
            tempfile.mkdtemp(prefix="ggdp_spark_"), "graphragdatapipeline_spark.zip"
        )
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith((".py",)):
                        full = os.path.join(dirpath, fname)
                        zf.write(full, os.path.relpath(full, root))
        _PKG_ZIP = zpath
    sc.addPyFile(_PKG_ZIP)
    _SHIPPED_APPS.add(app)


def ensure_parallelism(df):
    """Fan a narrow source out across the executor slots before
    CPU-heavy per-row work (hashing, shingling, chunking, embedding).

    Parquet cannot split inside a row group, so a small file with one
    row group scans as ONE task no matter how many cores exist — and
    everything map-side after it inherits that. When the scan's
    parallelism is below the cluster's slot count, a round-robin
    repartition (cheap at the sizes where this triggers) unlocks the
    other cores. At 100 TB the input has thousands of row groups, the
    condition is false, and this is a no-op — no shuffle added."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, slots // 2):
        return df.repartition(slots)
    return df


# Driver threads run_concurrently keeps busy at once.
_MAX_THREADS = 4


def run_concurrently(spark: SparkSession, calls: list[Callable[[], Any]]) -> list:
    """Run independent zero-argument ``calls`` on driver threads, at
    most ``_MAX_THREADS`` at once, and return their results in call
    order. The engine's only thread pool: concurrent driver threads let
    one iterative program's jobs fill the idle slots of another's stage
    tails. Use it only where a `profile` A/B shows that this pays.

    Each call runs under ``inheritable_thread_target(spark)``, so its
    jobs keep the caller's job group and local properties (pinned-thread
    mode does not pass them to a new Python thread). Bind each call's
    arguments when building the list (``functools.partial``), never by
    a closure over a loop variable. Every call finishes before any
    result is read, so the first exception, in call order, is raised
    only once the others are done."""
    with ThreadPoolExecutor(max_workers=_MAX_THREADS) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    return [f.result() for f in futures]


def _free_checkpoint(df, reads: bool = False) -> None:
    """Release a localCheckpoint's storage blocks NOW — ``df``'s own,
    or with ``reads`` those of every checkpoint its plan reads (a frame
    derived from a graph loop's final state, or a sink batch's output).

    ``DataFrame.unpersist()`` is a no-op for checkpoints (their blocks
    belong to an internal RDD the CacheManager doesn't track), and
    ContextCleaner GC is too lazy for tight iterative loops at scale —
    measured executor OOM on a 2×10⁸-row ER pair graph from superseded
    per-round label tables that were awaiting collection — and leaves
    a long-lived streaming session holding per-batch blocks. Reaches each
    LogicalRDD's backing RDD id and unpersists it directly;
    best-effort (a non-checkpoint plan is left untouched)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        plans = [leaves.apply(i) for i in range(leaves.size())] if reads else [plan]
        for p in plans:
            if p.getClass().getSimpleName() == "LogicalRDD":
                df.sparkSession.sparkContext._jsc.sc().unpersistRDD(p.rdd().id(), False)
    except Exception:  # pragma: no cover — py4j internals shifted
        pass
