"""Table catalog + parquet/JSONL I/O.

Maps the reference's I/O-manager surface (S1–S6,
reference: defs/io_managers.py:84-232) onto Spark's native readers and
the Hadoop commit protocol (which already gives the temp-file +
atomic-rename semantics the reference hand-rolls at io_managers.py:94-114).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S2: lazy parquet scan of one fixture table.

    Accepts both ``{dir}/{name}.parquet`` single files and
    ``{dir}/{name}/`` hive-partitioned directories — partition pruning
    and column pruning are Catalyst-native either way.

    The ``events`` fixture stores TIMESTAMP(NANOS) which Spark's parquet
    reader rejects; we read nanos as long (runtime conf, so this works
    under any caller-provided session) and rebuild a microsecond
    timestamp column — same truncation DuckDB applies.
    """
    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    path = file_path if os.path.exists(file_path) else dir_path
    if name == "events":
        from graphragdatapipeline_spark.session import ensure_session_defaults

        ensure_session_defaults(spark)
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # Integer floor-division: double division rounds half the
            # odd-nanosecond values UP, drifting 1 µs vs DuckDB's
            # truncation on ~1.6% of rows.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S3: parquet sink. Atomicity comes from the Hadoop commit protocol
    (stage to _temporary/, rename on job commit) — the Spark-native
    equivalent of the reference's tmp-file + shutil.move."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S5: JSONL scan with a declared schema (no inference drift)."""
    return spark.read.schema(schema).json(path)


def write_sparse_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: sparse JSONL sink — null keys omitted per row, matching the
    reference's sparse writer (io_managers.py:165-203)."""
    out = df.select(
        F.to_json(F.struct(*df.columns), {"ignoreNullFields": "true"}).alias("value")
    )
    out.write.mode(mode).text(path)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Z-order (Morton) key over `cols` for multi-column data-skipping
    layout: each column is quantile-bucketed into 2^bits ranks (equal-
    population, so skew cannot collapse the curve), and the rank bits
    are interleaved — rows close in EVERY dimension get close keys, so
    a range-partitioned rewrite on this key gives every file a small
    bounding box in all clustered columns at once. Single-column
    clustering optimizes one predicate; Z-order keeps min/max row-group
    stats selective for predicates on ANY of the clustered columns.

    Built entirely from native expressions: the quantile boundaries
    are a driver-side approxQuantile (one aggregate pass, standard for
    layout jobs), shipped as an array literal — the per-row bucket
    lookup and bit interleave are map-side, no shuffle, no UDF.
    bits * len(cols) must fit a long (≤ 63)."""
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must be <= 63")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # One approxQuantile call for ALL columns: the list form computes
    # every column's sketch in a single aggregate pass over the data,
    # vs. one full scan per column with the scalar form.
    all_bounds = df.approxQuantile(list(cols), probs, 0.001)
    z = F.lit(0).cast("long")
    for c_idx, c in enumerate(cols):
        bounds = all_bounds[c_idx]
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        # rank = how many boundaries lie at/below this value (0..2^bits-1)
        rank = F.size(
            F.filter(arr, lambda b: b <= F.col(c).cast("double"))
        ).cast("long")
        for bit in range(bits):
            z = z + F.shiftleft(
                F.shiftright(rank, bit).bitwiseAND(F.lit(1)),
                bit * len(cols) + c_idx,
            )
    return z


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Small-file compaction — the maintenance job every long-running
    100 TB pipeline needs: streaming sinks and per-partition writers
    accumulate thousands of KB-sized files, and scan parallelism plus
    the driver's file-listing cost degrade with file COUNT, not bytes.

    Sizes the output from the ACTUAL input bytes (not a guess at row
    width): n_files = ceil(input_bytes / target). With `cluster_by`
    the rewrite range-partitions on those columns, so every output
    file covers a narrow key range and parquet row-group min/max
    stats prune reads for key-range predicates — compaction and
    data-skipping layout in one pass. Returns the output file count."""
    import math

    if os.path.realpath(src_dir) == os.path.realpath(dst_dir):
        raise ValueError(
            "compact_parquet: src_dir and dst_dir must differ — "
            "overwrite-while-reading the same path can destroy the source"
        )
    df = spark.read.parquet(src_dir)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(total / target_bytes_per_file))
    if zorder_by:
        df = df.withColumn("_z", zorder_key(df, zorder_by))
        df = (
            df.repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    elif cluster_by:
        df = df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
        df = df.sortWithinPartitions(*cluster_by)
    else:
        # coalesce never splits: merging small files is shuffle-free;
        # an input already at/below the target passes through untouched
        df = df.coalesce(n_files)
    df.write.mode("overwrite").parquet(dst_dir)
    return len(spark.read.parquet(dst_dir).inputFiles())


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    buckets: int = 32,
    path: str | None = None,
) -> None:
    """Bucketed parquet table: pre-shuffled on disk by bucket_cols.

    Two tables bucketed on the same key with the same bucket count
    join with ZERO exchanges — the shuffle was paid once at write time
    and amortizes over every subsequent join/aggregation on that key.
    This is the 100 TB answer for repeatedly-joined fact tables
    (reference's Neo4j id-indexed lookups play this role at its scale,
    ingest_graph_db.py:23-46)."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
