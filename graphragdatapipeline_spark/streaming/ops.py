"""Structured Streaming layer (SURVEY §2.13 — engine extension).

The reference has no true streaming; its closest analogues are
micro-batch slicing (ingest_vector_db.py:76-93) and async batch
fan-out (network_helpers.py:129-173). This module adds the real
thing over event tables: watermarked tumbling/sliding/session
windows, streaming dedup, and foreachBatch sinks mirroring the batch
ingestion assets.

Every operator is written against a plain DataFrame so the SAME code
runs in batch mode (driver correctness checks, backfills) and in
streaming mode (readStream input) — the Structured Streaming
unification. Window keys are emitted as epoch seconds: timezone-proof
across engines and serialization boundaries.

Index sinks. The five foreachBatch index sinks (exact dedup, near-dup,
vector, co-occurrence, substring) share one exactly-once protocol
without a transactional table format. Each index is declared once
(``_Index``: its tables, their merge rules, its commit dir, whether it
owns its markers); one commit path (``_index_sink``), one compaction
path (``_compact``) and one read (``_read``) serve all five.

- Layout: a micro-batch lands each table at ``<table>/epoch=N`` and a
  marker at ``<commits>/N``. Compaction writes
  ``<table>/_compacted/upto=M`` and its marker ``<table>/_compactions/M``.
- Commit point: the batch overwrites each table's ``epoch=N``
  (foreachBatch retries reuse the epoch id, so the rewrite is
  idempotent), then lands the marker. Readers see only marked epochs:
  the compacted generation at the watermark plus the epochs after it.
  A batch that reads its own index reads committed epochs only, so a
  retry of a half-committed epoch recomputes the same rows and
  converges — no drops, no duplicates. Once the marker lands, the
  localCheckpoints the batch's frames read are released.
- Merge rules: additive (groupBy keys, sum — shingle df, co-occurrence
  counts), identity (set-valued: bands, fingerprints, guard ids), or a
  fold (the vector index's latest-wins). Compaction and the additive
  reads apply the same declared rule.
- Compaction: one marker listing pins the epoch set and every
  compactable table folds exactly that set to one shared watermark.
  The inline cadence (``auto_compact_every``) never gc's; an explicit
  quiesced ``gc=True`` run (CLI ``compact-index --gc``) reclaims what the
  generation supersedes.
- Marker ownership: markers at or below the watermark are deleted only
  after every table sharing them has compacted, and only if the index
  owns them (vector, co-occurrence, substring). The dedup sinks commit
  under the corpus's markers; the corpus is never compacted, so those
  markers are never deleted.
- Missing data: a marked epoch above the watermark without its data
  dir is lost data and reads raise — except for the substring guard's
  ``_ids`` sidecar, which can be enabled mid-life (``allow_missing``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphragdatapipeline_spark.registry import dsum
from graphragdatapipeline_spark.session import _free_checkpoint

# file-size target of a coalesced compacted generation, and AQE's
# advisory partition size for a partitioned one
_TARGET_FILE_BYTES = 128 * 1024 * 1024

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S7-analog as a true stream: file-source readStream over a
    parquet directory (each new file = a micro-batch)."""
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def with_watermark(df: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Late-data bound; no-op on batch frames."""
    return df.withWatermark("ts", delay) if df.isStreaming else df


def tumbling_window_agg(df: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window per event_type: count + value sum.
    Batch and streaming share this plan; upstream adds the watermark
    in streaming mode."""
    w = F.window("ts", width)
    return (
        df.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(
    df: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    w = F.window("ts", width, slide)
    return (
        df.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_windows(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events within `gap` of each other
    merge. Native session_window works in both batch and streaming."""
    sw = F.session_window("ts", gap)
    return (
        df.groupBy(sw.alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("s.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def windowed_distinct_users(
    df: DataFrame, width: str = "1 day", slide: str | None = None
) -> DataFrame:
    """Distinct active users per (optionally sliding) event-time
    window — the streaming-safe form of countDistinct.

    Streaming cannot run countDistinct inside a windowed aggregation
    (per-group distinct state is unbounded), so this uses the
    production two-phase pattern: project each event onto its
    window(s), drop duplicate (window, user) pairs — state is one row
    per pair, expired by the upstream watermark — then count rows per
    window. The batch twin is the identical plan with a plain
    dropDuplicates; both sides count each user once per window."""
    w = F.window("ts", width, slide or width)
    proj = df.select(w.alias("w"), "user_id")
    dd = proj.dropDuplicates(["w", "user_id"])
    return (
        dd.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n_active",
        )
    )


def dedup_keep_first(
    df: DataFrame, keys: list[str], order_col: str = "ts", tiebreak: str = "event_id"
) -> DataFrame:
    """Streaming-dedup semantics in batch: keep the earliest row per
    key (deterministic tiebreak). In streaming mode use
    dropDuplicatesWithinWatermark(keys) — same contract under the
    watermark."""
    if df.isStreaming:
        return df.dropDuplicatesWithinWatermark(keys)
    w = Window.partitionBy(*keys).orderBy(F.asc(order_col), F.asc(tiebreak))
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def write_foreach_batch(stream_df: DataFrame, batch_fn, checkpoint_dir: str):
    """foreachBatch sink — the streaming mirror of the reference's
    batched upsert sinks (ingest_vector_db.py:181-204): each
    micro-batch DataFrame is handed to `batch_fn(df, epoch_id)` and
    the query drains what is available now, then stops."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _hadoop_fs(spark, d: str):
    """Hadoop FileSystem for a path via the JVM gateway — the
    storage-agnostic way to list/create commit markers (works on
    local FS in tests and HDFS/S3A on a cluster alike)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(d)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm, path


def _delete(spark, p: str) -> None:
    fs, _, path = _hadoop_fs(spark, p)
    fs.delete(path, True)


def committed_epochs(spark, commits_dir: str) -> list[int]:
    """Epoch ids with a commit marker, ascending."""
    fs, _, path = _hadoop_fs(spark, commits_dir)
    if not fs.exists(path):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(path)]
    return sorted(int(n) for n in names if n.isdigit())


def _mark_committed(spark, commits_dir: str, epoch: int) -> None:
    fs, _, path = _hadoop_fs(spark, f"{commits_dir}/{epoch}")
    fs.create(path, True).close()


def compacted_upto(spark, data_dir: str) -> int | None:
    """Highest committed compaction watermark for `data_dir` (None if
    never compacted): the max marker in `<data_dir>/_compactions`,
    meaning epochs ≤ that id are superseded by
    `<data_dir>/_compacted/upto=<id>`."""
    return max(committed_epochs(spark, f"{data_dir}/_compactions"), default=None)


def _committed_parts(
    spark,
    data_dir: str,
    commits_dir: str,
    allow_missing: bool = False,
    epochs: list[int] | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """The two physical halves of a table's consistent view, separately:
    (compacted generation or None, committed post-watermark tail or
    None), the tail over ``epochs`` if given, else over a fresh marker
    listing. The vector probe's tail-bounded winner resolution needs
    the halves individually (the compacted generation has unique ids by
    construction; the tail does not), and a generation written with
    partitionBy() carries hive partition columns the raw epoch dirs
    store as data columns — one combined spark.read.parquet over both
    layouts would mis-discover the partition schema, so each half gets
    its own scan.

    A committed epoch ABOVE the watermark whose directory is absent is
    LOST DATA for a primary table (gc only ever deletes epochs ≤ the
    watermark), so the default is to raise rather than return a
    silently smaller view. ``allow_missing=True`` skips it, ONLY for a
    sidecar that legitimately starts mid-life (module docstring)."""
    upto = compacted_upto(spark, data_dir)
    if epochs is None:
        epochs = committed_epochs(spark, commits_dir)
    fs, jvm, _ = _hadoop_fs(spark, data_dir)
    dirs = []
    for e in sorted(epochs):
        if upto is not None and e <= upto:
            continue
        p = f"{data_dir}/epoch={e}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(p)):
            dirs.append(p)
        elif not allow_missing:
            raise FileNotFoundError(
                f"committed epoch {e} above compaction watermark {upto} has no "
                f"data directory at {p} — lost data for a primary index "
                f"(pass allow_missing=True only for mid-life sidecar dirs)"
            )
    comp = _read_generation(spark, fs, jvm, data_dir, upto)
    tail = spark.read.parquet(*dirs) if dirs else None
    return comp, tail


def _read_generation(spark, fs, jvm, data_dir: str, upto: int | None):
    """The compacted generation at watermark ``upto`` as a DataFrame,
    or None (never compacted, or the generation is EMPTY — a
    latest-wins fold of an all-tombstoned index writes no data files,
    and with partitionBy there is nothing to infer a schema from, so
    empty reads as 'no rows', not as an error)."""
    if upto is None:
        return None
    cd = f"{data_dir}/_compacted/upto={upto}"
    has_data = any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(cd))
    )
    return spark.read.parquet(cd) if has_data else None


def read_committed_epochs(
    spark, data_dir: str, commits_dir: str, allow_missing: bool = False
):
    """Union of the table's COMMITTED epoch partitions (None when no
    epoch has committed yet): the compacted generation at the
    watermark, if any, plus only the committed epochs after it.
    Readers never observe a half-written batch, and read cost is
    bounded by the compaction cadence instead of the sink's lifetime.
    Missing-dir strictness is documented on _committed_parts."""
    return _union(*_committed_parts(spark, data_dir, commits_dir, allow_missing))


def _union(comp: DataFrame | None, tail: DataFrame | None):
    if tail is None:
        return comp
    if comp is None:
        return tail
    # unionByName: a partitionBy-written generation surfaces its
    # partition columns LAST while epoch dirs store them in data order
    return tail.unionByName(comp)


@dataclass(frozen=True)
class _Table:
    """One epoch-partitioned table of an index and its merge rule:
    additive (``keys`` + ``sums``: groupBy-sum), a ``fold`` (written
    hive-partitioned by ``partition_by``), or identity (neither).
    ``compact=False`` keeps a table out of compaction (the dedup
    corpora); ``allow_missing`` marks a sidecar that may start
    mid-life."""

    path: str
    keys: tuple[str, ...] = ()
    sums: tuple[str, ...] = ()
    fold: Callable[[DataFrame], DataFrame] | None = None
    partition_by: tuple[str, ...] = ()
    allow_missing: bool = False
    compact: bool = True


@dataclass(frozen=True)
class _Index:
    """The tables one sink commits together under the markers in
    ``commits``. The first compactable table is the primary: its
    watermark is the index's. Compaction may gc the markers only if
    the index ``owns_markers``."""

    commits: str
    tables: dict[str, _Table]
    owns_markers: bool = True


def _index_sink(
    stream_df: DataFrame,
    index: _Index,
    compute,
    checkpoint_dir: str,
    auto_compact_every: int | None = None,
):
    """The one commit path. ``compute(df, epoch_id)`` returns the
    batch's {table name: frame}; each frame overwrites its table's
    `epoch=N`, the marker lands, the checkpoints the frames read are
    released, and the index is compacted inline (gc=False) once
    ``auto_compact_every`` epochs sit above its watermark."""

    def batch_fn(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        frames = compute(df, epoch_id)
        for name, frame in frames.items():
            frame.write.mode("overwrite").parquet(
                f"{index.tables[name].path}/epoch={epoch_id}"
            )
        _mark_committed(spark, index.commits, epoch_id)
        for frame in frames.values():
            _free_checkpoint(frame, reads=True)
        if _auto_compact_due(spark, index, auto_compact_every):
            _compact(spark, index)

    return write_foreach_batch(stream_df, batch_fn, checkpoint_dir)


def _auto_compact_due(spark, index: _Index, every: int | None) -> bool:
    """True when ``every`` committed epochs sit above the primary's
    watermark."""
    if not every:
        return False
    first = next(t for t in index.tables.values() if t.compact)
    upto = compacted_upto(spark, first.path)
    tail = [
        e for e in committed_epochs(spark, index.commits) if upto is None or e > upto
    ]
    return len(tail) >= every


def _compact(spark, index: _Index, gc: bool = False) -> int | None:
    """The one compaction path: ONE marker listing pins the epoch set,
    every compactable table folds exactly that set to one shared
    watermark, and only then — if ``gc`` and the index owns its
    markers — the markers ≤ the watermark are deleted. Returns the
    primary's watermark."""
    pinned = committed_epochs(spark, index.commits)
    uptos = [
        compact_index_epochs(
            spark,
            t.path,
            index.commits,
            t.keys,
            t.sums,
            gc=gc,
            epochs=pinned,
            allow_missing=t.allow_missing,
            fold=t.fold,
            partition_by=t.partition_by,
        )
        for t in index.tables.values()
        if t.compact
    ]
    if gc and index.owns_markers and uptos[0] is not None:
        for e in pinned:
            if e <= uptos[0]:
                _delete(spark, f"{index.commits}/{e}")
    return uptos[0]


def _read(spark, index: _Index, name: str):
    """The committed view of one table under its merge rule (additive
    tables summed per key; identity tables as stored); None before the
    first commit."""
    t = index.tables[name]
    df = read_committed_epochs(spark, t.path, index.commits, t.allow_missing)
    return df if df is None or not t.sums else _sum_by(df, t.keys, t.sums)


def _sum_by(df: DataFrame, keys, sums) -> DataFrame:
    return df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])


def compact_index_epochs(
    spark,
    data_dir: str,
    commits_dir: str,
    group_cols: list[str] | None = None,
    sum_cols: list[str] | None = None,
    gc: bool = False,
    epochs: list[int] | None = None,
    allow_missing: bool = False,
    fold=None,
    partition_by: list[str] | None = None,
) -> int | None:
    """Fold one table's committed epochs (the prior generation plus
    every epoch above it) into `_compacted/upto=M`, M the highest
    epoch folded, then land `_compactions/M` — the atomic commit point;
    a torn write without its marker is invisible and the next run
    overwrites it. Returns the new watermark (the old one if nothing
    new committed).

    The merge rule is ``fold`` (any watermark-safe rewrite: applied to
    an epoch prefix, its output merged with the remaining tail under
    the read rule equals the read over raw epochs), else
    groupBy(group_cols).sum(sum_cols), else identity. ``partition_by``
    hive-partitions the generation (range-repartitioned first, files
    sized by AQE from the post-fold bytes); otherwise it is coalesced
    to one file per _TARGET_FILE_BYTES of input.

    ``epochs`` pins the committed set: the input is built from that
    one listing, never by re-listing, so an epoch that commits
    mid-compaction stays in the tail and is never counted twice.
    ``allow_missing`` is the sidecar escape hatch (a pinned epoch with
    no data dir otherwise raises). Safe to run beside the live sink;
    `gc=True` additionally deletes everything the generation
    supersedes — even when nothing new was folded — and must run
    quiesced, since a reader that listed epochs just before could race
    the deletes. Commit markers are never touched here (_compact)."""
    import math

    if epochs is None:
        epochs = committed_epochs(spark, commits_dir)
    prior = upto = compacted_upto(spark, data_dir)
    todo = [e for e in epochs if prior is None or e > prior]
    if todo:
        cur = _union(
            *_committed_parts(spark, data_dir, commits_dir, allow_missing, todo)
        )
        if cur is None:
            return prior
        if fold is not None:
            out = fold(cur)
        elif sum_cols:
            out = _sum_by(cur, group_cols or [], sum_cols)
        else:
            out = cur
        upto = max(todo)
        target = f"{data_dir}/_compacted/upto={upto}"
        if partition_by:
            # the advisory size is session-global: restore it after the
            # (eager) write
            key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
            prev = spark.conf.get(key, None)
            spark.conf.set(key, str(_TARGET_FILE_BYTES))
            try:
                out.repartitionByRange(*partition_by).write.mode(
                    "overwrite"
                ).partitionBy(*partition_by).parquet(target)
            finally:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
        else:
            fs, jvm, _ = _hadoop_fs(spark, data_dir)

            def _len(p: str) -> int:
                hp = jvm.org.apache.hadoop.fs.Path(p)
                return fs.getContentSummary(hp).getLength() if fs.exists(hp) else 0

            total = sum(_len(f"{data_dir}/epoch={e}") for e in todo)
            if prior is not None:
                total += _len(f"{data_dir}/_compacted/upto={prior}")
            # coalesce never splits: an input at/below target passes through
            n_files = max(1, math.ceil(total / _TARGET_FILE_BYTES))
            out.coalesce(n_files).write.mode("overwrite").parquet(target)
        _mark_committed(spark, f"{data_dir}/_compactions", upto)
    if gc and upto is not None:
        # reclaim what the generation supersedes: epoch dirs ≤ the
        # watermark (also those an earlier gc=False run folded) and
        # every older generation with its marker
        for e in epochs:
            if e <= upto:
                _delete(spark, f"{data_dir}/epoch={e}")
        for m in committed_epochs(spark, f"{data_dir}/_compactions"):
            if m < upto:
                _delete(spark, f"{data_dir}/_compacted/upto={m}")
                _delete(spark, f"{data_dir}/_compactions/{m}")
    return upto


def compact_substring_index(spark, index_dir: str, gc: bool = False) -> int | None:
    """Compact the substring_index_sink's index: shingle counts
    pre-summed, the `_ids` guard sidecar consolidated."""
    return _compact(spark, _substring_index(index_dir), gc)


def compact_cooccurrence_index(
    spark, index_dir: str, gc: bool = False
) -> int | None:
    """Compact the cooccurrence_index_sink's three additive tables
    (edges/tf/ndocs) to one shared watermark."""
    return _compact(spark, _cooccurrence_index(index_dir), gc)


def compact_neardup_band_index(
    spark, band_index_dir: str, corpus_dir: str, gc: bool = False
) -> int | None:
    """Consolidate the incremental_neardup_sink's band-index epochs
    (identity rewrite), bounding the file count the per-batch anti-join
    lists. The corpus is never compacted and owns the commit markers,
    so they are never gc'd here."""
    return _compact(spark, _neardup_index(corpus_dir, band_index_dir), gc)


def incremental_dedup_sink(
    stream_df: DataFrame,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming corpus maintenance: every micro-batch of documents is
    exact-deduped against the COMMITTED fingerprint index
    (operators.dedup.exact_dedup_incremental), survivors landed in the
    corpus, their fingerprints in the index, under the corpus's
    markers. Micro-batches run sequentially, so each sees every prior
    batch's index rows; a retry of a half-committed epoch re-admits its
    own docs, recomputes the same survivors and overwrites both
    directories — convergence to the exact no-crash corpus (pinned in
    tests). A plain spark.read.parquet(corpus_dir) also works once all
    markers are in (`_commits` is `_`-prefixed, so Spark skips it)."""
    from graphragdatapipeline_spark.operators.dedup import (
        exact_dedup_incremental,
        fingerprint,
    )

    index = _Index(
        corpus_dir + "/_commits",
        {
            "fp": _Table(index_dir, compact=False),
            "corpus": _Table(corpus_dir, compact=False),
        },
        owns_markers=False,
    )

    def compute(df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        idx = _read(df.sparkSession, index, "fp")
        clean, _delta = exact_dedup_incremental(df, idx, id_col, text_col)
        clean = clean.localCheckpoint()  # one computation feeds both writes
        return {
            "fp": clean.select(fingerprint(F.col(text_col)).alias("fp")),
            "corpus": clean,
        }

    return _index_sink(stream_df, index, compute, checkpoint_dir)


def _neardup_index(corpus_dir: str, band_index_dir: str) -> _Index:
    return _Index(
        corpus_dir + "/_commits",
        {
            "bands": _Table(band_index_dir),
            "corpus": _Table(corpus_dir, compact=False),
        },
        owns_markers=False,
    )


def incremental_neardup_sink(
    stream_df: DataFrame,
    corpus_dir: str,
    band_index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    auto_compact_every: int | None = None,
):
    """Near-duplicate streaming corpus maintenance — the MinHash twin
    of incremental_dedup_sink: each micro-batch computes its band
    table map-side, drops docs whose bands hit the committed band index
    (a kept near-duplicate already represents them), LSH-dedups the
    survivors within the batch, then lands survivors in the corpus
    and their bands in the index, under the corpus's markers."""
    from graphragdatapipeline_spark.operators.dedup import minhash_dedup_incremental

    index = _neardup_index(corpus_dir, band_index_dir)

    def compute(df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        idx = _read(df.sparkSession, index, "bands")
        clean, bands = minhash_dedup_incremental(df, idx, id_col, text_col)
        out = {"corpus": clean.localCheckpoint(), "bands": bands.localCheckpoint()}
        # both outputs now hold their own blocks: drop the batch's
        # signature-band checkpoint they were computed from
        _free_checkpoint(bands, reads=True)
        return out

    return _index_sink(
        stream_df, index, compute, checkpoint_dir, auto_compact_every
    )


def vector_index_sink(
    stream_df: DataFrame,
    centroids: list[list[float]],
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    auto_compact_every: int | None = None,
    pq_books: list[list[list[float]]] | None = None,
):
    """Streaming ANN index maintenance — the vector twin of the
    substring / co-occurrence / near-dup sinks, closing the
    index-maintenance story for the embedding column (the reference's
    closest analogue is the batch collection rebuild in
    ingest_vector_db.py:76-93, which re-upserts the whole corpus;
    here fresh or re-embedded vectors arrive continuously and the
    index absorbs them without a rebuild).

    Per micro-batch, everything map-side (the 100 TB ingest shape):

    1. within-batch latest-wins per id — a batch may redeliver an id
       several times; ONE row is kept deterministically (highest
       xxhash64 of the vector, so foreachBatch retries pick the same
       row),
    2. nearest-centroid cell assignment against the TRAINED centroids
       (vector.similarity._encode_cells — zero shuffle; centroids are
       index metadata trained once by kmeans_cells and passed in: a
       production IVF index encodes at ingest, it never re-clusters
       per batch),
    3. rows (id, vec, cell, _epoch) land in ``index_dir/epoch=N``,
       cell-SORTED within files (sortWithinPartitions — parquet
       min/max row-group stats let a probe's cell filter skip
       non-matching row groups without paying a per-batch shuffle; at
       cluster scale you would repartition by cell too, trading one
       map-shuffle per batch for file-level pruning),
    4. the commit marker (module docstring).

    UPSERT semantics are latest-wins at read: data rows carry their
    epoch and read_vector_index keeps each id's highest-epoch row.
    DELETES are tombstones: an input row whose vector is NULL marks
    its id deleted (the right-to-be-forgotten shape — at 100 TB you
    cannot rewrite the index per deletion request). A tombstone wins
    the latest-wins resolution like any upsert, the read view filters
    it out, the probe never returns it (its cell is NULL, so it
    matches no probed cell, while its epoch makes every older row
    lose the winner join), and COMPACTION PHYSICALLY REMOVES it along
    with the rows it superseded — folded epochs are all ≤ the
    watermark, so nothing below can resurrect the id, and a
    later-epoch re-insert stays visible through the tail. Compaction
    (compact_vector_index) folds the same rule into the compacted
    generation, bounding read cost by the cadence instead of the
    sink's lifetime; ``auto_compact_every=N`` runs it inline every N
    committed epochs like the other sinks. One action per id per
    micro-batch is the supported contract; conflicting same-batch
    rows resolve deterministically (highest vector hash, NULL lowest)
    but carry no ordering meaning.

    ``pq_books`` (r13) additionally stores m residual-PQ code columns
    (`pq_0..pq_{m-1}` — pq_encode_cols over the row's residual against
    its assigned centroid; train with pq_train(centroids=…)) beside
    each vector at ingest: the IVFADC index shape, where an ADC probe
    (vector_index_probe_adc) shortlists by scanning m small ints per
    row instead of the 4·dim-byte vectors. Tombstones carry NULL
    codes like they carry NULL cell/vector.

    The encode (cell and codes) is vector.similarity._encode_cells,
    which picks its kernel by centroid count: the fold expressions up
    to 8 centroids, the Arrow-batched numpy kernel above (the ingest
    shape SCALE.md measured 93× faster at k=16). With more than 8
    centroids an EQUIDISTANT boundary vector may land in the other,
    equally near cell."""
    from graphragdatapipeline_spark.vector.similarity import _encode_cells

    index = _vector_index(index_dir, id_col, vec_col)
    code_cols = [f"pq_{i}" for i in range(len(pq_books or []))]

    def compute(df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        # deterministic within-batch pick; desc puts NULL keys last, so
        # a same-batch upsert+tombstone conflict resolves to the upsert
        w = Window.partitionBy(id_col).orderBy(
            F.desc(
                F.when(
                    F.col(vec_col).isNotNull(),
                    F.xxhash64(F.col(vec_col).cast("array<double>")),
                )
            )
        )
        # one encode per row: the struct is a single column, and the
        # field extraction below reads it, not re-runs it
        picked = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .withColumn("_enc", _encode_cells(centroids, F.col(vec_col), pq_books))
        )
        batch = picked.select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_enc.cell").alias("cell"),
            F.lit(epoch_id).cast("bigint").alias("_epoch"),
            *[F.col(f"_enc.{c}").alias(c) for c in code_cols],
        )
        return {"vectors": batch.sortWithinPartitions("cell")}

    return _index_sink(
        stream_df, index, compute, checkpoint_dir, auto_compact_every
    )


def latest_wins(df: DataFrame, id_col: str, epoch_col: str = "_epoch") -> DataFrame:
    """UPSERT resolution: each id's highest-epoch row survives. The
    merge rule of the vector index (and of any future non-additive
    sink) — factored out so the driver-oracled
    `vector_index_latest_wins` query exercises the exact production
    expression the read path runs."""
    w = Window.partitionBy(id_col).orderBy(F.desc(epoch_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def read_vector_index(
    spark, index_dir: str, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """Consistent latest-wins view of a vector_index_sink index (None
    until the first commit): each id resolved to its highest-epoch
    row, then ids whose winning row is a TOMBSTONE (NULL vector)
    dropped — a deleted id is absent from the view, exactly as if it
    were never indexed.

    TAIL-BOUNDED like the probe (r13): the compacted generation has
    unique, non-tombstoned ids by the fold contract, so the view is
    (compacted rows anti-joined on tail ids) ∪ (live tail winners) —
    the latest_wins payload shuffle runs over the cadence-bounded TAIL
    only, never the whole index (the pre-r13 shape window-shuffled
    every payload row even when the tail was empty; a full-view read
    is O(index) in scan bytes either way, but the extra full-index
    sort-shuffle doubled the I/O). On a never-compacted index the
    window over all committed epochs is the honest remaining shape.
    Equivalence argument and pins are the probe's (cross-cell upserts,
    tombstones, re-inserts — same tests snapshot this view)."""
    comp, tail = _committed_parts(
        spark, index_dir, index_dir + "/_commits"
    )
    if comp is None and tail is None:
        return None
    return tail_bounded_view(comp, tail, id_col, vec_col)


def tail_bounded_view(
    comp: DataFrame | None,
    tail: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The latest-wins view composition of read_vector_index, over the
    two physical halves as DataFrames — factored out (like latest_wins)
    so the driver-oracled `vector_index_tail_read` query exercises the
    exact production expression against a SQL replay. ``comp`` must
    honor the compacted-generation contract: unique, non-tombstoned
    ids. Exactly one of the inputs may be None."""
    if tail is None:
        return comp
    live_tail = latest_wins(tail, id_col).filter(F.col(vec_col).isNotNull())
    if comp is None:
        return live_tail
    kept = comp.join(tail.select(id_col), id_col, "left_anti")
    return kept.unionByName(live_tail)


def _vector_index(index_dir: str, id_col: str, vec_col: str) -> _Index:
    """One table whose merge rule is latest-wins with tombstones
    dropped — the SAME latest_wins expression the read path runs —
    hive-partitioned by cell, so a probe's cell filter is directory
    pruning on the generation where most reads land."""
    return _Index(
        index_dir + "/_commits",
        {
            "vectors": _Table(
                index_dir,
                fold=lambda df: latest_wins(df, id_col).filter(
                    F.col(vec_col).isNotNull()
                ),
                partition_by=("cell",),
            )
        },
    )


def compact_vector_index(
    spark,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gc: bool = False,
) -> int | None:
    """Latest-wins consolidation of the vector sink's upsert epochs:
    one row per id — the highest-epoch row — becomes the compacted
    generation, and ids whose winning row is a tombstone are dropped
    entirely: this is where a delete becomes PHYSICAL removal (every
    folded epoch is ≤ the watermark, so no surviving row below can
    resurrect the id; a re-insert after the delete lands at a higher
    epoch and stays visible through the tail — with gc=True the
    deleted vector's bytes are actually reclaimed, the
    right-to-be-forgotten endpoint). Watermark-safe: folded rows keep
    their ``_epoch``, so a row the fold discarded was already
    superseded (or deleted) at or below the watermark and could never
    win against the tail."""
    return _compact(spark, _vector_index(index_dir, id_col, vec_col), gc)


def vector_index_probe(
    spark,
    index_dir: str,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe over a streamed index: the query's ``nprobe`` nearest
    cells are ranked DRIVER-SIDE over the k-row centroid metadata (no
    Spark job — same squared distance as the ingest assignment,
    ties to the lowest cell id), the scan filters to those cells
    (directory pruning on the cell-partitioned compacted generation,
    row-group skipping in the cell-sorted tail epochs), then exact
    cosine top-k among the survivors. With nprobe == len(centroids)
    this is exact brute force over the latest-wins view — the
    recall-floor contract pinned in pytest.

    Upsert resolution is TAIL-BOUNDED (r13, closing the r12 `weak`):
    after compaction at watermark M the compacted generation has
    UNIQUE ids (the latest-wins fold), so winner resolution never
    needs a full-index aggregation — only the post-watermark tail can
    supersede a compacted row. Candidates are

        (cell-pruned compacted rows  ANTI-JOIN  tail ids)
      ∪ (tail winners, filtered to probed cells)

    where tail winners are the slim (id → max epoch) aggregation JOINED
    back on (id, epoch) — over the TAIL ONLY, whose size the compaction
    cadence bounds. Per-query cost is ∝ |probed cells| + |tail| instead
    of ∝ |index| (the old shape paid a full-index groupBy(id) per
    query, which unique ids make irreducible — compaction never shrinks
    it). Cross-cell upserts cannot resurrect: the anti-join removes the
    compacted row of ANY id present in the tail, and the tail winner
    only qualifies if its CURRENT cell is probed. Tombstones resolve
    identically: a tombstone is its id's tail winner, its NULL cell
    matches no probed cell, and the anti-join suppresses the compacted
    row — both pinned in pytest, plus a probe≡brute-force equivalence
    test across compaction states. On a never-compacted index the same
    slim winner aggregation simply runs over all committed epochs (the
    pre-r13 shape — correct, and the index a maintenance cadence has
    not yet bounded). The winner/anti-join sides are left ADAPTIVE on
    purpose — slim int columns with honest post-shuffle runtime sizes:
    AQE broadcasts them while they fit (a cadence-bounded tail always
    does) and flips to sort-merge beyond that.

    Empty-index contract: raises FileNotFoundError when no epoch has
    ever committed, DELIBERATELY unlike read_vector_index's None — a
    merge/read of a not-yet-started sink is a valid degenerate state
    the caller unions around, while probing an index that does not
    exist is a caller error (a wrong path or a probe racing ahead of
    its bootstrap) that silently returning an empty top-k would bury."""
    from graphragdatapipeline_spark.session import ensure_parallelism
    from graphragdatapipeline_spark.vector.similarity import (
        _ranked_cells,
        cosine_topk,
    )

    cells = _ranked_cells(centroids, query_vec, nprobe)
    cand = _probe_candidates(spark, index_dir, cells, id_col)
    # A directory-pruned 1-cell scan is often ONE file locally, so the
    # interpreted cosine fold runs on one core; fan out first (no-op at
    # cluster scale, where a cell spans many row groups — measured at
    # the 2 M decade: 3.7 → 1.3 s/query).
    return cosine_topk(ensure_parallelism(cand), query_vec, k, id_col, vec_col)


def _probe_candidates(
    spark, index_dir: str, cells: list[int], id_col: str
) -> DataFrame:
    """Tail-bounded winner resolution restricted to the probed cells —
    the shared read core of vector_index_probe and
    vector_index_probe_adc (see the probe docstring for the plan
    rationale and the empty-index contract)."""
    comp, tail = _committed_parts(
        spark, index_dir, index_dir + "/_commits"
    )
    if comp is None and tail is None:
        raise FileNotFoundError(f"no committed epochs under {index_dir}")
    in_cells = F.col("cell").isin(cells)
    if tail is not None:
        tail_winners = tail.groupBy(id_col).agg(F.max("_epoch").alias("_epoch"))
        tail_latest = tail.join(tail_winners, [id_col, "_epoch"])
    if comp is None:
        return tail_latest.filter(in_cells)
    if tail is None:
        return comp.filter(in_cells)
    kept = comp.filter(in_cells).join(tail.select(id_col), id_col, "left_anti")
    return kept.unionByName(tail_latest.filter(in_cells))


def vector_index_probe_adc(
    spark,
    index_dir: str,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 8,
    nprobe: int = 1,
    shortlist: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC probe over a streamed index built with
    vector_index_sink(pq_books=…): the same tail-bounded,
    directory-pruned candidate resolution as vector_index_probe, but
    the first pass scores the stored residual codes asymmetrically
    (ivfpq_adc_score_col — m int lookups per row; column pruning keeps
    the vector payload out of the shortlist scan, which at 100 TB
    reads m+3 small ints per candidate instead of 4·dim bytes), then
    only the `shortlist` survivors load vectors for the exact cosine
    rerank. With nprobe = len(centroids) and a corpus-wide shortlist
    this equals vector_index_probe equals brute force — pinned in
    pytest. ``books`` must be the pq_train(centroids=…) residual
    codebooks the sink encoded with; a code-less index (sink run
    without pq_books) fails loudly on the missing pq_* columns rather
    than silently re-encoding per query."""
    from graphragdatapipeline_spark.session import ensure_parallelism
    from graphragdatapipeline_spark.vector.similarity import (
        _ranked_cells,
        cosine_topk,
        ivfpq_adc_score_col,
    )

    cells = _ranked_cells(centroids, query_vec, nprobe)
    cand = ensure_parallelism(
        _probe_candidates(spark, index_dir, cells, id_col)
    )
    code_cols = [f"pq_{i}" for i in range(len(books))]
    score = ivfpq_adc_score_col(
        centroids, books, query_vec, cells, F.col("cell"), vec_col, code_cols
    )
    sl = (
        cand.select(F.col(id_col), score.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    return cosine_topk(cand.join(sl, id_col), query_vec, k, id_col, vec_col)


def click_purchase_attribution(
    clicks: DataFrame, purchases: DataFrame, horizon_minutes: int = 60
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's clicks in the preceding horizon (click ≤ purchase <
    click + horizon). In streaming mode both inputs carry watermarks
    and the time-bound lets Spark expire join state — unbounded
    stream-stream joins are impossible without it. Identical plan
    runs in batch for the oracle.

    SKEW-HARDENED since round 9 by a bit-identical time-bucket rewrite:
    joining on user_id alone makes a hot user's group the full
    clicks × purchases cross product inside ONE SortMergeJoin task /
    one streaming state-store partition — measured at the 100×-zipf
    fixture, where one user holding 244k clicks × 247k purchases put a
    60-billion-pair enumeration in a single task (batch bench killed
    at 900 s; the streaming drain at 40+ min, both single-core-bound).
    The join key is therefore (user, horizon-width time bucket): every
    click covers EXACTLY the two buckets its window can reach
    (floor(cs/h) and +1), every purchase lives in exactly one, so each
    qualifying pair meets exactly once and nothing new qualifies — the
    exact range predicate still applies on top. Per-key enumeration
    drops from |C_u|·|P_u| to Σ_buckets |C_ub|·|P_ub| — linear in
    time-density instead of quadratic in key-frequency. Output is
    bit-identical (pinned by test_interval_join_bucketization_is_exact
    and the stream≡batch pytest); the DuckDB oracle stays the plain
    interval join for that reason. The purchase-side ALSO keeps the
    raw time-range predicate referencing both event-time columns, so
    streaming watermark state eviction is unchanged."""
    horizon_s = horizon_minutes * 60
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    cb = F.floor(F.unix_timestamp("click_ts") / F.lit(horizon_s))
    c = c.withColumn("_cb", F.explode(F.array(cb, cb + 1)))
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withColumn("_pb", F.floor(F.unix_timestamp("purchase_ts") / F.lit(horizon_s)))
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("_cb") == F.col("_pb"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return c.join(p, cond).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias(
            "lag_seconds"
        ),
    )


def windowed_percentile(
    df: DataFrame, width: str = "1 hour", p: float = 0.5, accuracy: int = 10000
) -> DataFrame:
    """Windowed median monitoring — the latency-dashboard aggregation
    in its STREAMING-safe form: exact percentile needs every value
    (unbounded state), so the window aggregates the mergeable
    approx_percentile sketch instead, whose state is bounded by
    `accuracy` regardless of window volume. For windows smaller than
    `accuracy` rows the sketch stores all samples and the answer is
    the exact order statistic (merge-order independent), which is what
    makes the batch twin deterministic for the oracle. Same plan in
    batch and streaming; upstream adds the watermark."""
    w = F.window("ts", width)
    return (
        df.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.percentile_approx("value", F.lit(p), F.lit(accuracy)).alias("p_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "p_value",
        )
    )


def _cooccurrence_index(index_dir: str) -> _Index:
    return _Index(
        index_dir + "/_commits",
        {
            "edges": _Table(f"{index_dir}/edges", ("src", "dst"), ("cooccur",)),
            "tf": _Table(f"{index_dir}/tf", ("term",), ("df",)),
            "ndocs": _Table(f"{index_dir}/ndocs", (), ("n",)),
        },
    )


def cooccurrence_index_sink(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_terms: int | None = None,
    auto_compact_every: int | None = None,
):
    """Streaming text→graph maintenance: each micro-batch of documents
    lands its ADDITIVE co-occurrence count deltas
    (graph.build.cooccurrence_index_delta — edge co-counts, term doc
    frequencies, doc count) under `index_dir/{edges,tf,ndocs}`; PMI is
    computed on read from the summed counts (pmi_from_index), never
    stored. Counts are additive, so the batch never reads the
    accumulated index. Read through read_cooccurrence_index."""
    from graphragdatapipeline_spark.graph.build import cooccurrence_index_delta

    index = _cooccurrence_index(index_dir)

    def compute(df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        deltas = cooccurrence_index_delta(
            df, id_col, text_col, max_doc_terms=max_doc_terms
        )
        return dict(zip(("edges", "tf", "ndocs"), deltas))

    return _index_sink(
        stream_df, index, compute, checkpoint_dir, auto_compact_every
    )


def read_cooccurrence_index(spark, index_dir: str):
    """Merged (edges, tf, n_docs) over COMMITTED epochs — the
    consistent read half of cooccurrence_index_sink; returns None
    before the first commit. Feed the result to
    graph.build.pmi_from_index for scored edges."""
    index = _cooccurrence_index(index_dir)
    edges = _read(spark, index, "edges")
    if edges is None:
        return None
    return edges, _read(spark, index, "tf"), _read(spark, index, "ndocs")


def _substring_index(index_dir: str) -> _Index:
    return _Index(
        index_dir + "/_commits",
        {
            "shingles": _Table(index_dir, ("shingle",), ("nd",)),
            "ids": _Table(f"{index_dir}/_ids", allow_missing=True),
        },
    )


def substring_index_sink(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    guard_redelivery: bool = False,
    auto_compact_every: int | None = None,
):
    """Streaming exact-substring index maintenance: each micro-batch
    of documents lands its ADDITIVE shingle-df delta
    (operators.dedup.shingle_df_delta — per-batch distinct-doc word
    k-gram counts) under `index_dir`. Span removal / decontamination is
    computed on read by scoring any document set against the summed
    index (operators.dedup.remove_spans_against_index); the cleaned
    text is never stored, so late-arriving duplicates retroactively
    affect re-scores without rewriting history.

    Additivity assumes each doc_id arrives in exactly ONE batch — a
    SOURCE-level redelivery (the same doc in two different epochs,
    which checkpointed foreachBatch retries never produce but upstream
    at-least-once feeds can) would double-count its shingles' nd and
    can silently over-remove unique spans at read time.
    `guard_redelivery=True` closes the hole at the cost of one
    committed-ids anti-join per batch: batch ids land in the `_ids`
    sidecar under the same marker, and each batch drops ids already
    committed. Leave False only when the upstream is exactly-once by
    construction."""
    from graphragdatapipeline_spark.operators.dedup import shingle_df_delta

    index = _substring_index(index_dir)

    def compute(df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        out = {}
        if guard_redelivery:
            seen = _read(df.sparkSession, index, "ids")
            if seen is not None:
                df = df.join(seen, [id_col], "left_anti")
            df = df.localCheckpoint()  # one computation feeds ids + delta
            out["ids"] = df.select(id_col)
        out["shingles"] = shingle_df_delta(df, id_col, text_col, k)
        return out

    return _index_sink(
        stream_df, index, compute, checkpoint_dir, auto_compact_every
    )


def read_substring_index(spark, index_dir: str):
    """Merged (shingle, nd) over COMMITTED epochs — the consistent
    read half of substring_index_sink; returns None before the first
    commit. Feed the result to remove_spans_against_index."""
    return _read(spark, _substring_index(index_dir), "shingles")
