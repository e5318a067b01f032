"""True Structured Streaming tests: the SAME operators that serve the
batch oracle queries run as readStream + availableNow micro-batches
and must produce identical results."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.streaming import ops as so


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Stage the events fixture as a multi-file directory so the file
    stream source sees >1 micro-batch."""
    base = tmp_path_factory.mktemp("events_stream")
    src = read_table(spark, sf_dir, "events")
    src.repartition(3).write.mode("overwrite").parquet(str(base / "input"))
    return str(base / "input")


def _run_stream_to_memory(spark, stream_df, name, tmp_dir, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(tmp_dir, f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _persistent_rdd_ids(spark):
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_tumbling_stream_equals_batch(spark, sf_dir, events_stream_dir, tmp_path):
    stream = so.read_events_stream(spark, events_stream_dir)
    agg = so.tumbling_window_agg(so.with_watermark(stream, "10 minutes"))
    got = _run_stream_to_memory(
        spark, agg, "tumbling_mem", str(tmp_path), output_mode="complete"
    )
    batch = so.tumbling_window_agg(read_table(spark, sf_dir, "events"))
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_session_stream_equals_batch(spark, sf_dir, events_stream_dir, tmp_path):
    """Native session_window must merge gap-separated sessions to the
    SAME result streaming and batch — the stateful session-merge is
    the operator under test, not just liveness. Staged files are not
    time-ordered, so the watermark must exceed the fixture span or
    the merge state drops 'late' rows (the suite-wide lesson)."""
    stream = so.read_events_stream(spark, events_stream_dir)
    sess = so.session_windows(so.with_watermark(stream, "90 days"))
    got = _run_stream_to_memory(
        spark, sess, "session_mem", str(tmp_path), output_mode="complete"
    )
    batch = so.session_windows(read_table(spark, sf_dir, "events"))
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_windowed_distinct_users_stream_equals_batch(
    spark, sf_dir, events_stream_dir, tmp_path
):
    """The two-phase distinct pattern (window-project → dropDuplicates
    → count) must give identical distinct-actives per sliding window
    in streaming and batch — and must equal a plain countDistinct in
    batch (the semantics it stands in for)."""
    stream = so.read_events_stream(spark, events_stream_dir)
    # the staged files are NOT time-ordered (repartition(3)), so the
    # watermark must exceed the fixture's full span or the dedup state
    # operator discards genuinely-new rows as late
    agg = so.windowed_distinct_users(
        so.with_watermark(stream, "90 days"), width="2 days", slide="1 day"
    )
    got = _run_stream_to_memory(
        spark, agg, "wdu_mem", str(tmp_path), output_mode="complete"
    )
    ev = read_table(spark, sf_dir, "events")
    batch = so.windowed_distinct_users(ev, width="2 days", slide="1 day")
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0
    ref = {
        tuple(r)
        for r in ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start"), "n_active")
        .collect()
    }
    assert b == ref


def test_foreach_batch_sink(spark, events_stream_dir, tmp_path):
    stream = so.read_events_stream(spark, events_stream_dir)
    seen: list[int] = []

    def batch_fn(df, epoch_id):
        seen.append(df.count())

    q = so.write_foreach_batch(
        stream, batch_fn, os.path.join(str(tmp_path), "ckpt_feb")
    )
    q.awaitTermination(120)
    # 3 input files with maxFilesPerTrigger=1 → 3 micro-batches
    assert len(seen) == 3
    assert sum(seen) == 1000  # sf0.001 events row count


def test_streaming_dedup_within_watermark(spark, events_stream_dir, tmp_path):
    stream = so.with_watermark(so.read_events_stream(spark, events_stream_dir), "1 hour")
    deduped = so.dedup_keep_first(stream, ["user_id", "event_type"])
    got = _run_stream_to_memory(spark, deduped, "dedup_mem", str(tmp_path))
    # at most one row per (user, type) per watermark horizon; with the
    # fixture's 1-day span and 1h watermark we just assert reduction + run
    total = got.count()
    assert 0 < total <= 1000


def test_stateful_lifetime_agg_stream_equals_batch(spark, sf_dir, events_stream_dir, tmp_path):
    """applyInPandasWithState over real micro-batches: the final emitted
    totals per user must equal the batch twin (and hence the oracle)."""
    from graphragdatapipeline_spark.streaming import stateful as st

    stream = so.read_events_stream(spark, events_stream_dir)
    agg = st.user_lifetime_agg_stream(stream)
    got = _run_stream_to_memory(
        spark, agg, "stateful_mem", str(tmp_path), output_mode="update"
    )
    # update mode appends one row per touched user per micro-batch;
    # n_events is monotone per user, so the max row is the final state.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        got.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    batch = st.user_lifetime_agg_batch(read_table(spark, sf_dir, "events"))
    a = {(r.user_id, r.n_events, round(r.sum_value, 6), r.max_value) for r in final.collect()}
    b = {(r.user_id, r.n_events, round(r.sum_value, 6), r.max_value) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_stream_stream_join_equals_batch(spark, sf_dir, events_stream_dir, tmp_path):
    """Two readStreams, watermarked, interval-joined — output must
    equal the batch twin once all files are processed."""
    # The staged files are in random order, so event time regresses
    # across micro-batches; the watermark must exceed the fixture's
    # total span (30 days) or regressed rows are dropped as late and
    # the equality below fails — exactly the semantics a production
    # deployment tunes with its real disorder bound.
    clicks = so.with_watermark(
        so.read_events_stream(spark, events_stream_dir).filter(
            F.col("event_type") == "click"
        ),
        "40 days",
    )
    purchases = so.with_watermark(
        so.read_events_stream(spark, events_stream_dir).filter(
            F.col("event_type") == "purchase"
        ),
        "40 days",
    )
    joined = so.click_purchase_attribution(clicks, purchases, horizon_minutes=60)
    got = _run_stream_to_memory(spark, joined, "ssj_mem", str(tmp_path))
    ev = read_table(spark, sf_dir, "events")
    batch = so.click_purchase_attribution(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon_minutes=60,
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_streaming_curation_gate_equals_batch(spark, sf_dir, tmp_path):
    """The curation layer runs incrementally unchanged: quality gate +
    split stamping are stateless column expressions, so readStream →
    gate → split must equal the batch pass over the same files."""
    from graphragdatapipeline_spark.operators import curation as cu

    base = str(tmp_path / "docs_in")
    docs = read_table(spark, sf_dir, "documents")
    docs.repartition(3).write.mode("overwrite").parquet(base)

    def pipeline(df):
        gated = cu.quality_filter(df, "doc_id", "text").filter("keep")
        ids = df.select("doc_id", "text")
        kept = ids.join(gated.select("doc_id"), "doc_id")
        return cu.train_test_split(kept, "doc_id", test_rate=0.1).select(
            "doc_id", "split"
        )

    stream = spark.readStream.schema(docs.schema).parquet(base)
    got = _run_stream_to_memory(
        spark, pipeline(stream), "curation_mem", str(tmp_path)
    )
    batch = pipeline(spark.read.parquet(base))
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_state_history_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming run-collapse (applyInPandasWithState, append mode)
    must emit exactly the batch twin's CLOSED intervals. The input is
    staged as time-sliced files written oldest-first, honoring the
    operator's ordered-arrival contract (CDC/changelog property)."""
    import time

    from graphragdatapipeline_spark.streaming import stateful as st
    from graphragdatapipeline_spark.operators.relational import state_history

    ev = read_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, cond in enumerate(
        [F.col("ts") <= cut1, (F.col("ts") > cut1) & (F.col("ts") <= cut2), F.col("ts") > cut2]
    ):
        ev.filter(cond).coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)  # file-source processes oldest-first by mod time

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    got = _run_stream_to_memory(
        spark, st.state_history_stream(stream), "hist_mem", str(tmp_path)
    )
    batch_closed = state_history(ev, "user_id", "ts", "event_type", ["event_id"]).filter(
        F.col("valid_to").isNotNull()
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch_closed.collect()}
    assert a == b and len(a) > 100


def test_incremental_dedup_sink_equals_batch_dedup(spark, sf_dir, tmp_path):
    """Streaming corpus maintenance: documents streamed in id-ordered
    slices through the foreachBatch incremental-dedup sink must leave
    exactly the corpus a one-shot exact_dedup produces (first-seen ==
    min-id when slices arrive in id order), and the fingerprint index
    must hold one row per kept doc."""
    import time

    from graphragdatapipeline_spark.operators.dedup import exact_dedup

    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut1, cut2 = lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, cond in enumerate(
        [F.col("doc_id") <= cut1,
         (F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2),
         F.col("doc_id") > cut2]
    ):
        d.filter(cond).coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)  # file source processes oldest-first by mod time

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    rdds_before = _persistent_rdd_ids(spark)
    q = so.incremental_dedup_sink(
        stream, corpus_dir, index_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    # each batch's checkpoint is released once its epoch commits
    assert not _persistent_rdd_ids(spark) - rdds_before

    got = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    want = {r.doc_id for r in exact_dedup(d, "doc_id", "text").collect()}
    assert got == want
    assert spark.read.parquet(index_dir).count() == len(want)


def test_funnel_stream_equals_batch_conversions(spark, sf_dir, tmp_path):
    """Real-time funnel: the per-user stateful machine (append mode)
    must emit exactly the batch chain's full-funnel conversions —
    same users, same earliest qualifying final-stage ts. Input staged
    as time-sliced files (ordered-arrival contract, as for
    state_history)."""
    import time

    from graphragdatapipeline_spark.operators.relational import funnel_conversions
    from graphragdatapipeline_spark.streaming import stateful as st

    ev = read_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1, cut2 = lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, cond in enumerate(
        [F.col("ts") <= cut1, (F.col("ts") > cut1) & (F.col("ts") <= cut2), F.col("ts") > cut2]
    ):
        ev.filter(cond).coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    got = _run_stream_to_memory(
        spark,
        st.funnel_stream(stream, ["view", "click", "purchase"], max_gap_seconds=24 * 3600),
        "funnel_mem",
        str(tmp_path),
    )
    batch = funnel_conversions(
        ev, ["view", "click", "purchase"], max_gap_seconds=24 * 3600
    )
    a = {(r.user_id, r.converted) for r in got.collect()}
    b = {(r.user_id, r.converted) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_incremental_neardup_sink_equals_sequential_batches(spark, sf_dir, tmp_path):
    """Streaming near-dup maintenance must leave exactly the corpus
    that sequential batch application of minhash_dedup_incremental
    over the same slices leaves — the true invariant regardless of
    duplicate-cluster band connectivity."""
    import time

    from graphragdatapipeline_spark.operators.dedup import minhash_dedup_incremental

    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) / 2
    slices = [d.filter(F.col("doc_id") <= cut), d.filter(F.col("doc_id") > cut)]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    corpus_dir = str(tmp_path / "corpus")
    rdds_before = _persistent_rdd_ids(spark)
    q = so.incremental_neardup_sink(
        stream, corpus_dir, str(tmp_path / "bands"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    # each batch's checkpoints are released once its epoch commits
    assert not _persistent_rdd_ids(spark) - rdds_before
    got = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}

    idx = None
    want = set()
    for sl in slices:
        clean, delta = minhash_dedup_incremental(sl, idx, "doc_id", "text")
        clean = clean.localCheckpoint()
        delta = delta.localCheckpoint()
        want |= {r.doc_id for r in clean.collect()}
        idx = delta if idx is None else idx.unionByName(delta)
        idx = idx.localCheckpoint()
    assert got == want and len(got) > 100


import contextlib


@contextlib.contextmanager
def _few_shuffle_partitions(spark, n=2):
    """Stateful-stream tests pay per-partition state-store overhead on
    every micro-batch; 2 partitions instead of 8 keeps the live-trigger
    TTL tests fast without changing semantics."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextlib.contextmanager
def _live_stateful_stream(spark, in_dir, ckpt, out_dir, build):
    """Start a stateful stream on a short-interval LIVE trigger and
    yield a (read_rows, wait_until) pair; the query is stopped on
    exit. availableNow is the WRONG harness for TTL streams: with
    ProcessingTimeTimeout the stateful operator always requests
    another micro-batch (to fire future timers), so an availableNow
    run never self-terminates — it must be driven live and stopped."""
    import time

    from pyspark.sql.utils import AnalysisException

    schema = spark.read.parquet(in_dir + "/slice=*").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    q = (
        build(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def read_rows():
        try:
            return spark.read.parquet(out_dir).collect()
        except AnalysisException:
            return []

    def wait_until(cond, timeout=90):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if cond():
                return True
            time.sleep(0.3)
        return False

    try:
        yield read_rows, wait_until
    finally:
        q.stop()


def test_state_history_stream_ttl_evicts_and_flushes(spark, tmp_path):
    """State TTL: a user idle longer than the TTL is evicted via
    processing-time timeout, and the eviction flushes their open run
    with valid_to NULL — bounded state for unbounded user spaces,
    every event still in exactly one emitted interval."""
    import datetime

    from graphragdatapipeline_spark.streaming import stateful as st

    t0 = datetime.datetime(2024, 1, 1)
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    ddl = "user_id LONG, ts TIMESTAMP, event_type STRING, event_id LONG"
    spark.createDataFrame(
        [(100, t0, "a", 1), (100, t0 + datetime.timedelta(hours=1), "b", 2)], ddl
    ).coalesce(1).write.parquet(os.path.join(in_dir, "slice=0"))

    def build(stream):
        return st.state_history_stream(stream, state_ttl_seconds=1)

    with _few_shuffle_partitions(spark), _live_stateful_stream(
        spark, in_dir, str(tmp_path / "ckpt"), str(tmp_path / "out"), build
    ) as (read_rows, wait_until):
        # the data batch closes 'a'; ~1 s later the TTL timer fires and
        # flushes the open 'b' run — both arrive without further input
        assert wait_until(lambda: len(read_rows()) >= 2), read_rows()
        rows = read_rows()
    u100 = sorted(
        (r.state, r.valid_to is None, r.n_events) for r in rows if r.user_id == 100
    )
    assert u100 == [("a", False, 1), ("b", True, 1)], rows


def test_funnel_stream_ttl_forgets_idle_users(spark, tmp_path):
    """Funnel state TTL: partial progress of an idle user is evicted,
    so a final-step event arriving after eviction does NOT convert —
    while the identical schedule with a long TTL does. This pins the
    eviction itself, not just the absence of output."""
    import datetime
    import time

    from graphragdatapipeline_spark.streaming import stateful as st

    t0 = datetime.datetime(2024, 1, 1)
    ddl = "user_id LONG, ts TIMESTAMP, event_type STRING, event_id LONG"
    hours = datetime.timedelta(hours=1)

    def drive(label, ttl):
        in_dir = str(tmp_path / f"in_{label}")
        os.makedirs(in_dir)

        def build(stream):
            return st.funnel_stream(
                stream, ["view", "click", "purchase"], state_ttl_seconds=ttl
            )

        spark.createDataFrame(
            [(1, t0, "view", 1), (1, t0 + hours, "click", 2)], ddl
        ).coalesce(1).write.parquet(os.path.join(in_dir, "slice=0"))
        with _live_stateful_stream(
            spark,
            in_dir,
            str(tmp_path / f"ckpt_{label}"),
            str(tmp_path / f"out_{label}"),
            build,
        ) as (read_rows, wait_until):
            time.sleep(3.0)  # > TTL: user 1 idles past the deadline
            # user 9 converts fully inside one batch — the sentinel that
            # proves the purchase batch was processed end-to-end
            spark.createDataFrame(
                [
                    (1, t0 + 2 * hours, "purchase", 4),
                    (9, t0, "view", 5),
                    (9, t0 + hours, "click", 6),
                    (9, t0 + 2 * hours, "purchase", 7),
                ],
                ddl,
            ).coalesce(1).write.parquet(os.path.join(in_dir, "slice=1"))
            assert wait_until(lambda: any(r.user_id == 9 for r in read_rows()))
            # settle one more trigger so a user-1 row could not be in flight
            time.sleep(1.0)
            return {r.user_id for r in read_rows()}

    with _few_shuffle_partitions(spark):
        assert 1 not in drive("short", ttl=1)  # evicted: purchase can't convert
        assert 1 in drive("long", ttl=3600)  # same schedule, state retained


def test_incremental_dedup_sink_retry_converges_exactly_once(spark, tmp_path):
    """Exactly-once under crash-retry (r7 epoch-commit scheme): if a
    micro-batch dies AFTER its fingerprint epoch directory landed but
    BEFORE its corpus write + commit marker (simulated by pre-seeding
    index/epoch=0 with no marker), the retry must IGNORE the
    uncommitted index rows, re-admit its own docs, idempotently
    rewrite both epoch directories, and commit — the corpus converges
    to exactly the no-crash result: no drops (the r6 scheme's failure
    mode), no duplicates."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.operators.dedup import fingerprint
    from graphragdatapipeline_spark.streaming import ops as so

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    docs = spark.createDataFrame(
        [(1, "en", "alpha beta"), (2, "en", "gamma delta")],
        "doc_id LONG, lang STRING, text STRING",
    )
    # simulate the half-committed epoch 0: fingerprints landed,
    # corpus + commit marker absent
    docs.select(fingerprint(F.col("text")).alias("fp")).write.mode(
        "overwrite"
    ).parquet(index_dir + "/epoch=0")

    docs.coalesce(1).write.parquet(os.path.join(in_dir, "slice=0"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    q = so.incremental_dedup_sink(
        stream, corpus_dir, index_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    # convergence: both docs present exactly once, epoch committed
    commits = so.committed_epochs(spark, corpus_dir + "/_commits")
    assert commits == [0]
    corpus = so.read_committed_epochs(spark, corpus_dir, corpus_dir + "/_commits")
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2]
    fps = [
        r.fp
        for r in so.read_committed_epochs(
            spark, index_dir, corpus_dir + "/_commits"
        ).collect()
    ]
    assert len(fps) == 2 and len(set(fps)) == 2


def test_windowed_percentile_stream_equals_batch(
    spark, sf_dir, events_stream_dir, tmp_path
):
    """The bounded-state windowed median (approx_percentile sketch)
    must produce identical results streamed and batch — below
    `accuracy` rows per window the sketch is the exact order
    statistic, so equality is exact, not approximate."""
    stream = so.read_events_stream(spark, events_stream_dir)
    agg = so.windowed_percentile(so.with_watermark(stream, "90 days"))
    got = _run_stream_to_memory(
        spark, agg, "wp50_mem", str(tmp_path), output_mode="complete"
    )
    batch = so.windowed_percentile(read_table(spark, sf_dir, "events"))
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_incremental_neardup_sink_retry_converges_exactly_once(spark, tmp_path):
    """MinHash twin of the exact-sink retry test: with the batch's
    band delta landed in index/epoch=0 but no corpus write and no
    commit marker (crash between the writes), the retry ignores the
    uncommitted bands, re-admits its docs, rewrites the epoch
    idempotently, and commits — exactly-once convergence for near-dup
    corpus maintenance too."""
    from graphragdatapipeline_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures_rowwise,
    )
    from graphragdatapipeline_spark.streaming import ops as so

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    docs = spark.createDataFrame(
        [(1, "en", "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "en", "one two three four five six seven eight nine")],
        "doc_id LONG, lang STRING, text STRING",
    )
    # simulate the half-committed epoch 0: bands landed, no corpus,
    # no commit marker
    sig = minhash_signatures_rowwise(docs, "doc_id", "text", 3, 16)
    lsh_bands(sig, "doc_id", 16, 4).write.mode("overwrite").parquet(
        index_dir + "/epoch=0"
    )

    docs.coalesce(1).write.parquet(os.path.join(in_dir, "slice=0"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    q = so.incremental_neardup_sink(
        stream, corpus_dir, index_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    assert so.committed_epochs(spark, corpus_dir + "/_commits") == [0]
    corpus = so.read_committed_epochs(spark, corpus_dir, corpus_dir + "/_commits")
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2]


def test_cooccurrence_index_sink_equals_batch(spark, sf_dir, tmp_path):
    """Streaming co-occurrence maintenance over two micro-batches must
    reproduce the one-shot batch graph EXACTLY (counts are additive;
    PMI recomputed on read) — and an uncommitted epoch directory must
    be invisible to the consistent reader."""
    import time

    from graphragdatapipeline_spark.graph.build import (
        cooccurrence_graph,
        pmi_from_index,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) / 2
    slices = [d.filter(F.col("doc_id") <= cut), d.filter(F.col("doc_id") > cut)]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "coidx")
    q = so.cooccurrence_index_sink(
        stream, index_dir, str(tmp_path / "ckpt"), max_doc_terms=64
    )
    q.awaitTermination(180)

    edges, tf, n = so.read_cooccurrence_index(spark, index_dir)
    got = {
        (r.src, r.dst): (r.cooccur, round(r.pmi, 9))
        for r in pmi_from_index(edges, tf, n, min_count=5).collect()
    }
    want = {
        (r.src, r.dst): (r.cooccur, round(r.pmi, 9))
        for r in cooccurrence_graph(d, min_count=5, max_doc_terms=64).collect()
    }
    assert got == want and len(want) > 0

    # an uncommitted epoch (no marker) must not change the read view
    extra = spark.createDataFrame([("x", "y", 999)], "src string, dst string, cooccur long")
    extra.write.mode("overwrite").parquet(f"{index_dir}/edges/epoch=99")
    edges2, _, _ = so.read_cooccurrence_index(spark, index_dir)
    assert edges2.filter(F.col("cooccur") == 999).count() == 0


def test_interval_join_bucketization_is_exact(spark):
    """The (user, time-bucket) equi rewrite inside
    click_purchase_attribution must be invisible in the output: every
    qualifying pair meets exactly once (purchase bucket ∈ the click's
    two exploded buckets), none is dropped at window boundaries
    (sub-second click times whose second-floored bucket math must
    still cover the purchase), none duplicates. Compared row-for-row
    against the plain interval join on a fixture dense with boundary
    cases: pairs exactly at the horizon edge, sub-second offsets,
    purchases before clicks, cross-user pairs, and a hot user."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # hot user 1: clicks/purchases every 7 / 11 minutes with .5s offsets
    for m in range(0, 600, 7):
        rows.append((eid, 1, "click", base + dt.timedelta(minutes=m, milliseconds=500))); eid += 1
    for m in range(0, 600, 11):
        rows.append((eid, 1, "purchase", base + dt.timedelta(minutes=m, milliseconds=499))); eid += 1
    # boundary pairs: purchase exactly at click+60min (excluded), +59:59.999
    rows.append((eid, 2, "click", base)); eid += 1
    rows.append((eid, 2, "purchase", base + dt.timedelta(minutes=60))); eid += 1
    rows.append((eid, 2, "purchase", base + dt.timedelta(minutes=59, seconds=59, milliseconds=999))); eid += 1
    rows.append((eid, 2, "purchase", base - dt.timedelta(milliseconds=1))); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    ).withColumn("value", F.lit(1.0))
    clicks = df.filter(F.col("event_type") == "click")
    purchases = df.filter(F.col("event_type") == "purchase")

    from graphragdatapipeline_spark.streaming import ops as so

    bucketized = sorted(
        map(tuple, so.click_purchase_attribution(clicks, purchases, 60).collect())
    )
    plain = sorted(
        map(
            tuple,
            clicks.alias("c")
            .join(
                purchases.alias("p"),
                (F.col("c.user_id") == F.col("p.user_id"))
                & (F.col("c.ts") <= F.col("p.ts"))
                & (F.col("p.ts") < F.col("c.ts") + F.expr("INTERVAL 60 MINUTES")),
            )
            .select(
                F.col("c.user_id"),
                F.col("c.event_id").alias("click_id"),
                F.col("p.event_id").alias("purchase_id"),
                (F.unix_timestamp("p.ts") - F.unix_timestamp("c.ts")).alias(
                    "lag_seconds"
                ),
            )
            .collect(),
        )
    )
    assert bucketized == plain
    assert len(bucketized) > 100  # non-vacuous: the hot user pairs densely


def test_substring_index_sink_equals_batch(spark, sf_dir, tmp_path):
    """Streaming shingle-df maintenance over two micro-batches must
    make remove_spans_against_index reproduce the one-shot
    remove_duplicated_spans EXACTLY (df counts are additive; cleaned
    text computed on read) — and an uncommitted epoch must stay
    invisible to the consistent reader."""
    import time

    from graphragdatapipeline_spark.operators import dedup as dd

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) / 2
    slices = [d.filter(F.col("doc_id") <= cut), d.filter(F.col("doc_id") > cut)]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "shidx")
    q = so.substring_index_sink(stream, index_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    idx = so.read_substring_index(spark, index_dir)
    got = {
        tuple(r)
        for r in dd.remove_spans_against_index(d, idx, "doc_id", "text").collect()
    }
    want = {
        tuple(r) for r in dd.remove_duplicated_spans(d, "doc_id", "text").collect()
    }
    assert got == want and len(want) > 0
    # something must actually be duplicated at fixture scale
    assert any(r[6] > 0 for r in want)  # n_removed column

    # an uncommitted epoch (no marker) must not change the read view
    extra = spark.createDataFrame([("poison poison poison", 999)], "shingle string, nd long")
    extra.write.mode("overwrite").parquet(f"{index_dir}/epoch=99")
    idx2 = so.read_substring_index(spark, index_dir)
    assert idx2.filter(F.col("shingle") == "poison poison poison").count() == 0


def test_substring_index_compaction_equals_streamed(spark, sf_dir, tmp_path):
    """Epoch compaction must be invisible to readers: the merged
    (shingle, nd) view is bit-identical before/after, a torn compacted
    write WITHOUT its marker stays invisible, post-compaction epochs
    keep accumulating on top, and gc removes the superseded epoch dirs
    without changing the view."""
    import time

    from graphragdatapipeline_spark.operators import dedup as dd

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) / 3
    slices = [d.filter(F.col("doc_id") <= cut), d.filter((F.col("doc_id") > cut))]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "shidx")
    q = so.substring_index_sink(stream, index_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    def merged():
        return {tuple(r) for r in so.read_substring_index(spark, index_dir).collect()}

    before = merged()
    assert len(before) > 0

    # crash-sim: a compacted generation without its marker is invisible
    poison = spark.createDataFrame(
        [("torn torn torn", 12345)], "shingle string, nd long"
    )
    poison.write.mode("overwrite").parquet(f"{index_dir}/_compacted/upto=77")
    assert merged() == before
    assert so.compacted_upto(spark, index_dir) is None

    upto = so.compact_substring_index(spark, index_dir)
    epochs = so.committed_epochs(spark, index_dir + "/_commits")
    assert upto == max(epochs)
    assert so.compacted_upto(spark, index_dir) == upto
    assert merged() == before  # view unchanged, now 1 partition + no tail

    # scoring through the compacted index still equals the one-shot op
    got = {
        tuple(r)
        for r in dd.remove_spans_against_index(
            d, so.read_substring_index(spark, index_dir), "doc_id", "text"
        ).collect()
    }
    want = {
        tuple(r) for r in dd.remove_duplicated_spans(d, "doc_id", "text").collect()
    }
    assert got == want

    # a post-compaction epoch accumulates on top of the compacted view
    tail_delta = dd.shingle_df_delta(
        d.limit(50), "doc_id", "text"
    )
    tail_delta.write.mode("overwrite").parquet(f"{index_dir}/epoch={upto + 1}")
    so._mark_committed(spark, index_dir + "/_commits", upto + 1)
    with_tail = merged()
    assert with_tail != before  # counts moved

    # re-compact with gc: superseded epoch dirs + old generation go,
    # merged view stays identical
    upto2 = so.compact_substring_index(spark, index_dir, gc=True)
    assert upto2 == upto + 1
    assert merged() == with_tail
    for e in epochs:
        assert not os.path.exists(f"{index_dir}/epoch={e}")
    assert not os.path.exists(f"{index_dir}/_compacted/upto={upto}")


def test_cooccurrence_index_compaction_equals_streamed(spark, sf_dir, tmp_path):
    """Compacting the three additive co-occurrence tables must leave
    pmi_from_index bit-identical to the pre-compaction streamed view."""
    import time

    from graphragdatapipeline_spark.graph.build import pmi_from_index

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) / 2
    slices = [d.filter(F.col("doc_id") <= cut), d.filter(F.col("doc_id") > cut)]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "coidx")
    q = so.cooccurrence_index_sink(
        stream, index_dir, str(tmp_path / "ckpt"), max_doc_terms=64
    )
    q.awaitTermination(180)

    def pmi_rows():
        edges, tf, n = so.read_cooccurrence_index(spark, index_dir)
        return {
            (r.src, r.dst): (r.cooccur, round(r.pmi, 9))
            for r in pmi_from_index(edges, tf, n, min_count=5).collect()
        }

    before = pmi_rows()
    assert len(before) > 0
    so.compact_cooccurrence_index(spark, index_dir, gc=True)
    assert so.compacted_upto(spark, f"{index_dir}/edges") is not None
    assert pmi_rows() == before


def test_substring_sink_redelivery_guard(spark, sf_dir, tmp_path):
    """guard_redelivery=True: a doc redelivered in a LATER epoch (the
    at-least-once upstream hazard) must not double-count its shingles —
    the guarded index over overlapping batches equals the one-shot
    index over the distinct union; unguarded it would over-count."""
    import time

    from graphragdatapipeline_spark.operators import dedup as dd

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) / 2
    first = d.filter(F.col("doc_id") <= cut)
    # second slice REDELIVERS everything in the first plus the rest
    slices = [first, d]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "shidx")
    rdds_before = _persistent_rdd_ids(spark)
    q = so.substring_index_sink(
        stream, index_dir, str(tmp_path / "ckpt"), guard_redelivery=True
    )
    q.awaitTermination(180)
    # the guard's per-batch checkpoint is released once its epoch commits
    assert not _persistent_rdd_ids(spark) - rdds_before

    got = {
        tuple(r) for r in so.read_substring_index(spark, index_dir).collect()
    }
    want = {
        tuple(r) for r in dd.shingle_df_delta(d, "doc_id", "text").collect()
    }
    assert got == want and len(want) > 0

    # and the unguarded sink over the same slices DOES double-count —
    # the hazard the guard exists for
    stream2 = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir2 = str(tmp_path / "shidx2")
    q2 = so.substring_index_sink(stream2, index_dir2, str(tmp_path / "ckpt2"))
    q2.awaitTermination(180)
    got2 = {
        tuple(r) for r in so.read_substring_index(spark, index_dir2).collect()
    }
    assert got2 != want


def test_identity_epoch_compaction_consolidates_set_index(spark, tmp_path):
    """Set-valued indexes (near-dup bands, fingerprints, guard ids)
    compact by identity rewrite: same rows, one consolidated
    generation, superseded epoch dirs gc'd."""
    data_dir = str(tmp_path / "bands")
    commits = str(tmp_path / "commits")
    rows = []
    for e in range(4):
        df = spark.createDataFrame(
            [(e * 10 + i, e, f"h{e}{i}") for i in range(5)],
            "doc_id long, band_idx int, band_hash string",
        )
        df.write.mode("overwrite").parquet(f"{data_dir}/epoch={e}")
        so._mark_committed(spark, commits, e)
        rows += [(e * 10 + i, e, f"h{e}{i}") for i in range(5)]
    before = {tuple(r) for r in so.read_committed_epochs(spark, data_dir, commits).collect()}
    assert before == set(rows)
    upto = so.compact_index_epochs(spark, data_dir, commits, gc=True)
    assert upto == 3
    after = {tuple(r) for r in so.read_committed_epochs(spark, data_dir, commits).collect()}
    assert after == before
    assert not os.path.exists(f"{data_dir}/epoch=0")
    # one consolidated generation, bounded file count
    import glob as _g
    files = _g.glob(f"{data_dir}/_compacted/upto=3/*.parquet")
    assert 1 <= len(files) <= 2


def test_compaction_pinned_epochs_exclude_racing_commit(spark, tmp_path):
    """The double-count race fix (r12): an epoch that commits AFTER the
    compaction's commit listing must NOT be folded into the compacted
    generation — with the old re-listing input it was folded in AND
    stayed visible as a tail epoch, permanently double-counting its
    additive rows. Pin the listing to epochs [0, 1], then 'race' epoch
    2 in before the compaction reads: the compacted gen must hold only
    epochs 0-1, and the full read must count epoch 2 exactly once."""
    data_dir = str(tmp_path / "idx")
    commits = str(tmp_path / "commits")
    for e in range(2):
        spark.createDataFrame(
            [(f"s{i}", 1) for i in range(3)], "shingle string, nd long"
        ).write.mode("overwrite").parquet(f"{data_dir}/epoch={e}")
        so._mark_committed(spark, commits, e)
    pinned = so.committed_epochs(spark, commits)  # [0, 1]
    # the racing commit lands between the listing and the input read
    spark.createDataFrame(
        [(f"s{i}", 10) for i in range(3)], "shingle string, nd long"
    ).write.mode("overwrite").parquet(f"{data_dir}/epoch=2")
    so._mark_committed(spark, commits, 2)

    upto = so.compact_index_epochs(
        spark, data_dir, commits, ["shingle"], ["nd"], epochs=pinned
    )
    assert upto == 1
    compacted = {
        (r.shingle, r.nd)
        for r in spark.read.parquet(f"{data_dir}/_compacted/upto=1").collect()
    }
    assert compacted == {(f"s{i}", 2) for i in range(3)}  # epochs 0+1 only
    merged = {
        (r.shingle, r.nd)
        for r in so.read_committed_epochs(spark, data_dir, commits)
        .groupBy("shingle")
        .agg(F.sum("nd").alias("nd"))
        .collect()
    }
    assert merged == {(f"s{i}", 12) for i in range(3)}  # 2 (compacted) + 10 (tail), once


def test_read_committed_epochs_raises_on_lost_primary_dir(spark, tmp_path):
    """A committed epoch above the watermark with a missing data dir is
    LOST DATA for a primary index: strict read raises instead of
    returning a silently smaller view; allow_missing=True (the sidecar
    contract) skips it; GC'd epochs at/below the watermark stay fine."""
    data_dir = str(tmp_path / "idx")
    commits = str(tmp_path / "commits")
    spark.createDataFrame(
        [("a", 1)], "shingle string, nd long"
    ).write.mode("overwrite").parquet(f"{data_dir}/epoch=0")
    so._mark_committed(spark, commits, 0)
    so._mark_committed(spark, commits, 1)  # marker without a data dir
    with pytest.raises(Exception, match="lost data"):
        so.read_committed_epochs(spark, data_dir, commits)
    ok = so.read_committed_epochs(spark, data_dir, commits, allow_missing=True)
    assert {tuple(r) for r in ok.collect()} == {("a", 1)}
    # compaction refuses to fold past the hole too
    with pytest.raises(Exception, match="lost data|refusing to compact"):
        so.compact_index_epochs(spark, data_dir, commits, ["shingle"], ["nd"])
    # but once the missing epoch is at/below a watermark it's a GC'd
    # epoch, not a loss: compact the present data with the hole skipped
    upto = so.compact_index_epochs(
        spark, data_dir, commits, ["shingle"], ["nd"], allow_missing=True
    )
    assert upto == 1
    strict = so.read_committed_epochs(spark, data_dir, commits)
    assert {tuple(r) for r in strict.collect()} == {("a", 1)}


def test_compact_index_cli_substring_cooccurrence_neardup(spark, tmp_path):
    """`compact-index` on hand-built committed epochs (no stream) for
    the substring, cooccurrence and neardup kinds: each exits 0 and
    advances the compaction watermark; neardup without --corpus-dir is
    refused with exit 2 and compacts nothing."""
    from graphragdatapipeline_spark.__main__ import main as cli_main

    def land(commits, tables):
        for e in range(2):
            for table_dir, rows, ddl in tables:
                spark.createDataFrame(rows(e), ddl).write.mode("overwrite").parquet(
                    f"{table_dir}/epoch={e}"
                )
            so._mark_committed(spark, commits, e)

    sub = str(tmp_path / "sub")
    land(
        sub + "/_commits",
        [(sub, lambda e: [("a b c", 1 + e)], "shingle string, nd long")],
    )
    assert cli_main(["compact-index", "substring", sub]) == 0
    assert so.compacted_upto(spark, sub) == 1

    co = str(tmp_path / "co")
    land(
        co + "/_commits",
        [
            (
                f"{co}/edges",
                lambda e: [("a", "b", 1 + e)],
                "src string, dst string, cooccur long",
            ),
            (f"{co}/tf", lambda e: [("a", 1), ("b", 1)], "term string, df long"),
            (f"{co}/ndocs", lambda e: [(1,)], "n long"),
        ],
    )
    assert cli_main(["compact-index", "cooccurrence", co]) == 0
    for t in ("edges", "tf", "ndocs"):
        assert so.compacted_upto(spark, f"{co}/{t}") == 1

    corpus, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
    land(
        corpus + "/_commits",
        [
            (corpus, lambda e: [(e, f"doc {e}")], "doc_id long, text string"),
            (
                bands,
                lambda e: [(e, 0, f"h{e}")],
                "doc_id long, band_idx int, band_hash string",
            ),
        ],
    )
    assert cli_main(["compact-index", "neardup", bands]) == 2
    assert so.compacted_upto(spark, bands) is None
    assert cli_main(["compact-index", "neardup", bands, "--corpus-dir", corpus]) == 0
    assert so.compacted_upto(spark, bands) == 1


def test_substring_sink_auto_compaction_mid_stream(spark, sf_dir, tmp_path):
    """auto_compact_every=2 over 4 micro-batches: compaction fires
    INSIDE the stream (watermark advances past early epochs while
    later ones are still arriving) and the final merged view is
    bit-identical to the one-shot batch delta."""
    import time

    from graphragdatapipeline_spark.operators import dedup as dd

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    ids = sorted(r.doc_id for r in d.select("doc_id").collect())
    cuts = [ids[len(ids) // 4], ids[len(ids) // 2], ids[3 * len(ids) // 4]]
    slices = [
        d.filter(F.col("doc_id") <= cuts[0]),
        d.filter((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])),
        d.filter((F.col("doc_id") > cuts[1]) & (F.col("doc_id") <= cuts[2])),
        d.filter(F.col("doc_id") > cuts[2]),
    ]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "shidx")
    q = so.substring_index_sink(
        stream, index_dir, str(tmp_path / "ckpt"), auto_compact_every=2
    )
    q.awaitTermination(240)

    upto = so.compacted_upto(spark, index_dir)
    epochs = so.committed_epochs(spark, index_dir + "/_commits")
    assert len(epochs) == 4
    assert upto == max(epochs)  # cadence hit again on the last commit
    got = {tuple(r) for r in so.read_substring_index(spark, index_dir).collect()}
    want = {tuple(r) for r in dd.shingle_df_delta(d, "doc_id", "text").collect()}
    assert got == want and len(want) > 0


def test_cooccurrence_sink_auto_compaction_mid_stream(spark, sf_dir, tmp_path):
    """auto_compact_every=1 on the co-occurrence sink: every commit
    triggers an inline 3-table compaction at ONE shared watermark and
    the merged PMI view stays identical to the uncompacted batch."""
    import time

    from graphragdatapipeline_spark.graph.build import (
        cooccurrence_index_delta,
        pmi_from_index,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(120)
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) / 2
    slices = [d.filter(F.col("doc_id") <= cut), d.filter(F.col("doc_id") > cut)]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "coidx")
    q = so.cooccurrence_index_sink(
        stream,
        index_dir,
        str(tmp_path / "ckpt"),
        max_doc_terms=64,
        auto_compact_every=1,
    )
    q.awaitTermination(240)

    epochs = so.committed_epochs(spark, index_dir + "/_commits")
    assert len(epochs) == 2
    # one shared watermark across all three tables (the r11-advice fix)
    for t in ("edges", "tf", "ndocs"):
        assert so.compacted_upto(spark, f"{index_dir}/{t}") == max(epochs)
    edges, tf, n = so.read_cooccurrence_index(spark, index_dir)
    got = {
        (r.src, r.dst): (r.cooccur, round(r.pmi, 9))
        for r in pmi_from_index(edges, tf, n, min_count=5).collect()
    }
    be, bt, bn = cooccurrence_index_delta(d, "doc_id", "text", max_doc_terms=64)
    want = {
        (r.src, r.dst): (r.cooccur, round(r.pmi, 9))
        for r in pmi_from_index(
            be.groupBy("src", "dst").agg(F.sum("cooccur").alias("cooccur")),
            bt.groupBy("term").agg(F.sum("df").alias("df")),
            bn.agg(F.sum("n").alias("n")),
            min_count=5,
        ).collect()
    }
    assert got == want and len(want) > 0


def test_neardup_sink_auto_compaction_mid_stream(spark, tmp_path):
    """auto_compact_every=1 on the near-dup sink: band-index epochs are
    consolidated inline and the corpus survivors match the
    uncompacted sink's (the batch anti-join reads through the
    compacted generation)."""
    import time

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs1 = [(1, base), (2, "completely different content about spark shuffles")]
    docs2 = [(3, base.replace("today", "tomorrow")),  # near-dup of 1 → dropped
             (4, "fresh unrelated text on parquet row group pruning here")]
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, rows in enumerate([docs1, docs2]):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    corpus_dir = str(tmp_path / "corpus")
    band_dir = str(tmp_path / "bands")
    q = so.incremental_neardup_sink(
        stream, corpus_dir, band_dir, str(tmp_path / "ckpt"), auto_compact_every=1
    )
    q.awaitTermination(240)

    assert so.compacted_upto(spark, band_dir) == max(
        so.committed_epochs(spark, corpus_dir + "/_commits")
    )
    kept = sorted(
        r.doc_id
        for r in so.read_committed_epochs(
            spark, corpus_dir, corpus_dir + "/_commits"
        ).collect()
    )
    assert kept == [1, 2, 4]  # 3 dropped against the compacted band index


# ------------------------------------------------------- vector index sink


@pytest.fixture(scope="module")
def vec_centroids(spark, sf_dir):
    """IVF centroids trained ONCE on the fixture (index metadata — the
    sink ingests against trained centroids, it never re-clusters)."""
    from graphragdatapipeline_spark.vector.similarity import kmeans_cells

    emb = read_table(spark, sf_dir, "embeddings")
    _assign, cents = kmeans_cells(emb, k=4, iters=3)
    return cents


def _stage_vector_slices(spark, sf_dir, tmp_path, mutate_second=False):
    """Two id-ordered slices of the embeddings fixture staged as stream
    input files; with ``mutate_second`` the second slice also
    REDELIVERS the 40 lowest ids with a deterministically shifted
    vector (upsert traffic). Returns (input_dir, base_df, shifted_df)."""
    import time

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cut = lo + (hi - lo) / 2
    s1 = emb.filter(F.col("vec_id") <= cut)
    s2 = emb.filter(F.col("vec_id") > cut)
    shifted = emb.filter(F.col("vec_id") < lo + 40).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x + F.lit(0.25)).cast("float")
        ).alias("embedding"),
    )
    if mutate_second:
        s2 = s2.unionByName(shifted)
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate([s1, s2]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    return in_dir, emb, shifted


def _vector_stream(spark, in_dir):
    return (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )


def test_vector_index_sink_stream_equals_batch_and_probe(
    spark, sf_dir, tmp_path, vec_centroids
):
    """The streamed index's latest-wins view must hold exactly the
    batch nearest-centroid assignment of the fixture (same ids, same
    cells, one row per id), and a full-nprobe probe over it must equal
    brute-force cosine top-k — the recall floor of the IVF read path."""
    from graphragdatapipeline_spark.vector.similarity import (
        cosine_topk,
        nearest_centroid_col,
    )

    in_dir, emb, _ = _stage_vector_slices(spark, sf_dir, tmp_path)
    index_dir = str(tmp_path / "index")
    q = so.vector_index_sink(
        _vector_stream(spark, in_dir), vec_centroids, index_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    view = so.read_vector_index(spark, index_dir)
    got = {(r.vec_id, r.cell) for r in view.collect()}
    want = {
        (r.vec_id, r.cell)
        for r in emb.select(
            "vec_id",
            nearest_centroid_col(vec_centroids, F.col("embedding")).alias("cell"),
        ).collect()
    }
    assert got == want and len(got) == emb.count()

    qvec = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    probe = so.vector_index_probe(
        spark, index_dir, vec_centroids, qvec, k=8, nprobe=len(vec_centroids)
    )
    brute = cosine_topk(view, qvec, k=8)
    assert [tuple(r) for r in probe.collect()] == [tuple(r) for r in brute.collect()]


def test_vector_index_upsert_latest_wins_and_compaction(
    spark, sf_dir, tmp_path, vec_centroids
):
    """Redelivered ids must resolve to their LATEST vector (the later
    epoch wins); compaction must preserve the view bit-for-bit; and an
    epoch landing AFTER compaction must win over the compacted
    generation for its ids (the tail-crosses-watermark contract)."""
    import os as _os
    import time

    in_dir, emb, shifted = _stage_vector_slices(
        spark, sf_dir, tmp_path, mutate_second=True
    )
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    q = so.vector_index_sink(
        _vector_stream(spark, in_dir), vec_centroids, index_dir, ckpt
    )
    q.awaitTermination(120)

    def snap(df):
        return {
            (r.vec_id, r.cell, tuple(round(float(x), 5) for x in r.embedding))
            for r in df.collect()
        }

    view = so.read_vector_index(spark, index_dir)
    got = snap(view)
    n = emb.count()
    assert len(got) == n  # one row per id despite redelivery
    want_vecs = snap(
        emb.join(shifted.select("vec_id"), "vec_id", "left_anti")
        .unionByName(shifted)
        .select(
            "vec_id",
            F.col("embedding"),
        )
        .selectExpr("vec_id", "embedding")
        .withColumn("cell", F.lit(0))  # cell recomputed below
    )
    # compare vectors only (cells checked in the other test): the
    # shifted ids must carry the SHIFTED vector
    assert {(v, e) for (v, _c, e) in got} == {(v, e) for (v, _c, e) in want_vecs}

    upto = so.compact_vector_index(spark, index_dir)
    assert upto == max(so.committed_epochs(spark, index_dir + "/_commits"))
    assert snap(so.read_vector_index(spark, index_dir)) == got

    # tail epoch after compaction: shift the SAME 40 ids again
    shifted2 = shifted.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x + F.lit(0.25)).cast("float")
        ).alias("embedding"),
    )
    time.sleep(1.1)
    shifted2.coalesce(1).write.parquet(_os.path.join(in_dir, "slice=2"))
    q2 = so.vector_index_sink(
        _vector_stream(spark, in_dir), vec_centroids, index_dir, ckpt
    )
    q2.awaitTermination(120)
    after = so.read_vector_index(spark, index_dir)
    assert after.count() == n
    got2 = {
        (r.vec_id, tuple(round(float(x), 5) for x in r.embedding))
        for r in after.join(shifted2.select("vec_id"), "vec_id").collect()
    }
    want2 = {
        (r.vec_id, tuple(round(float(x), 5) for x in r.embedding))
        for r in shifted2.collect()
    }
    assert got2 == want2  # the post-compaction epoch wins


def test_vector_index_auto_compact_mid_stream_equals_one_shot(
    spark, sf_dir, tmp_path, vec_centroids
):
    """auto_compact_every=1 compacting INSIDE the stream must leave the
    identical latest-wins view as the uncompacted run, with a
    compaction watermark actually advanced."""
    in_dir, _emb, _ = _stage_vector_slices(
        spark, sf_dir, tmp_path, mutate_second=True
    )
    plain_dir = str(tmp_path / "plain")
    auto_dir = str(tmp_path / "auto")
    so.vector_index_sink(
        _vector_stream(spark, in_dir), vec_centroids, plain_dir,
        str(tmp_path / "ckpt_plain"),
    ).awaitTermination(120)
    so.vector_index_sink(
        _vector_stream(spark, in_dir), vec_centroids, auto_dir,
        str(tmp_path / "ckpt_auto"), auto_compact_every=1,
    ).awaitTermination(120)

    assert so.compacted_upto(spark, auto_dir) is not None

    def snap(d):
        return {
            (r.vec_id, r.cell, tuple(round(float(x), 5) for x in r.embedding))
            for r in so.read_vector_index(spark, d).collect()
        }

    assert snap(auto_dir) == snap(plain_dir)

    # CLI path: gc-compact the PLAIN index; view unchanged, watermark set
    from graphragdatapipeline_spark.__main__ import main as cli_main

    before = snap(plain_dir)
    assert cli_main(["compact-index", "vector", plain_dir, "--gc"]) == 0
    assert so.compacted_upto(spark, plain_dir) is not None
    assert snap(plain_dir) == before

    # gc on the ALREADY-compacted index (todo empty): the quiesced
    # maintenance run must still reclaim the epoch dirs and the older
    # generations the inline cadence (always gc=False) left behind,
    # leaving exactly one generation — and the view unchanged.
    import glob as _glob

    assert _glob.glob(os.path.join(auto_dir, "epoch=*"))  # history present
    n_gens = len(_glob.glob(os.path.join(auto_dir, "_compacted", "upto=*")))
    assert n_gens > 1  # cadence=1 left one generation per fire
    so.compact_vector_index(spark, auto_dir, gc=True)
    assert not _glob.glob(os.path.join(auto_dir, "epoch=*"))
    assert len(_glob.glob(os.path.join(auto_dir, "_compacted", "upto=*"))) == 1
    assert snap(auto_dir) == before


def test_vector_index_probe_cross_cell_upsert_not_resurrected(spark, tmp_path):
    """The probe's pruned read path (slim winner agg ⋈ cell-filtered
    payload — NOT the full-index latest-wins window) must not
    resurrect a superseded row that sits in the probed cell while its
    newer version lives in ANOTHER cell: id 1 starts near the origin
    (cell 0) and is re-embedded near (10,10) (cell 1). Probing cell 0
    must return only id 3; probing cell 1 must find id 1 at its new
    vector."""
    cents = [[0.0, 0.0], [10.0, 10.0]]
    idx = str(tmp_path / "index")
    ddl = "vec_id bigint, embedding array<float>, cell int, _epoch bigint"
    spark.createDataFrame(
        [(1, [0.1, 0.0], 0, 0), (2, [9.0, 9.0], 1, 0), (3, [0.0, 0.2], 0, 0)],
        ddl,
    ).write.parquet(f"{idx}/epoch=0")
    so._mark_committed(spark, idx + "/_commits", 0)
    spark.createDataFrame([(1, [9.5, 9.5], 1, 1)], ddl).write.parquet(
        f"{idx}/epoch=1"
    )
    so._mark_committed(spark, idx + "/_commits", 1)

    near_origin = so.vector_index_probe(
        spark, idx, cents, [0.1, 0.1], k=8, nprobe=1
    )
    assert {r.vec_id for r in near_origin.collect()} == {3}

    far = so.vector_index_probe(spark, idx, cents, [9.6, 9.6], k=1, nprobe=2)
    assert [r.vec_id for r in far.collect()] == [1]

    # and the latest-wins VIEW agrees: id 1 resolved to the new cell
    view = {(r.vec_id, r.cell) for r in so.read_vector_index(spark, idx).collect()}
    assert view == {(1, 1), (2, 1), (3, 0)}


def test_vector_index_delete_tombstones(spark, tmp_path, vec_centroids):
    """Deletes are NULL-vector tombstones: the deleted id disappears
    from the latest-wins view and the probe, compaction PHYSICALLY
    removes it from the compacted generation (the
    right-to-be-forgotten endpoint), and a later re-insert brings the
    id back through the tail."""
    import time

    ddl = "vec_id bigint, embedding array<float>"
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    s0 = spark.createDataFrame(
        [(1, [0.1, 0.0]), (2, [0.2, 0.1]), (3, [9.0, 9.0])], ddl
    )
    s1 = spark.createDataFrame(
        [(2, None), (3, [8.5, 8.5]), (4, [0.3, 0.3])], ddl
    )
    for i, sl in enumerate([s0, s1]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)

    cents = [[0.0, 0.0], [10.0, 10.0]]
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(stream, cents, index_dir, ckpt).awaitTermination(120)

    view = so.read_vector_index(spark, index_dir)
    assert {r.vec_id for r in view.collect()} == {1, 3, 4}
    # id 3 resolved to its UPSERTED vector
    got3 = [r for r in view.collect() if r.vec_id == 3][0]
    assert [round(float(x), 5) for x in got3.embedding] == [8.5, 8.5]
    # the probe never returns the deleted id, from either cell
    for q, np_ in ([0.2, 0.1], 1), ([0.2, 0.1], 2):
        probed = so.vector_index_probe(spark, index_dir, cents, q, k=8, nprobe=np_)
        assert 2 not in {r.vec_id for r in probed.collect()}

    # compaction physically removes the tombstoned id
    upto = so.compact_vector_index(spark, index_dir, gc=True)
    gen = spark.read.parquet(f"{index_dir}/_compacted/upto={upto}")
    assert {r.vec_id for r in gen.collect()} == {1, 3, 4}  # no id-2 row at all
    assert {r.vec_id for r in so.read_vector_index(spark, index_dir).collect()} == {
        1,
        3,
        4,
    }

    # re-insert after delete: visible again through the tail
    time.sleep(1.1)
    spark.createDataFrame([(2, [0.25, 0.15])], ddl).coalesce(1).write.parquet(
        os.path.join(in_dir, "slice=2")
    )
    stream2 = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(stream2, cents, index_dir, ckpt).awaitTermination(120)
    after = {r.vec_id for r in so.read_vector_index(spark, index_dir).collect()}
    assert after == {1, 2, 3, 4}


def test_vector_index_custom_columns_auto_compact(spark, tmp_path):
    """Regression: the inline auto-compaction used to call
    compact_vector_index without forwarding vec_col, so a sink
    configured with non-default column names crashed (or mis-filtered
    tombstones) at the cadence — and the compacted generation must
    keep DISJOINT per-file cell ranges (partition_by), not coalesced
    id-hash runs, so probe row-group skipping survives compaction."""
    import time

    ddl = "doc bigint, vec array<float>"
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    s0 = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(1, 101)], ddl
    )
    s1 = spark.createDataFrame(
        [(1, None), (2, [9.0, 9.0]), (101, [0.5, 0.5])], ddl
    )
    for i, sl in enumerate([s0, s1]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)

    cents = [[0.0, 0.0], [10.0, 10.0]]
    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    q = so.vector_index_sink(
        stream,
        cents,
        index_dir,
        str(tmp_path / "ckpt"),
        id_col="doc",
        vec_col="vec",
        auto_compact_every=1,  # fires INSIDE the stream — the old bug site
    )
    q.awaitTermination(120)

    upto = so.compacted_upto(spark, index_dir)
    assert upto is not None  # the cadence actually compacted
    view = so.read_vector_index(spark, index_dir, id_col="doc", vec_col="vec")
    ids = {r.doc for r in view.collect()}
    assert 1 not in ids and {2, 101}.issubset(ids) and len(ids) == 100

    # disjoint per-file cell ranges in the compacted generation
    gen = spark.read.parquet(f"{index_dir}/_compacted/upto={upto}")
    ranges = (
        gen.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("cell").alias("lo"), F.max("cell").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping per-file cell ranges: {spans}"


def test_vector_index_probe_tail_bounded_equals_resolved_view(
    spark, tmp_path
):
    """r13 probe equivalence contract: in EVERY compaction state
    (never compacted / fully compacted, empty tail / compacted with a
    post-watermark tail carrying upserts, a tombstone, and a
    cross-cell move), the tail-bounded probe must return exactly
    cosine top-k over the cell-filtered latest-wins VIEW — the
    semantic spec the old full-index winner aggregation implemented."""
    import time

    from graphragdatapipeline_spark.vector.similarity import cosine_topk

    cents = [[0.0, 0.0], [10.0, 10.0]]
    ddl = "vec_id bigint, embedding array<float>"
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    s0 = spark.createDataFrame(
        [(i, [float(i % 4) + 0.1, float((i * 3) % 5) + 0.1]) for i in range(1, 41)]
        + [(100, [9.0, 9.0]), (101, [9.5, 9.0])],
        ddl,
    )
    # tail traffic: upsert id 5 in place, MOVE id 7 across cells,
    # tombstone id 9, insert a fresh id
    s1 = spark.createDataFrame(
        [(5, [0.5, 0.5]), (7, [9.9, 9.9]), (9, None), (200, [1.0, 1.0])], ddl
    )
    for i, sl in enumerate([s0, s1]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(
        stream, cents, index_dir, str(tmp_path / "ckpt")
    ).awaitTermination(120)

    def check(qvec, nprobe):
        ranked = sorted(
            range(len(cents)),
            key=lambda i: (
                sum((a - b) * (a - b) for a, b in zip(qvec, cents[i])),
                i,
            ),
        )
        cells = ranked[: max(1, nprobe)]
        view = so.read_vector_index(spark, index_dir)
        want = [
            tuple(r)
            for r in cosine_topk(
                view.filter(F.col("cell").isin(cells)), qvec, k=10
            ).collect()
        ]
        got = [
            tuple(r)
            for r in so.vector_index_probe(
                spark, index_dir, cents, qvec, k=10, nprobe=nprobe
            ).collect()
        ]
        assert got == want, f"probe != resolved view at nprobe={nprobe}"

    for qvec in ([0.3, 0.4], [9.2, 9.3]):
        for nprobe in (1, 2):
            # state 1: never compacted (winner agg over all epochs)
            check(qvec, nprobe)
    # state 2: compacted with an empty tail (pure directory-pruned scan)
    so.compact_vector_index(spark, index_dir, gc=True)
    for qvec in ([0.3, 0.4], [9.2, 9.3]):
        for nprobe in (1, 2):
            check(qvec, nprobe)
    # state 3: compacted + post-watermark tail (anti-join ∪ tail winners)
    import time as _t

    _t.sleep(1.1)
    s2 = spark.createDataFrame(
        [(5, [9.7, 9.7]), (100, None), (300, [0.2, 0.2])], ddl
    )
    s2.coalesce(1).write.parquet(os.path.join(in_dir, "slice=2"))
    stream2 = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(
        stream2, cents, index_dir, str(tmp_path / "ckpt")
    ).awaitTermination(120)
    assert so.compacted_upto(spark, index_dir) is not None  # tail > watermark
    for qvec in ([0.3, 0.4], [9.2, 9.3]):
        for nprobe in (1, 2):
            check(qvec, nprobe)

    # the probed plan actually DIRECTORY-prunes the compacted
    # generation: its FileScan carries a cell PartitionFilter
    plan = so.vector_index_probe(
        spark, index_dir, cents, [0.3, 0.4], k=10, nprobe=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def test_read_vector_index_tail_bounded_equals_full_window(spark, tmp_path):
    """r13 read-path equivalence contract: the tail-bounded view
    (compacted rows anti-joined on tail ids ∪ live tail winners) must
    equal the naive pre-r13 shape — latest_wins over ALL committed
    rows, tombstones dropped — in every compaction state, including
    tail upserts of compacted ids, a tombstone of a compacted id, and
    a re-insert after a tombstone."""
    import time

    cents = [[0.0, 0.0], [10.0, 10.0]]
    ddl = "vec_id bigint, embedding array<float>"
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    s0 = spark.createDataFrame(
        [(i, [float(i), float(i) / 2.0]) for i in range(1, 11)], ddl
    )
    s1 = spark.createDataFrame([(3, None), (11, [9.0, 9.0])], ddl)
    for i, sl in enumerate([s0, s1]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(
        stream, cents, index_dir, str(tmp_path / "ckpt")
    ).awaitTermination(120)

    def naive():
        cur = so.read_committed_epochs(
            spark, index_dir, index_dir + "/_commits"
        )
        return {
            (r.vec_id, tuple(r.embedding), r.cell)
            for r in so.latest_wins(cur, "vec_id")
            .filter(F.col("embedding").isNotNull())
            .collect()
        }

    def view():
        return {
            (r.vec_id, tuple(r.embedding), r.cell)
            for r in so.read_vector_index(spark, index_dir).collect()
        }

    # state 1: never compacted
    assert view() == naive() and 3 not in {v[0] for v in view()}
    # state 2: compacted, empty tail
    so.compact_vector_index(spark, index_dir, gc=True)
    assert view() == naive()
    # state 3: compacted + tail (upsert id 5, tombstone compacted id 7,
    # re-insert the previously-tombstoned id 3, fresh id 12)
    time.sleep(1.1)
    s2 = spark.createDataFrame(
        [(5, [9.5, 9.5]), (7, None), (3, [0.3, 0.3]), (12, [1.0, 1.0])],
        ddl,
    )
    s2.coalesce(1).write.parquet(os.path.join(in_dir, "slice=2"))
    stream2 = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(
        stream2, cents, index_dir, str(tmp_path / "ckpt")
    ).awaitTermination(120)
    got = view()
    ids = {v[0] for v in got}
    assert got == naive()
    assert 7 not in ids and 3 in ids and 12 in ids
    assert [v for v in got if v[0] == 5][0][1] == (9.5, 9.5)
    # the tail-bounded plan's only window runs over the TAIL: the
    # compacted generation reaches the union through an anti-join,
    # not a row_number sort-shuffle over the whole index
    plan = (
        so.read_vector_index(spark, index_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftAnti" in plan


def test_vector_index_gc_reclaims_commit_markers(spark, tmp_path):
    """gc=True on the vector index (exclusive commits dir) must delete
    the commit markers ≤ the watermark (bounded marker listings — r13
    advice), leave the view intact, and keep accepting + reading
    post-gc epochs through fresh markers."""
    import time

    cents = [[0.0, 0.0], [10.0, 10.0]]
    ddl = "vec_id bigint, embedding array<float>"
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, rows in enumerate(
        [[(1, [0.1, 0.1]), (2, [9.0, 9.0])], [(3, [0.2, 0.2])]]
    ):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            os.path.join(in_dir, f"slice={i}")
        )
        time.sleep(1.1)
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(stream, cents, index_dir, ckpt).awaitTermination(120)
    assert len(so.committed_epochs(spark, index_dir + "/_commits")) == 2

    before = {r.vec_id for r in so.read_vector_index(spark, index_dir).collect()}
    upto = so.compact_vector_index(spark, index_dir, gc=True)
    assert so.committed_epochs(spark, index_dir + "/_commits") == []  # swept
    assert {
        r.vec_id for r in so.read_vector_index(spark, index_dir).collect()
    } == before

    # post-gc epoch: lands at id > watermark, marker visible, read merges
    time.sleep(1.1)
    spark.createDataFrame([(4, [0.3, 0.3])], ddl).coalesce(1).write.parquet(
        os.path.join(in_dir, "slice=2")
    )
    stream2 = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(stream2, cents, index_dir, ckpt).awaitTermination(120)
    tail_marks = so.committed_epochs(spark, index_dir + "/_commits")
    assert tail_marks and min(tail_marks) > upto
    assert {
        r.vec_id for r in so.read_vector_index(spark, index_dir).collect()
    } == before | {4}


def test_substring_index_gc_reclaims_shared_markers_last(
    spark, sf_dir, tmp_path
):
    """The substring orchestrator gc's the SHARED commit markers only
    after primary + sidecar both reached the watermark; the view and a
    post-gc re-score are unaffected."""
    import time

    import graphragdatapipeline_spark.operators.dedup as dd
    from graphragdatapipeline_spark.io import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    in_dir = str(tmp_path / "docs_in")
    os.makedirs(in_dir)
    for i, sl in enumerate([d.limit(60), d.limit(120).subtract(d.limit(60))]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    index_dir = str(tmp_path / "ssidx")
    so.substring_index_sink(
        stream, index_dir, str(tmp_path / "ckpt"), guard_redelivery=True
    ).awaitTermination(180)

    before = {
        tuple(r) for r in so.read_substring_index(spark, index_dir).collect()
    }
    upto = so.compact_substring_index(spark, index_dir, gc=True)
    assert upto is not None
    assert so.committed_epochs(spark, index_dir + "/_commits") == []
    assert {
        tuple(r) for r in so.read_substring_index(spark, index_dir).collect()
    } == before


def test_neardup_band_gc_keeps_corpus_markers(spark, sf_dir, tmp_path):
    """The band index shares the CORPUS's commit markers and the corpus
    is never compacted — band gc must NOT touch the markers, or every
    corpus read would silently lose its committed epochs."""
    import time

    from graphragdatapipeline_spark.io import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    in_dir = str(tmp_path / "docs_in")
    os.makedirs(in_dir)
    for i, sl in enumerate([d.limit(40), d.limit(80).subtract(d.limit(40))]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    corpus_dir = str(tmp_path / "corpus")
    band_dir = str(tmp_path / "bands")
    so.incremental_neardup_sink(
        stream, corpus_dir, band_dir, str(tmp_path / "ckpt")
    ).awaitTermination(180)

    marks = so.committed_epochs(spark, corpus_dir + "/_commits")
    assert len(marks) == 2
    corpus_before = so.read_committed_epochs(
        spark, corpus_dir, corpus_dir + "/_commits"
    ).count()
    so.compact_neardup_band_index(spark, band_dir, corpus_dir, gc=True)
    # markers intact — the corpus still reads every committed epoch
    assert so.committed_epochs(spark, corpus_dir + "/_commits") == marks
    assert (
        so.read_committed_epochs(
            spark, corpus_dir, corpus_dir + "/_commits"
        ).count()
        == corpus_before
    )


def test_vector_index_all_tombstoned_compacts_to_empty(spark, tmp_path):
    """Deleting EVERY id then compacting yields an empty generation
    (no data files to infer a schema from under partitionBy) — reads
    must degrade to 'no rows', and a re-insert through the tail
    resurrects the index."""
    import time

    cents = [[0.0, 0.0], [10.0, 10.0]]
    ddl = "vec_id bigint, embedding array<float>"
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    slices = [
        [(1, [0.1, 0.1]), (2, [9.0, 9.0])],
        [(1, None), (2, None)],
    ]
    for i, rows in enumerate(slices):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            os.path.join(in_dir, f"slice={i}")
        )
        time.sleep(1.1)
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(stream, cents, index_dir, ckpt).awaitTermination(120)
    so.compact_vector_index(spark, index_dir, gc=True)

    view = so.read_vector_index(spark, index_dir)
    assert view is None or view.count() == 0

    time.sleep(1.1)
    spark.createDataFrame([(3, [0.3, 0.3])], ddl).coalesce(1).write.parquet(
        os.path.join(in_dir, "slice=2")
    )
    stream2 = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(stream2, cents, index_dir, ckpt).awaitTermination(120)
    assert {
        r.vec_id for r in so.read_vector_index(spark, index_dir).collect()
    } == {3}
    got = so.vector_index_probe(spark, index_dir, cents, [0.3, 0.3], k=2)
    assert [r.vec_id for r in got.collect()] == [3]


def test_vector_index_adc_probe_with_stored_codes(spark, tmp_path):
    """IVFADC over the streamed index (r13): the sink stores residual
    PQ codes at ingest; stored codes must equal a batch re-encode of
    the resolved view; the ADC probe at full nprobe + corpus-wide
    shortlist must equal the exact probe (and therefore brute force);
    tombstones never come back; compaction preserves the codes."""
    import time

    from graphragdatapipeline_spark.vector import similarity as vs

    cents = [[0.0, 0.0], [10.0, 10.0]]
    ddl = "vec_id bigint, embedding array<float>"
    rows0 = [
        (i, [float(i % 3) * 0.3 + 0.05, float((i * 7) % 5) * 0.2 + 0.05])
        for i in range(1, 31)
    ]
    rows0 += [(100, [9.0, 9.0]), (101, [9.5, 9.2])]
    s0 = spark.createDataFrame(rows0, ddl)
    # residual codebooks trained on the initial corpus (index metadata)
    books = vs.pq_train(
        s0.selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as embedding"),
        m=2, k=4, iters=2, centroids=cents,
    )
    # tail: upsert id 5, MOVE id 7 across cells, tombstone id 9, insert
    s1 = spark.createDataFrame(
        [(5, [0.5, 0.5]), (7, [9.9, 9.9]), (9, None), (200, [1.0, 1.0])], ddl
    )
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate([s0, s1]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(
        stream, cents, index_dir, str(tmp_path / "ckpt"), pq_books=books
    ).awaitTermination(120)

    view = so.read_vector_index(spark, index_dir)
    assert 9 not in {r.vec_id for r in view.collect()}

    # stored codes == batch re-encode of the resolved view
    reenc = view.select(
        "vec_id",
        *[
            c.alias(f"want_{i}")
            for i, c in enumerate(
                vs.pq_encode_cols(
                    books,
                    vs.residual_col(cents, F.col("embedding"), F.col("cell")),
                )
            )
        ],
    )
    bad = (
        view.join(reenc, "vec_id")
        .filter(
            (F.col("pq_0") != F.col("want_0"))
            | (F.col("pq_1") != F.col("want_1"))
        )
        .count()
    )
    assert bad == 0

    def check_probe(qvec):
        exact = [
            tuple(r)
            for r in so.vector_index_probe(
                spark, index_dir, cents, qvec, k=6, nprobe=2
            ).collect()
        ]
        adc = [
            tuple(r)
            for r in so.vector_index_probe_adc(
                spark, index_dir, cents, books, qvec, k=6, nprobe=2,
                shortlist=1000,
            ).collect()
        ]
        assert adc == exact
        assert 9 not in {t[0] for t in adc}

    for qvec in ([0.3, 0.3], [9.4, 9.4]):
        check_probe(qvec)

    # compaction (partitioned generation) carries the codes through
    so.compact_vector_index(spark, index_dir, gc=True)
    for qvec in ([0.3, 0.3], [9.4, 9.4]):
        check_probe(qvec)
    # and a NARROW shortlist still returns k valid rows (the sublinear
    # operating point — not exactness, just contract shape)
    narrow = so.vector_index_probe_adc(
        spark, index_dir, cents, books, [0.3, 0.3], k=3, nprobe=1, shortlist=4
    ).collect()
    assert len(narrow) == 3


def test_vector_index_arrow_encode_matches_fold(spark, tmp_path):
    """With more than 8 centroids the sink encodes with the Arrow-batched
    numpy kernel (the encode rule). On a boundary-free fixture of 9
    centroids its cells and residual-PQ codes must equal the batch
    fold expressions over the latest-wins input, its tombstone must
    carry NULL cell and codes, and the ADC probe over it must match
    the batch IVFADC path that re-derives codes with the fold.
    (Equidistant boundary vectors are the only documented divergence;
    this fixture has none: every vector lies within 1.5 of its
    centroid on a grid of pitch 10.)"""
    import math
    import time

    from graphragdatapipeline_spark.vector import similarity as vs

    cents = [[10.0 * a, 10.0 * b] for a in range(3) for b in range(3)]
    ddl = "vec_id bigint, embedding array<float>"
    rows0 = [
        (i, [cents[i % 9][0] + math.sin(i), cents[i % 9][1] + math.cos(1.7 * i)])
        for i in range(1, 46)
    ]
    s0 = spark.createDataFrame(rows0, ddl)
    books = vs.pq_train(
        s0.selectExpr(
            "vec_id", "transform(embedding, x -> cast(x as double)) as embedding"
        ),
        m=2, k=4, iters=2, centroids=cents,
    )
    # id 5 moves to another cell, id 9 is deleted
    s1 = spark.createDataFrame([(5, [20.3, 0.4]), (9, None)], ddl)
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, sl in enumerate([s0, s1]):
        sl.coalesce(1).write.parquet(os.path.join(in_dir, f"slice={i}"))
        time.sleep(1.1)
    idx = str(tmp_path / "index")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/slice=*")
    )
    so.vector_index_sink(
        stream, cents, idx, str(tmp_path / "ckpt"), pq_books=books
    ).awaitTermination(120)

    live = s0.filter(~F.col("vec_id").isin(5, 9)).unionByName(
        s1.filter(F.col("vec_id") == 5)
    )
    cell = vs.nearest_centroid_col(cents, F.col("embedding"))
    codes = vs.pq_encode_cols(books, vs.residual_col(cents, F.col("embedding"), cell))
    want = {tuple(r) for r in live.select("vec_id", cell, *codes).collect()}
    got = {
        (r.vec_id, r.cell, r.pq_0, r.pq_1)
        for r in so.read_vector_index(spark, idx).collect()
    }
    assert got == want and len({c for _, c, _, _ in got}) == 9
    tomb = spark.read.parquet(idx).filter(F.col("vec_id") == 9).collect()
    assert [(r.cell, r.pq_0, r.pq_1) for r in tomb if r.embedding is None] == [
        (None, None, None)
    ]
    for qvec in ([0.3, 0.3], [19.4, 0.6]):
        want = vs.ivfpq_residual_topk(
            live, cents, books, qvec, k=3, nprobe=2, shortlist=4
        ).collect()
        got = so.vector_index_probe_adc(
            spark, idx, cents, books, qvec, k=3, nprobe=2, shortlist=4
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
