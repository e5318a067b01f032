"""Custom stateful streaming operator (SURVEY §2.13 extension):
per-user lifetime aggregates maintained with applyInPandasWithState.

The reference's closest analogue is driver-side resumable caches
(wikidata_helpers.py:229-246) — state that survives across batches.
Here the state lives in Spark's state store, keyed by user, updated
per micro-batch from Arrow-batched pandas frames.

Contract: the emitted rows after the final micro-batch equal the
batch query user_lifetime_agg(df) — that twin is what the DuckDB
oracle checks, while the streaming test drives the real stateful
operator and compares the two.

Scale: state is partitioned by the grouping key across executors
(HDFS/RocksDB-backed state store on a real cluster); per-key state
here is O(1) floats, so 10^9 users is bounded by state-store disk,
not executor memory. GroupStateTimeout would evict idle keys for
unbounded key spaces.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_DDL = "n_events BIGINT, sum_value DOUBLE, max_value DOUBLE"
OUTPUT_DDL = "user_id BIGINT, n_events BIGINT, sum_value DOUBLE, max_value DOUBLE"


def _update_user_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch's rows for one user into running
    (count, sum, max) state; emit the updated totals."""
    n, s, mx = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += int(len(pdf))
        s += float(vals.sum())
        batch_max = float(vals.max()) if len(vals) else None
        if batch_max is not None:
            mx = batch_max if mx is None else max(mx, batch_max)
    state.update((n, s, mx))
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n, "sum_value": s, "max_value": mx}]
    )


def user_lifetime_agg_stream(events_stream: DataFrame) -> DataFrame:
    """The stateful operator: groupBy(user).applyInPandasWithState.
    Output mode 'update' — each micro-batch emits refreshed totals for
    the users it touched."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_DDL,
        stateStructType=STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_lifetime_agg_batch(events: DataFrame) -> DataFrame:
    """Batch twin with identical semantics: what the state store holds
    after all events have streamed through."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )


HISTORY_STATE_DDL = "cur_state STRING, valid_from_us BIGINT, n_events BIGINT"
HISTORY_OUTPUT_DDL = (
    "user_id BIGINT, state STRING, valid_from TIMESTAMP, "
    "valid_to TIMESTAMP, n_events BIGINT"
)


def _update_state_history(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming twin of operators.relational.state_history: emit each
    CLOSED state interval the moment its run ends; the still-open run
    lives in the state store between micro-batches. Closed intervals
    never change, so the output is append-safe.

    Ordering contract: rows must arrive per-key in event-time order
    ACROSS micro-batches (the natural property of CDC/changelog
    sources); within a micro-batch the processor sorts by (ts,
    event_id) itself."""
    cur, vf_us, n = state.get if state.exists else (None, None, 0)
    out: list[tuple] = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, et in zip(pdf["ts"], pdf["event_type"]):
            ts_us = int(pd.Timestamp(ts).value // 1_000)
            if cur is None:
                cur, vf_us, n = et, ts_us, 1
            elif et == cur:
                n += 1
            else:
                out.append(
                    (
                        key[0],
                        cur,
                        pd.Timestamp(vf_us * 1_000),
                        pd.Timestamp(ts_us * 1_000),
                        n,
                    )
                )
                cur, vf_us, n = et, ts_us, 1
    state.update((cur, vf_us, n))
    yield pd.DataFrame(
        out, columns=["user_id", "state", "valid_from", "valid_to", "n_events"]
    )


def state_history_stream(
    events_stream: DataFrame, state_ttl_seconds: int | None = None
) -> DataFrame:
    """groupBy(user).applyInPandasWithState run-collapse. Output mode
    'append': only closed intervals are emitted (the open run would be
    retracted-and-replaced, which append cannot express — batch twin:
    state_history(...).filter(valid_to IS NOT NULL)).

    ``state_ttl_seconds`` bounds state for unbounded user spaces (the
    100 TB requirement — without it every user ever seen holds a state
    row forever): a user idle for longer than the TTL is EVICTED via
    processing-time timeout, and the eviction FLUSHES their open run
    as a final interval with valid_to NULL — every event still lands
    in exactly one emitted interval. A later event for an evicted user
    starts a fresh run."""
    ttl_ms = None if state_ttl_seconds is None else state_ttl_seconds * 1000
    cols = ["user_id", "state", "valid_from", "valid_to", "n_events"]

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            cur, vf_us, n = state.get
            out = []
            if cur is not None:
                out.append((key[0], cur, pd.Timestamp(vf_us * 1_000), None, n))
            state.remove()
            yield pd.DataFrame(out, columns=cols)
            return
        yield from _update_state_history(key, pdfs, state)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=HISTORY_OUTPUT_DDL,
        stateStructType=HISTORY_STATE_DDL,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


FUNNEL_OUTPUT_DDL = "user_id BIGINT, converted TIMESTAMP"


def funnel_stream(
    events_stream: DataFrame,
    steps: list[str],
    max_gap_seconds: int | None = None,
    state_ttl_seconds: int | None = None,
) -> DataFrame:
    """Real-time ordered-funnel tracking — the streaming twin of
    operators.relational.funnel_conversions: per-user state holds the
    earliest qualifying ts of each reached stage; the moment a user's
    FINAL stage qualifies (strictly after the previous stage's reach
    ts, within the optional conversion window), one append row
    (user_id, converted) is emitted. Conversions never retract, so the
    output is append-safe.

    Greedy-min equivalence: processing rows per-key in (ts, event_id)
    order makes 'first qualifying event' identical to the batch
    chain's min-aggregate at every stage. Ordering contract matches
    state_history_stream: per-key event-time order across
    micro-batches (the CDC/changelog property); within a micro-batch
    the processor sorts itself.

    State is len(steps) longs + a done flag per user — bounded per
    key, but at 100 TB user cardinality the KEY COUNT is unbounded:
    pass ``state_ttl_seconds`` to evict users idle longer than the
    TTL via processing-time timeout. An evicted user's partial funnel
    progress is forgotten (a later event restarts from step one) —
    the standard trade for bounded state; converted users' done-flags
    are evicted the same way, making re-conversion possible after a
    TTL of silence, which matches funnel semantics over a bounded
    engagement horizon."""
    n = len(steps)
    state_ddl = ", ".join(f"r{i} BIGINT" for i in range(n)) + ", done BOOLEAN"
    gap_us = None if max_gap_seconds is None else max_gap_seconds * 1_000_000
    ttl_ms = None if state_ttl_seconds is None else state_ttl_seconds * 1000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=["user_id", "converted"])
            return
        st = list(state.get) if state.exists else [None] * n + [False]
        reach, done = st[:n], bool(st[n])
        out = []
        for pdf in pdfs:
            if done:
                break
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                if done:
                    break
                j = next((i for i in range(n) if reach[i] is None), None)
                if j is None or et != steps[j]:
                    continue
                ts_us = int(pd.Timestamp(ts).value // 1_000)
                if j > 0:
                    if ts_us <= reach[j - 1]:
                        continue
                    if gap_us is not None and ts_us > reach[j - 1] + gap_us:
                        continue
                reach[j] = ts_us
                if j == n - 1:
                    done = True
                    out.append((key[0], pd.Timestamp(ts_us * 1_000)))
        state.update(tuple(reach) + (done,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=["user_id", "converted"])

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT_DDL,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
