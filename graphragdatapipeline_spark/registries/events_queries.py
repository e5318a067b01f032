"""Event/streaming registry queries (§2.13 extension). Batch-mode
executions of the shared batch/streaming operators — the DuckDB
oracles pin the window semantics; pytest runs the same operators as
real streams (readStream + availableNow) and asserts equal output."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.registry import davg, register, with_ctes
from graphragdatapipeline_spark.streaming import ops as so


@register(
    "events_tumbling_window",
    oracle="""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type,
       count(*) AS n_events,
       floor((sum(CAST(value AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_value
FROM events
GROUP BY 1, 2
""",
    headline=True,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows per event_type."""
    return so.tumbling_window_agg(read_table(spark, sf_dir, "events"), "1 hour")


@register(
    "events_sliding_window",
    oracle="""
WITH starts AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - s.i * 1800 AS window_start
  FROM events, (SELECT unnest([0, 1]) AS i) s
)
SELECT window_start, event_type, count(*) AS n_events
FROM starts GROUP BY 1, 2
""",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30min — each event in exactly 2."""
    return so.sliding_window_counts(
        read_table(spark, sf_dir, "events"), "1 hour", "30 minutes"
    )


@register(
    "events_session_window",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n_events,
       floor((sum(CAST(value AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_value
FROM islands GROUP BY user_id, session_id
""",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30min gap) per user via native session_window."""
    return so.session_windows(read_table(spark, sf_dir, "events"), "30 minutes")


@register(
    "events_dedup_keep_first",
    oracle="""
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def events_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-dedup contract in batch: first event per
    (user, event_type)."""
    out = so.dedup_keep_first(
        read_table(spark, sf_dir, "events"), ["user_id", "event_type"]
    )
    return out.select("event_id", "user_id", "event_type")


@register(
    "events_daily_stats",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       floor(((sum(CAST(value AS DECIMAL(27,6)))::DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_value
FROM events GROUP BY 1, 2
""",
)
def events_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type activity rollup (uses UTC day boundaries via
    epoch arithmetic — engine/timezone-proof; UTC session conf is
    applied once in session.ensure_session_defaults, not here)."""
    e = read_table(spark, sf_dir, "events")
    day = F.from_unixtime(
        F.floor(F.unix_timestamp("ts") / 86400) * 86400, "yyyy-MM-dd"
    )
    return e.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        davg(F.col("value"), 4).alias("avg_value"),
    )


@register(
    "events_user_lifetime",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       floor((sum(CAST(value AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_value,
       max(value) AS max_value
FROM events
GROUP BY user_id
""",
)
def events_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState lifetime aggregator
    (streaming/stateful.py): per-user running totals as held in the
    state store after the last micro-batch. The streaming test drives
    the real stateful operator and asserts it matches this plan."""
    from graphragdatapipeline_spark.registry import dsum

    events = read_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 2).alias("sum_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "events_stream_stream_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_seconds
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.ts <= p.ts AND p.ts < c.ts + INTERVAL 60 MINUTE
""",
)
def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within
    1h, batch twin). In streaming mode the same operator runs with
    watermarks on both sides so join state expires — see the
    two-readStream pytest."""
    ev = read_table(spark, sf_dir, "events")
    return so.click_purchase_attribution(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon_minutes=60,
    )


@register(
    "events_asof_join",
    oracle="""
SELECT p.event_id AS purchase_id,
       p.user_id,
       c.event_id AS last_click_id,
       CASE WHEN c.event_id IS NOT NULL
            THEN CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) END AS lag_seconds
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched with the user's latest click
    at-or-before it (engine operator asof_join; oracle = DuckDB's
    native ASOF LEFT JOIN — two independent implementations of the
    same semantics)."""
    from graphragdatapipeline_spark.operators.relational import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("last_click_id"),
    )
    out = asof_join(
        purchases, clicks, "user_id", left_ts="ts", right_ts="click_ts",
        right_cols=["last_click_id", "click_ts"],
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "last_click_id",
        F.when(
            F.col("last_click_id").isNotNull(),
            F.unix_timestamp("ts") - F.unix_timestamp("click_ts"),
        ).alias("lag_seconds"),
    )


@register(
    "events_range_join_tiers",
    oracle="""
WITH tiers AS (
  SELECT 'low' AS tier, 0.0 AS lo, 100.0 AS hi
  UNION ALL SELECT 'mid', 100.0, 500.0
  UNION ALL SELECT 'high', 500.0, 1000000.0
)
SELECT t.tier, count(*) AS n_events,
       floor((sum(CAST(e.value AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY t.tier
""",
)
def events_range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (value-tier banding) via the bucketized equi-join
    rewrite — the scale path for non-equi joins (the naive plan is a
    nested-loop product)."""
    from graphragdatapipeline_spark.operators.relational import range_join_buckets
    from graphragdatapipeline_spark.registry import dsum

    ev = read_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1000000.0)],
        "tier STRING, lo DOUBLE, hi DOUBLE",
    )
    # The 'high' tier is open-ended (hi=1e6 sentinel); clamp bucket
    # enumeration to the observed value domain so it explodes into
    # O(domain/width) buckets, not 10k empty ones. clamp_to_fact folds
    # the min/max in as a broadcast one-row aggregate — lazy (no job at
    # plan-construction time) and safe on an empty events table.
    joined = range_join_buckets(ev, tiers, "value", bucket_width=100.0, clamp_to_fact=True)
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 2).alias("sum_value"),
    )


@register(
    "events_funnel_analysis",
    oracle=with_ctes(
        [
            ("v", """
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
"""),
            ("c", """
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
  WHERE e.event_type = 'click' GROUP BY 1
"""),
            ("p", """
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
    AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
  WHERE e.event_type = 'purchase' GROUP BY 1
"""),
        ],
        """SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_idx, count(*) AS n_users FROM v
UNION ALL SELECT 'click', 2, count(*) FROM c
UNION ALL SELECT 'purchase', 3, count(*) FROM p""",
    ),
)
def events_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: users reaching each
    stage strictly after their earliest qualifying previous-stage
    event AND within a 24 h conversion window (min-ts greedy matching;
    the window makes stage counts strictly decrease on the fixture —
    150/60/25 at sf0.01 — so the ordering logic is non-vacuously
    checked; operators.relational.funnel_counts for the per-stage
    shrinking-frontier scale shape)."""
    from graphragdatapipeline_spark.operators.relational import funnel_counts

    ev = read_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"], max_gap_seconds=24 * 3600)


@register(
    "events_cohort_retention",
    oracle="""
WITH cohorts AS (
  SELECT user_id AS u,
         CAST(floor(date_diff('day', DATE '1970-01-01', CAST(min(ts) AS DATE)) / 7) AS BIGINT)
           AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY 1
), activity AS (
  SELECT user_id AS u,
         CAST(floor(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week
  FROM events
)
SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
       count(DISTINCT a.u) AS n_active
FROM activity a JOIN cohorts c ON a.u = c.u
WHERE a.week >= c.cohort_week
GROUP BY 1, 2
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly signup-cohort retention triangle (engine-exact integer
    epoch weeks; operators.relational.cohort_retention)."""
    from graphragdatapipeline_spark.operators.relational import cohort_retention

    ev = read_table(spark, sf_dir, "events")
    return cohort_retention(ev, "signup")


@register(
    "events_rolling_wau",
    oracle="""
WITH days AS (
  SELECT user_id AS u,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
  FROM events
), exploded AS (
  SELECT u, unnest(generate_series(d, d + 6)) AS day FROM days
)
SELECT day, count(DISTINCT u) AS n_active
FROM exploded GROUP BY 1
""",
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per epoch day
    (operators.relational.rolling_distinct_users — constant-factor
    explode, one day-keyed countDistinct, no self-join)."""
    from graphragdatapipeline_spark.operators.relational import rolling_distinct_users

    ev = read_table(spark, sf_dir, "events")
    return rolling_distinct_users(ev, window_days=7)


@register(
    "events_state_history",
    oracle="""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS is_new
  FROM events
), runs AS (
  SELECT user_id, event_type, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), collapsed AS (
  SELECT user_id, run_id, min(event_type) AS state,
         min(ts) AS valid_from, count(*) AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, state,
       CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from,
       CAST(floor(epoch(lead(valid_from) OVER (
         PARTITION BY user_id ORDER BY run_id))) AS BIGINT) AS valid_to,
       n_events
FROM collapsed
""",
)
def events_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log → versioned state intervals (gaps-and-islands):
    consecutive duplicate event_types per user collapse into
    [valid_from, valid_to) runs via operators.relational.state_history
    — lag marks run starts, a running sum numbers runs, one groupBy
    collapses, lead closes the interval. One shuffle total."""
    from graphragdatapipeline_spark.operators import relational as rel

    ev = read_table(spark, sf_dir, "events")
    hist = rel.state_history(ev, "user_id", "ts", "event_type", ["event_id"])
    return hist.select(
        "user_id",
        "state",
        F.unix_timestamp("valid_from").alias("valid_from"),
        F.unix_timestamp("valid_to").alias("valid_to"),
        "n_events",
    )


@register(
    "events_distinct_sketch_rollup",
    oracle="""
SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       count(DISTINCT user_id) AS exact_users,
       true AS within_5pct
FROM events
""",
)
def events_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the 100 TB pattern for distinct counts
    over arbitrary date ranges: build one HLL sketch per day
    (hll_sketch_agg — an incremental, partition-local pass), then
    answer the range query by MERGING sketches (hll_union_agg +
    hll_sketch_estimate) without ever rescanning raw events. Unlike
    approx_count_distinct, the intermediate sketches are storable and
    composable: daily sketches roll up to weeks/months/any window.

    Sketch estimates are engine-specific bit patterns, so (same
    contract as approx_count_distinct) the oracle pins the exact
    distinct count plus a 5%-accuracy flag — at lgConfigK=12 the
    relative error is ~1.6%, so a 5% miss is deterministic-in-practice
    impossible."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_days",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.col("exact_users") * 0.05
        ).alias("within_5pct"),
    )


@register(
    "events_gap_fill",
    oracle="""
WITH bounds AS (
  SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), hourly AS (
  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(floor(epoch(s.hr)) AS BIGINT) AS hour_start, t.event_type,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
       CAST(COALESCE(last_value(h.n IGNORE NULLS) OVER (
         PARTITION BY t.event_type ORDER BY s.hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 0) AS BIGINT) AS carry_forward
FROM spine s CROSS JOIN types t
LEFT JOIN hourly h ON h.hr = s.hr AND h.event_type = t.event_type
""",
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap filling — the dashboard-grade regular series
    every analytics stack needs: a generated hour spine × the (small,
    broadcast) type dimension LEFT-joins the real hourly counts, so
    hours with no events exist as explicit zero rows (215 of 3600
    cells at sf0.01 — the gaps are real, not vacuous); carry_forward
    repeats the last observed count across gaps (last_value over an
    ordered frame, IGNORE NULLS).

    Scale shape: the spine is sequence()+explode from one min/max agg
    (rows = hours × types, tiny at any corpus size), the hourly agg is
    one shuffle of events, the spine joins broadcast — gap filling
    never shuffles the fact table twice."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hr"), "event_type"
    )
    bounds = ev.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    types = ev.select("event_type").distinct()
    hourly = ev.groupBy("hr", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(hourly), ["hr", "event_type"], "left")
        .select(
            F.unix_timestamp("hr").alias("hour_start"),
            "event_type",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce(F.last("n", ignorenulls=True).over(w), F.lit(0))
            .cast("long")
            .alias("carry_forward"),
        )
    )


@register(
    "events_value_percentiles",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       floor(quantile_cont(value, 0.50) * 1000000 + 0.5) / 1000000 AS p50,
       floor(quantile_cont(value, 0.90) * 1000000 + 0.5) / 1000000 AS p90,
       floor(quantile_cont(value, 0.99) * 1000000 + 0.5) / 1000000 AS p99
FROM events GROUP BY event_type
""",
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (p50/p90/p99) —
    the latency-dashboard aggregation every events pipeline runs.
    Spark's percentile and DuckDB's quantile_cont share the linear
    interpolation at rank p·(n−1), so the oracle is value-exact to the
    rounding. Scale shape: percentile is a full-shuffle agg on the
    grouping key only (no global sort); for 100 TB dashboards the
    approx_percentile sketch swaps in behind the same query shape when
    exactness is not required."""
    from graphragdatapipeline_spark.registry import dround

    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.percentile("value", F.lit(0.50)), 6).alias("p50"),
        dround(F.percentile("value", F.lit(0.90)), 6).alias("p90"),
        dround(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "events_value_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, m.med, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type, m.med
)
SELECT e.event_type,
       floor(a.med * 1000000 + 0.5) / 1000000 AS med,
       floor(a.mad * 1000000 + 0.5) / 1000000 AS mad,
       CAST(sum(CASE WHEN abs(e.value - a.med) > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       count(*) AS n_events
FROM events e JOIN mad a USING (event_type)
GROUP BY e.event_type, a.med, a.mad
""",
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median absolute
    deviation (MAD), flagging |value − median| > 3·MAD — the standard
    robust alternative to z-scores for data-quality monitoring (a few
    wild rows cannot drag the threshold the way they drag a stddev).
    Two grouped aggregations with BROADCAST joins back to the fact
    (the per-type stats are tiny); the fact table is scanned, never
    self-joined, so the plan holds at 100 TB."""
    from graphragdatapipeline_spark.registry import dround

    ev = read_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    j = ev.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type", "med").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    j2 = ev.join(F.broadcast(mad), "event_type")
    return j2.groupBy("event_type", "med", "mad").agg(
        F.sum(
            F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "event_type",
        dround(F.col("med"), 6).alias("med"),
        dround(F.col("mad"), 6).alias("mad"),
        "n_outliers",
        "n_events",
    )


@register(
    "events_value_histogram",
    oracle="""
WITH b AS (
  SELECT min(value) AS lo, max(value) AS hi FROM events
)
SELECT least(CAST(floor((value - lo) / ((hi - lo) / 20)) AS BIGINT), 19) AS bucket,
       count(*) AS n,
       floor(min(value) * 1000000 + 0.5) / 1000000 AS bucket_min,
       floor(max(value) * 1000000 + 0.5) / 1000000 AS bucket_max
FROM events, b
GROUP BY 1
""",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 20-bucket value histogram over the observed domain — the
    distribution profile behind every data-quality dashboard. The
    domain (min/max) comes from ONE scalar aggregate broadcast into a
    map-side bucket expression; the histogram itself is a single
    groupBy on the bucket id. Two scans, one shuffle, no sort — the
    same plan at 100 TB."""
    from graphragdatapipeline_spark.registry import dround

    ev = read_table(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    step = (F.col("hi") - F.col("lo")) / 20
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / step).cast("long"), F.lit(19)
    )
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.min("value"), 6).alias("bucket_min"),
            dround(F.max("value"), 6).alias("bucket_max"),
        )
    )


@register(
    "events_value_moments",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       floor(avg(value) * 10000 + 0.5) / 10000 AS mean_v,
       floor(stddev_samp(value) * 10000 + 0.5) / 10000 AS sd_v,
       floor(var_samp(value) * 10000 + 0.5) / 10000 AS var_v,
       floor(corr(value, CAST(user_id AS DOUBLE)) * 10000 + 0.5) / 10000 AS corr_vu
FROM events GROUP BY event_type
""",
)
def events_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per event_type: mean, sample
    stddev/variance, and value↔user correlation — the native
    merge-based moment aggregators (one partial-agg shuffle, exactly
    the 100 TB shape). Both engines accumulate central moments with
    pairwise-merge updates; 4-decimal rounding absorbs the float
    summation-order residue."""
    from graphragdatapipeline_spark.registry import dround

    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.avg("value"), 4).alias("mean_v"),
        dround(F.stddev_samp("value"), 4).alias("sd_v"),
        dround(F.var_samp("value"), 4).alias("var_v"),
        dround(F.corr("value", F.col("user_id").cast("double")), 4).alias("corr_vu"),
    )


@register(
    "events_windowed_p50",
    oracle="""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type,
       count(*) AS n_events,
       quantile_disc(value, 0.5) AS p_value
FROM events GROUP BY 1, 2
""",
)
def events_windowed_p50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly median value per event_type — the streaming-safe
    windowed percentile (bounded-state approx_percentile sketch; the
    pytest runs the same operator as a real stream and asserts
    equality). Below `accuracy` rows per window the sketch returns the
    exact lower-median order statistic, which DuckDB's quantile_disc
    replays exactly — a value-exact oracle for a sketch aggregate."""
    return so.windowed_percentile(read_table(spark, sf_dir, "events"), "1 hour")
