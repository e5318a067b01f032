"""Relational operator library (SURVEY §2.2–2.7).

Pure DataFrame→DataFrame functions. Each cites the reference behavior
it reproduces; all are built on Catalyst-planned primitives so pushdown,
partial aggregation and AQE apply automatically.

Scale notes baked into the designs:
- every per-group top-k uses window row_number (one shuffle on the
  group key, no driver collect);
- frequency top-N works on (group, item) pre-aggregated counts so the
  explode never feeds a wide shuffle row;
- dedup-by-priority cascades two windows; each reuses the same hash
  partitioning when keys share a prefix.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_by_priority(
    df: DataFrame,
    unique_cols: Sequence[str],
    sort_col: str,
    descending: bool = False,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """W3 — keep the highest-priority row per key, cascaded across key
    columns (reference: utils/data_transformation_helpers.py:89-120,
    applied at build_artist_index.py:190-195 with keys
    [artist_uri, name]).

    The reference relies on a global sort + stable `unique(keep=first)`;
    Spark has no implicit row order, so we take explicit tiebreakers to
    make "first" deterministic under shuffles.
    """
    order = [F.desc(sort_col) if descending else F.asc(sort_col)]
    order += [F.asc(t) for t in tiebreakers]
    out = df
    for key in unique_cols:
        w = Window.partitionBy(key).orderBy(*order)
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out


def best_row_per_group(
    df: DataFrame, group_cols: Sequence[str], order_by: Sequence[Column]
) -> DataFrame:
    """O2 — composite-priority best-row pick per group (reference:
    utils/musicbrainz_helpers.py:280-308 `select_best_release`:
    Official-status first, then earliest date with '9999-99-99'
    null-default). Callers encode the priority as order_by columns."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def top_k_per_group(
    df: DataFrame, group_cols: Sequence[str], order_by: Sequence[Column], k: int
) -> DataFrame:
    """W2 — top-k rows per group by a metric (reference:
    detect_communities.py:138-165 representative-artist pick). Adds a
    `rank` column (1-based)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def top_n_frequency(
    df: DataFrame,
    group_col: str,
    item_col: str,
    n: int,
) -> DataFrame:
    """A10/A11 — top-N most frequent items per group (reference:
    detect_communities.py:100-135 Counter.most_common over flattened
    tag/genre lists). Returns (group, items: array<string> sorted by
    desc count, then item asc for determinism).

    Plan shape: partial-agg count on (group, item) → window rank →
    collect_list of struct → sorted projection. The (group, item)
    pre-aggregation keeps the window input small: the window shuffle
    never sees raw rows. A list column is exploded by the caller.
    """
    items = df.select(F.col(group_col), F.col(item_col).alias("_item"))
    counts = items.filter(F.col("_item").isNotNull()).groupBy(group_col, "_item").count()
    w = Window.partitionBy(group_col).orderBy(F.desc("count"), F.asc("_item"))
    ranked = counts.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n)
    return ranked.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_rn"), F.col("_item")))
        ).alias("_ranked")
    ).select(
        group_col,
        F.transform("_ranked", lambda s: s["_item"]).alias(f"top_{item_col}"),
    )


def collect_list_sorted(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: Column,
    alias: str = "items",
) -> DataFrame:
    """A1 — deterministic collect_list: sort within a struct carrying
    the order key, then strip it (Spark collect_list order is not
    guaranteed; reference relies on Polars row order at
    ingest_graph_db.py:103-107)."""
    return (
        df.select(*group_cols, F.struct(F.col(order_col).alias("_o"), value_col.alias("_v")).alias("_s"))
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("_s")).alias("_arr"))
        .select(*group_cols, F.transform("_arr", lambda s: s["_v"]).alias(alias))
    )


def duplicate_groups(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """A5 — duplicate detection: groups with count > 1 (reference:
    defs/checks.py:32-41)."""
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("dup_count")).filter(
        F.col("dup_count") > 1
    )


def null_counts(
    df: DataFrame, cols: Sequence[str], count_alias: str | None = None
) -> DataFrame:
    """A3 — per-column null counts in one pass (reference:
    defs/checks.py:27-28). `count_alias` adds a total-row count column
    in the SAME aggregation (BIGINT, no extra job) instead of callers
    bolting on an eager `F.lit(df.count())`."""
    aggs = [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls")
        for c in cols
    ]
    if count_alias is not None:
        aggs.append(F.count(F.lit(1)).alias(count_alias))
    return df.agg(*aggs)


def union_relaxed(a: DataFrame, b: DataFrame) -> DataFrame:
    """U1 — schema-relaxed vertical concat (reference:
    merge_wikipedia_articles.py:56 `how=vertical_relaxed`)."""
    return a.unionByName(b, allowMissingColumns=True)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join: a hot key that would pin one reducer
    gets spread over `salt_buckets` partitions.

    fact side: salt = pmod(hash(row), B) — splits each key's rows B
    ways. dim side: exploded B× so every (key, salt) pair exists.
    Equivalent to fact ⋈ dim on key for any 1:N dim (each fact row
    meets exactly one replica). AQE's skew-join handles sort-merge
    skew adaptively; explicit salting is for the cases AQE can't fix —
    aggregation-feeding joins and stream-side skew at known hot keys.
    Cost: dim replicated B×, so keep B modest and the dim slim."""
    salt = F.pmod(F.hash(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets))
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = f.join(d, [key, "_salt"], how)
    return out.drop("_salt")


def key_skew_profile(df: DataFrame, key: str, top_k: int = 10) -> DataFrame:
    """The measurement you run BEFORE choosing a skew strategy: per-key
    row counts for the `top_k` heaviest keys, each with its share of
    the table and its skew factor (count / mean-count-per-key). A
    skew_factor ≫ number-of-executor-slots on the top key says a plain
    shuffle join/agg on this key pins one reducer — reach for
    salted_join or AQE skew-join; ~1 says the key is safe.

    Cost shape: one partial-agg shuffle keyed on `key` (counts), a
    single-row global agg of the counts, broadcast back — no sort of
    the raw table, TakeOrdered for the top-k."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            key,
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
            (F.col("n_rows") * F.col("_n_keys") / F.col("_total")).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.desc("n_rows"), F.asc(key))
        .limit(top_k)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join: each left row picks the LATEST right row with
    right_ts <= left_ts for its key (DuckDB/kdb ASOF semantics; the
    custom-operator example Spark lacks natively).

    Not a range join: tagged union + one per-key window with
    last(ignorenulls) carry — a single shuffle+sort on (key, ts),
    O(n log n) within partitions, no (left × right-window) blowup.
    Right rows sort before left rows at equal ts so exact-tie matches
    are included, like DuckDB's ASOF >=."""
    rc = right_cols or [c for c in right.columns if c not in (key, right_ts)]
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in rc],
    )
    l = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(r.schema[c].dataType).alias(c) for c in rc],
        F.struct(*[F.col(c) for c in left.columns]).alias("_left_row"),
    )
    r = r.withColumn("_left_row", F.lit(None).cast(l.schema["_left_row"].dataType))
    tagged = r.unionByName(l)
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "_side",
        "_left_row",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in rc],
    ).filter(F.col("_side") == 1)
    return carried.select(
        *[F.col("_left_row")[c].alias(c) for c in left.columns],
        *[F.col(c) for c in rc],
    )


def range_join_buckets(
    fact: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float = 1.0,
    clamp_lo: float | None = None,
    clamp_hi: float | None = None,
    clamp_to_fact: bool = False,
) -> DataFrame:
    """Range join (fact.value ∈ [range.lo, range.hi)) rewritten as an
    equi join on discretized buckets.

    Naive range joins broadcast-nested-loop (O(|fact|·|ranges|)); here
    each range row explodes into its covered buckets and the fact side
    joins on floor(value/width) — an equi join Catalyst shuffles/
    broadcasts like any other, then a cheap residual filter re-checks
    the exact bounds. Pick bucket_width ≈ typical range span so range
    rows explode into O(1) buckets.

    Open-ended sentinel bounds (lo=-inf-ish / hi=+inf-ish) would
    otherwise enumerate millions of empty buckets; bound enumeration to
    buckets that can actually match by either passing the fact-side
    domain as clamp_lo/clamp_hi, or setting ``clamp_to_fact=True`` to
    fold a column-pruned min/max aggregate of the fact side into the
    plan as a broadcast one-row join — fully LAZY (no driver-side job
    at plan-construction time) and empty-input-safe (empty fact → NULL
    bounds → zero ranges → empty result, which is correct since an
    empty fact matches nothing). The residual filter still applies the
    TRUE bounds, so clamping never changes the result."""
    b_fact = fact.withColumn(
        "_bucket", F.floor(F.col(value_col) / bucket_width).cast("long")
    )
    lo_expr: object = F.col(lo_col)
    hi_expr: object = F.col(hi_col)
    if clamp_to_fact:
        bounds = fact.agg(
            F.min(F.col(value_col)).cast("double").alias("_clamp_lo"),
            F.max(F.col(value_col)).cast("double").alias("_clamp_hi"),
        )
        ranges = ranges.crossJoin(F.broadcast(bounds)).filter(
            F.col("_clamp_lo").isNotNull()
        )
        lo_expr = F.greatest(lo_expr, F.col("_clamp_lo"))
        hi_expr = F.least(hi_expr, F.col("_clamp_hi"))
    if clamp_lo is not None:
        lo_expr = F.greatest(lo_expr, F.lit(float(clamp_lo)))
    if clamp_hi is not None:
        hi_expr = F.least(hi_expr, F.lit(float(clamp_hi)))
    if clamp_to_fact or clamp_lo is not None or clamp_hi is not None:
        # A range entirely outside the clamped domain can't match any
        # fact row; drop it rather than let sequence() run backwards.
        ranges = ranges.filter(lo_expr <= hi_expr)
    b_ranges = ranges.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(lo_expr / bucket_width).cast("long"),
                F.floor(hi_expr / bucket_width).cast("long"),
            )
        ),
    )
    return (
        b_fact.join(b_ranges, "_bucket")
        .filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)))
        .drop("_bucket", "_clamp_lo", "_clamp_hi")
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: how many users performed step 1, then
    step 2 strictly after it, then step 3 after that, ... Standard
    product-analytics shape (view -> click -> purchase) the reference's
    batch stack has no operator for.

    Semantics: a user reaches step i+1 iff they have a `steps[i+1]`
    event with ts strictly greater than their EARLIEST qualifying ts
    for step i (min-ts greedy matching — deterministic, and the
    standard funnel definition; strictly-after means same-timestamp
    events do not satisfy ordering). ``max_gap_seconds`` additionally
    requires each step within that window of the previous one — the
    conversion-window form every funnel dashboard uses.

    Scale shape: one user-keyed aggregation per step over a
    monotonically shrinking frontier — each iteration filters the raw
    events to one type (predicate pushdown to the scan), joins the
    (user, ts) frontier on the user key, and min-aggregates. len(steps)
    is small and static, so the plan is a fixed chain, not a loop; no
    window over all events, no per-user sort.

    Each frontier feeds BOTH its stage count and the next stage's join,
    so it is lazily checkpointed (the branch-reuse rule, SCALE.md) —
    coalesced to cluster parallelism first so an untuned session does
    not write 200 block files per stage."""
    frontiers = _funnel_frontiers(
        events, steps, user_col, type_col, ts_col, max_gap_seconds
    )
    out_rows = [
        frontier.agg(
            F.lit(step).alias("stage"),
            F.lit(i + 1).cast("long").alias("stage_idx"),
            F.count(F.lit(1)).alias("n_users"),
        )
        for i, (step, frontier) in enumerate(zip(steps, frontiers))
    ]
    out = out_rows[0]
    for nxt in out_rows[1:]:
        out = out.unionByName(nxt)
    return out


def _funnel_frontiers(
    events: DataFrame,
    steps: list[str],
    user_col: str,
    type_col: str,
    ts_col: str,
    max_gap_seconds: int | None,
) -> list[DataFrame]:
    """The funnel's per-stage frontier chain: frontiers[i] is (u, t)
    with t = each user's EARLIEST qualifying ts for steps[i]. Each
    frontier feeds both its stage count and the next stage's join, so
    each is lazily checkpointed (branch-reuse rule, SCALE.md),
    coalesced to cluster parallelism first."""
    par = max(events.sparkSession.sparkContext.defaultParallelism, 2)
    frontier = None
    frontiers = []
    for step in steps:
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t")
        )
        if frontier is None:
            frontier = ev.groupBy("u").agg(F.min("t").alias("t"))
        else:
            joined = ev.join(
                frontier.select("u", F.col("t").alias("prev_t")), "u"
            ).filter(F.col("t") > F.col("prev_t"))
            if max_gap_seconds is not None:
                joined = joined.filter(
                    F.col("t")
                    <= F.col("prev_t") + F.expr(f"INTERVAL {max_gap_seconds} SECONDS")
                )
            frontier = joined.groupBy("u").agg(F.min("t").alias("t"))
        frontier = frontier.coalesce(par).localCheckpoint(eager=False)
        frontiers.append(frontier)
    return frontiers


def funnel_conversions(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Per-user FULL-funnel completions: (user_id, converted) where
    converted is the earliest qualifying final-stage ts — the last
    frontier of funnel_counts' chain. This is the batch twin of the
    streaming funnel state machine (streaming.stateful.funnel_stream)."""
    frontiers = _funnel_frontiers(
        events, steps, user_col, type_col, ts_col, max_gap_seconds
    )
    return frontiers[-1].select(
        F.col("u").alias(user_col), F.col("t").alias("converted")
    )


def cohort_retention(
    events: DataFrame,
    cohort_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention triangle: users grouped by the epoch
    week of their first `cohort_type` event, counted distinct per
    (cohort_week, weeks-since-cohort) activity cell.

    Weeks are floor(epoch_days / 7) — pure integer arithmetic, so
    cohort boundaries are identical on every engine (date_trunc('week')
    semantics vary by locale/engine). Shape: one user-keyed min-agg
    for cohorts, one user-keyed join of activity onto the |users|-row
    cohort table (broadcast when it fits, AQE decides), one
    (cohort, offset)-keyed countDistinct; events are never
    self-joined."""
    epoch_day = lambda c: F.datediff(F.to_date(c), F.lit("1970-01-01"))  # noqa: E731
    cohorts = (
        events.filter(F.col(type_col) == cohort_type)
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(F.col(ts_col)).alias("t0"))
        .select("u", F.floor(epoch_day(F.col("t0")) / 7).cast("long").alias("cohort_week"))
    )
    activity = events.select(
        F.col(user_col).alias("u"),
        F.floor(epoch_day(F.col(ts_col)) / 7).cast("long").alias("week"),
    )
    return (
        activity.join(cohorts, "u")
        .filter(F.col("week") >= F.col("cohort_week"))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count_distinct(F.col("u")).alias("n_active"))
    )


def rolling_distinct_users(
    events: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Rolling N-day distinct actives (the WAU/MAU metric): for each
    epoch day, how many distinct users were active in the trailing
    N-day window ending that day.

    Distinct counts cannot ride a sliding range-window, so each event
    is exploded into the N window-end days it contributes to, then one
    (day)-keyed countDistinct. Explode factor is the constant N (7 or
    30) — linear in events, never a self-join; partial aggregation
    dedups (day, user) map-side before the shuffle. Days are integer
    epoch days (engine-exact, same rationale as cohort_retention)."""
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01")).cast("long")
    return (
        events.select(F.col(user_col).alias("u"), day.alias("d"))
        .withColumn(
            "win_end", F.explode(F.sequence(F.col("d"), F.col("d") + (window_days - 1)))
        )
        .groupBy(F.col("win_end").alias("day"))
        .agg(F.count_distinct("u").alias("n_active"))
    )


def state_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Change-log → versioned state history: collapse each key's
    consecutive duplicate states into [valid_from, valid_to) intervals
    (run-length encoding), open-ended on the latest run.

    Extends the reference's window surface (SURVEY §2.5 notes it has
    no lead/lag or running aggregates) with the standard
    gaps-and-islands plan: lag marks run starts, a running sum numbers
    the runs, one groupBy collapses them, lead closes each interval.
    All three windows and the aggregation share the same hash
    partitioning on the key, so the whole history costs ONE shuffle —
    no per-row Python and no self-join, which is what makes it safe on
    a 100 TB change log."""
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(key_col).orderBy(*order)
    run_frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_new = (
        ~F.col(state_col).eqNullSafe(F.lag(state_col).over(w))
    ).cast("long")
    runs = (
        df.withColumn("_new", is_new)
        .withColumn("_run", F.sum("_new").over(run_frame))
        .groupBy(key_col, "_run")
        .agg(
            F.first(state_col).alias("state"),
            F.min(ts_col).alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w_run = Window.partitionBy(key_col).orderBy("_run")
    return runs.select(
        F.col(key_col),
        F.col("state"),
        F.col("valid_from"),
        F.lead("valid_from").over(w_run).alias("valid_to"),
        F.col("n_events"),
    )


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: Sequence[str],
    eff_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge — the incremental-table
    maintenance primitive a 100 TB warehouse pipeline runs nightly.

    ``current`` holds the dimension history (``valid_to`` NULL = open
    version); ``updates`` holds at most one row per key with the new
    attribute values and an effective timestamp. Per key:

    - no update, or update equal on every attr → row kept as-is;
    - changed attrs → the open row is closed at the effective time and
      a new open version is appended;
    - brand-new key → inserted as an open version.

    Plan shape: closed history passes through untouched (at scale it
    is the bulk of the table and never enters a join); open rows meet
    updates in ONE full-outer join on the key, and a single
    explode-of-struct-array projection emits 1 or 2 output rows per
    joined row — no branch fan-out re-reading the join, no MERGE
    statement required."""
    closed = current.filter(F.col(valid_to).isNotNull())
    open_rows = current.filter(F.col(valid_to).isNull())
    # Enforce the one-update-per-key contract rather than assume it:
    # with duplicate keys keep only the LATEST effective row (window
    # shares the join's hash partitioning on the key, so this costs no
    # extra shuffle). Without this, duplicates silently emit multiple
    # open versions per key.
    # Deterministic tiebreak for equal-eff duplicates: order the attr
    # values too, so row_number picks a reproducible winner instead of
    # whichever partition ordering Spark happened to produce.
    w_upd = Window.partitionBy(key_col).orderBy(
        F.desc(eff_col), *[F.desc(c) for c in attr_cols]
    )
    updates = (
        updates.withColumn("_rn", F.row_number().over(w_upd))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    u = updates.select(
        F.col(key_col),
        F.lit(True).alias("_has_upd"),
        F.col(eff_col).alias("_eff"),
        *[F.col(c).alias(f"_u_{c}") for c in attr_cols],
    )
    o = open_rows.withColumn("_has_cur", F.lit(True))
    j = o.join(u, key_col, "full_outer")

    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))
    both = F.col("_has_cur").isNotNull() & F.col("_has_upd").isNotNull()
    upd_only = F.col("_has_cur").isNull()

    def _ver(attrs: list[Column], vf: Column, vt: Column) -> Column:
        return F.struct(
            *[a.alias(c) for a, c in zip(attrs, attr_cols)],
            vf.alias(valid_from),
            vt.alias(valid_to),
        )

    cur_attrs = [F.col(c) for c in attr_cols]
    upd_attrs = [F.col(f"_u_{c}").cast(j.schema[c].dataType) for c in attr_cols]
    null_vt = F.lit(None).cast(j.schema[valid_to].dataType)
    keep = _ver(cur_attrs, F.col(valid_from), F.col(valid_to))
    close_out = _ver(cur_attrs, F.col(valid_from), F.col("_eff"))
    new_ver = _ver(upd_attrs, F.col("_eff").cast(j.schema[valid_from].dataType), null_vt)

    versions = (
        F.when(upd_only, F.array(new_ver))
        .when(both & changed, F.array(close_out, new_ver))
        .otherwise(F.array(keep))
    )
    merged = j.select(F.col(key_col), F.explode(versions).alias("_v")).select(
        key_col, "_v.*"
    )
    return closed.select(key_col, *attr_cols, valid_from, valid_to).unionByName(
        merged
    )


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rn",
    n_partitions: int | None = None,
) -> DataFrame:
    """Scalable global row_number over a total order — WITHOUT the
    single-partition global window (an unpartitioned window moves the
    ENTIRE dataset through one task; fine for 50 rows, fatal for a
    corpus). The distributed recipe:

    1. range-partition by the order key (Spark samples boundaries —
       the same machinery as a global sort, spill-safe);
    2. row_number within each partition (keys are range-disjoint, so
       local ranks are globally consistent);
    3. add each partition's global offset, computed from the per-
       partition counts — an n_partitions-row driver aggregate
       broadcast back.

    ``order_cols`` must be a TOTAL order (include a unique tiebreak):
    equal keys split across a range boundary would otherwise rank
    nondeterministically. Cost: one range shuffle + one tiny count
    job — what a sort already costs."""
    spark = df.sparkSession
    n = n_partitions or max(spark.sparkContext.defaultParallelism, 2)
    cols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n, *cols)
    # pin the partitioning so the count job and the ranked output see
    # the SAME physical layout (lazy re-evaluation may re-sample range
    # boundaries otherwise)
    parted = parted.localCheckpoint(eager=False)
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    sizes = sorted(
        (r["_pid"], r["_n"])
        for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in sizes:
        offsets.append((pid, acc))
        acc += cnt
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid INT, _off LONG")
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        with_pid.join(off, "_pid", "left")
        .withColumn(
            rank_col,
            (F.row_number().over(w) + F.coalesce("_off", F.lit(0))).cast("long"),
        )
        .drop("_pid", "_off")
    )
