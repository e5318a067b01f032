"""Query registry: named engine queries + DuckDB oracle SQL.

Each entry re-expresses one operator family from SURVEY.md §2 over the
driver fixture tables (TESTDATA.md). The Spark side is idiomatic
DataFrame code routed through the operator library; the oracle side is
ANSI-ish SQL DuckDB runs on the same parquet files.

Determinism rules (the driver hash-compares values):
- every float aggregate is rounded (sum/avg drift between engines);
- arrays are emitted as joined strings with an explicit order;
- timestamps are emitted as formatted strings or epoch seconds;
- every LIMIT has a total order underneath it.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphragdatapipeline_spark import functions as ef
from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.operators import relational as rel


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL the driver hash-compares against
    headline: bool = False  # included in bench.py


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str, headline: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        import functools

        from graphragdatapipeline_spark.session import (
            ensure_package_shipped,
            ensure_session_defaults,
        )

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Kernels (mapInPandas etc.) reference package functions by
            # module path; ship the package so any driver's workers can
            # import it (cluster deploys need this zip anyway). Runtime
            # confs (UTC, nanosAsLong) applied once per app here — not
            # inside query bodies.
            ensure_package_shipped(spark)
            ensure_session_defaults(spark)
            return fn(spark, sf_dir)

        if name in REGISTRY:
            # A silent overwrite hides a query from the driver's
            # correctness window (the old one vanishes, the count
            # stays plausible) — fail loudly at import time instead.
            raise ValueError(f"duplicate query registration: {name!r}")
        if not (isinstance(oracle, str) and oracle.strip()):
            # Every query carries the DuckDB oracle the driver checks.
            raise ValueError(f"query {name!r} registered without an oracle")
        REGISTRY[name] = QueryDef(fn=wrapped, oracle=oracle, headline=headline)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def dround(col, digits: int = 2):
    """Engine-portable rounding: floor(x·10^d + 0.5)/10^d.

    Spark's round() HALF_UPs the *decimal string* of a double while
    DuckDB rounds the binary value — they disagree on values like
    8285.425. This formula is pure IEEE double arithmetic, so both
    engines (and the DuckDB oracles, which inline the same formula)
    produce bit-identical results."""
    f = float(10**digits)
    return F.floor(col * f + F.lit(0.5)) / f


def osql_round(expr: str, digits: int = 2) -> str:
    f = 10**digits
    return f"floor(({expr}) * {f} + 0.5) / {f}"


# String literals and comments are skipped; everything else is one
# identifier or one punctuation character.
_SQL_TOKEN = re.compile(r"'(?:[^']|'')*'|--[^\n]*|\w+|\S")
_FROM_LIST_END = frozenset(
    "WHERE GROUP HAVING QUALIFY WINDOW ORDER LIMIT UNION EXCEPT INTERSECT SELECT".split()
)


def _table_reads(sql: str) -> Counter:
    """How often `sql` reads each name as a table: an identifier right
    after FROM or JOIN, or after a comma of a FROM list."""
    reads: Counter = Counter()
    in_from = [False]  # per parenthesis depth
    prev = ""
    for tok in _SQL_TOKEN.findall(sql):
        if tok.startswith(("'", "--")):
            continue
        up = tok.upper()
        if tok == "(":
            in_from.append(False)
        elif tok == ")":
            if len(in_from) > 1:
                in_from.pop()
        elif up == "FROM":
            in_from[-1] = True
        elif up in _FROM_LIST_END:
            in_from[-1] = False
        elif prev in ("FROM", "JOIN") or (prev == "," and in_from[-1]):
            reads[tok] += 1
        prev = up
    return reads


def with_ctes(ctes: list[tuple[str, str]], select: str) -> str:
    """The oracle statement `WITH <ctes> <select>` from (name, body)
    pairs; a name may carry a column list, as in "walk(id, label)".

    A CTE that the later bodies and `select` read more than once is
    written AS MATERIALIZED: DuckDB 1.0 otherwise inlines it at every
    read, so an unrolled loop whose round i reads round i−1 twice grows
    exponentially with the number of rounds. A body that reads its own
    name makes the clause RECURSIVE."""
    names = [head.split("(")[0].strip() for head, _ in ctes]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate CTE name in {names}")
    reads = [_table_reads(body) for _, body in ctes] + [_table_reads(select)]
    defs = []
    for i, ((head, body), name) in enumerate(zip(ctes, names)):
        n = sum(r[name] for r in reads[i + 1:])
        defs.append(f"{head} AS{' MATERIALIZED' if n > 1 else ''} ({body})")
    recursive = any(reads[i][name] for i, name in enumerate(names))
    return f"WITH {'RECURSIVE ' if recursive else ''}" + ",\n".join(defs) + f"\n{select}"


def _micros(col):
    """Exact micro-unit integer of a ≤6-decimal positive double.
    floor(x·1e6 + 0.5) undoes the binary representation error (e.g.
    8599.98·1e6 = 8599979999.999998) before the long cast."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long")


def dsum(col, digits: int = 2):
    """Order-independent float sum: scale each addend to an exact
    micro-unit LONG (the fixture value domains are positive with ≤6
    decimals), sum in pure codegen'd long arithmetic — 3× faster than
    a DECIMAL(27,6) accumulator, which falls off the compact-long
    path at precision>18 — then back to double + portable rounding.
    Long overflow would need sum > 9.2e12 in value terms; ANSI mode
    fails loudly there, and dsum_decimal is the wide fallback.
    SQL twin: floor((sum(CAST(x AS DECIMAL(27,6)))::DOUBLE) * 10^d + 0.5)/10^d
    — both sides are exact integer arithmetic, so they agree bit-for-bit."""
    return dround(F.sum(_micros(col)).cast("double") / F.lit(1e6), digits)


def dsum_decimal(col, digits: int = 2):
    """Exact sum for value domains beyond the micro-unit long range
    (|sum| > ~9.2e12) or with >6 decimals: DECIMAL(27,6) accumulator."""
    return dround(F.sum(col.cast("decimal(27,6)")).cast("double"), digits)


def davg(col, digits: int = 4):
    """Order-independent float average: exact micro-unit sum / count."""
    return dround(
        F.sum(_micros(col)).cast("double") / F.lit(1e6) / F.count(F.lit(1)), digits
    )


# ===========================================================================
# Flagship (SURVEY §7.1): scan → window → agg → join → sort → limit.
# Spine of reference ingest_graph_db.py:90-115 + checks.py:89-116
# (track roll-up per release + releases-per-artist ratio).
# ===========================================================================


@register(
    "flagship_order_rollup",
    oracle="""
WITH lines AS (
  SELECT l_orderkey,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn,
         l_partkey
  FROM lineitem
), entries AS (
  SELECT l_orderkey,
         string_agg(printf('%d. %d', rn, l_partkey), ', ' ORDER BY rn) AS line_list,
         count(*) AS n_lines
  FROM lines GROUP BY l_orderkey
)
SELECT o.o_custkey AS custkey,
       count(*) AS n_orders,
       CAST(sum(e.n_lines) AS BIGINT) AS n_lines,
       floor((sum(CAST(o.o_totalprice AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS total_spent,
       min(e.line_list) AS sample_rollup
FROM orders o JOIN entries e ON o.o_orderkey = e.l_orderkey
GROUP BY o.o_custkey
ORDER BY n_orders DESC, custkey ASC
LIMIT 10
""",
    headline=True,
)
def flagship_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures — full
    # tiebreaker chain keeps the ordinal deterministic across engines.
    # The ordinal is the row's position in that order WITHIN its order
    # group, so it never needs a window: collect the sort-key structs
    # with one hash aggregate, array_sort (struct comparison is
    # field-order lexicographic = the former window's ORDER BY), and
    # stamp ordinals from the transform index. Removes the
    # Exchange+Sort+Window pass over the whole fact table — the only
    # full-data exchange left is the aggregate's own, and rows tied on
    # the entire sort key render identical entries either way.
    key = F.struct(
        F.col("l_linenumber").alias("_k1"),
        F.col("l_partkey").alias("_k2"),
        F.col("l_suppkey").alias("_k3"),
        F.col("l_quantity").alias("_k4"),
    )
    # No explicit repartition before the aggregate (r14): the r13
    # repartition("l_orderkey") existed to rescue the object agg from
    # the single-row-group fixture's 1-task scan; on any multi-row-group
    # input (the fixed bench layout, and every real table) the agg's own
    # ENSURE_REQUIREMENTS exchange moves the same bytes to the same
    # reduce-side fan-out. Driver-shape A/B at 10×/32 files: 3.006 s
    # with the explicit repartition vs 2.937 s without (best-of-3 cold
    # invocations each, within noise) — and the driver itself had
    # measured the repartition variant as a regression (0.991 → 1.196 s,
    # PERF_r13), so the simpler plan wins (VERDICT r13 item 3).
    entries = (
        li.select("l_orderkey", key.alias("_k"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("_k")).alias("_ks"))
        .select(
            "l_orderkey",
            F.array_join(
                F.transform(
                    "_ks",
                    lambda s, i: ef.positioned_entry(
                        i + 1, s["_k2"].cast("string")
                    ),
                ),
                ", ",
            ).alias("line_list"),
            F.size("_ks").cast("long").alias("n_lines"),
        )
    )
    return (
        orders.join(entries, orders.o_orderkey == entries.l_orderkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_lines").alias("n_lines"),
            dsum(F.col("o_totalprice"), 2).alias("total_spent"),
            # min over a STRING has no mutable agg buffer, so this
            # aggregation stays sort-based (SortAggregate spills
            # gracefully; the object-hash alternatives — collect_set +
            # array_min — hold every distinct line_list per customer in
            # memory, an OOM class at scale for a hot customer).
            F.min("line_list").alias("sample_rollup"),
        )
        .orderBy(F.desc("n_orders"), F.asc("custkey"))
        .limit(10)
    )


# ===========================================================================
# §2.2 Projections / filters
# ===========================================================================


@register(
    "filter_project_pushdown",
    oracle="""
SELECT l_orderkey, l_partkey, floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS net_price
FROM lineitem
WHERE l_quantity > 45 AND l_returnflag = 'R'
""",
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: projection + predicate, both pushed into the parquet scan."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_partkey",
            dround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "net_price"
            ),
        )
    )


@register(
    "rlike_name_filter",
    oracle=r"""
SELECT p_partkey, p_name
FROM part
WHERE regexp_matches(p_name, '^(red|blue) [a-z]+')
""",
)
def rlike_name_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 analog: native rlike predicate (reference uses a per-row Python
    regex at extract_artists.py:41-63 — Spark keeps it JVM-side).
    Predicate matches the fixture's '<color> <noun>' name shape so the
    oracle check is non-vacuous (512/2000 rows at sf0.01)."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").rlike(r"^(red|blue) [a-z]+"))
        .select("p_partkey", "p_name")
    )


@register(
    "isin_type_filter",
    oracle="""
SELECT p_brand, count(*) AS n_parts, floor(((sum(CAST(p_retailprice AS DECIMAL(27,6)))::DOUBLE) / count(*)) * 100 + 0.5) / 100 AS avg_price
FROM part
WHERE p_size IN (5, 10, 15) AND p_type LIKE '%AND%'
GROUP BY p_brand
""",
)
def isin_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 analog: membership + pattern conjunction ('%AND%' hits the
    fixture's STANDARD type — non-vacuous, 12 rows at sf0.01)."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size").isin(5, 10, 15) & F.col("p_type").contains("AND"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            davg(F.col("p_retailprice"), 2).alias("avg_price"),
        )
    )


@register(
    "length_filter_documents",
    oracle="""
SELECT lang, count(*) AS n_docs, CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
WHERE length(text) >= 200
GROUP BY lang
""",
)
def length_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: min-content-length gate (reference wikipedia_helpers.py:150-152)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.length("text") >= 200)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


# ===========================================================================
# §2.3 Joins
# ===========================================================================


@register(
    "join_multihop_revenue",
    oracle="""
SELECT r.r_name AS region, n.n_name AS nation,
       count(DISTINCT c.c_custkey) AS n_customers,
       floor((sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    headline=True,
)
def join_multihop_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 (multi-hop) — TPC-H Q5-shaped chain. Dimension sides are
    broadcast (nation/region are tiny, like the reference's 754-genre /
    112-country dims — SURVEY §4). Revenue is pre-aggregated to order
    grain BELOW the join — the fact side entering the join chain
    shrinks ~4× (lines→orders) and the heavy sum happens map-side on
    exact micro-unit longs; the final agg just re-sums the partials."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    rev_per_order = li.groupBy("l_orderkey").agg(
        F.sum(_micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "rev_micros"
        )
    )
    # Second pre-aggregation to CUSTOMER grain before the dimension
    # joins: every surviving row then carries a unique c_custkey, so
    # count(DISTINCT c_custkey) per (region, nation) degenerates to a
    # plain count(1) — dropping the two-level distinct expansion (an
    # extra Exchange + aggregate tier over (region, nation, custkey))
    # from the final aggregation. Revenue stays exact: micro-unit longs
    # re-associate losslessly across both aggregation levels.
    rev_per_cust = (
        rev_per_order.join(orders, rev_per_order.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev_micros").alias("rev_micros"))
    )
    return (
        rev_per_cust.join(cust, rev_per_cust.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dround(F.sum("rev_micros").cast("double") / F.lit(1e6), 2).alias("revenue"),
        )
    )


@register(
    "join_left_order_lines",
    oracle="""
SELECT o.o_orderkey AS orderkey, o.o_orderstatus AS status,
       COALESCE(t.n_lines, 0) AS n_lines,
       floor((COALESCE(t.sum_qty, 0)) * 100 + 0.5) / 100 AS sum_qty
FROM orders o
LEFT JOIN (
  SELECT l_orderkey, count(*) AS n_lines, sum(CAST(l_quantity AS DECIMAL(27,6)))::DOUBLE AS sum_qty
  FROM lineitem GROUP BY l_orderkey
) t ON o.o_orderkey = t.l_orderkey
""",
)
def join_left_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — left join fact→rollup (reference releases⋈tracks at
    ingest_graph_db.py:110-115). Aggregate-before-join halves the
    shuffled bytes vs join-then-aggregate."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double").alias("sum_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        dround(F.coalesce("sum_qty", F.lit(0.0)), 2).alias("sum_qty"),
    )


@register(
    "anti_join_inactive_customers",
    oracle="""
SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
""",
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/J8 — left-anti join (reference unresolved-countries diff at
    extract_countries.py:90-92; upsert dedupe at
    ingest_community_summaries.py:135-160). The build side is filtered
    to finished orders so the diff is non-empty in the fixture (every
    customer has SOME order; 71/1500 have no 'F' order at sf0.01) —
    a 0-row anti join can't distinguish correct from drop-everything."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )


@register(
    "semi_join_active_suppliers",
    oracle="""
SELECT s.s_suppkey AS suppkey, s.s_name AS name
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey AND l.l_shipdate >= TIMESTAMP '1995-01-01'
)
""",
)
def semi_join_active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join with a pushed predicate on the probe side."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= F.lit("1995-01-01"))
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select(
        F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("name")
    )


@register(
    "theta_join_disjunctive",
    oracle="""
SELECT DISTINCT p.p_partkey AS partkey, s.s_suppkey AS suppkey
FROM part p JOIN supplier s
  ON (p.p_size = s.s_suppkey OR CAST(p.p_partkey % 10 AS BIGINT) = s.s_suppkey)
WHERE p.p_partkey <> s.s_suppkey
""",
)
def theta_join_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — disjunctive (OR-predicate) join rewritten as a union of two
    equi joins + distinct, the scalable plan for the reference's
    SIMILAR_TO name-or-alias match (ingest_graph_db.py:234-247).
    Catalyst would otherwise fall back to a nested-loop join — O(n·m)
    at 100 TB; the union form is two shuffled hash joins."""
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    eq1 = p.join(s, p.p_size == s.s_suppkey).select("p_partkey", "s_suppkey")
    eq2 = p.join(s, (p.p_partkey % 10) == s.s_suppkey).select("p_partkey", "s_suppkey")
    return (
        eq1.unionByName(eq2)
        .filter(F.col("p_partkey") != F.col("s_suppkey"))
        .distinct()
        .select(F.col("p_partkey").alias("partkey"), F.col("s_suppkey").alias("suppkey"))
    )


@register(
    "broadcast_lookup_join",
    oracle="""
SELECT n.n_name AS nation, count(*) AS n_suppliers,
       floor((sum(CAST(s.s_acctbal AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS total_bal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — explicit broadcast of a dimension (reference's Python-dict
    map lookups at extract_artists.py:169-198 become broadcast joins)."""
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum(F.col("s_acctbal"), 2).alias("total_bal"),
        )
    )


# ===========================================================================
# §2.4 Aggregations
# ===========================================================================


@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       floor((sum(CAST(l_quantity AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_qty,
       floor((sum(CAST(l_extendedprice AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_base_price,
       floor((sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_disc_price,
       floor((sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6)))::DOUBLE) * 100 + 0.5) / 100 AS sum_charge,
       floor(((sum(CAST(l_quantity AS DECIMAL(27,6)))::DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_qty,
       floor(((sum(CAST(l_extendedprice AS DECIMAL(27,6)))::DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_price,
       floor(((sum(CAST(l_discount AS DECIMAL(27,6)))::DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
""",
    headline=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A6/A7 family — TPC-H Q1-shaped full-scan aggregation; partial
    (map-side) aggregation makes the shuffle carry only
    groups × partitions rows."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), 2).alias("sum_qty"),
        dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
        dsum(disc, 2).alias("sum_disc_price"),
        dsum(disc * (1 + F.col("l_tax")), 2).alias("sum_charge"),
        davg(F.col("l_quantity"), 4).alias("avg_qty"),
        davg(F.col("l_extendedprice"), 4).alias("avg_price"),
        davg(F.col("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "count_distinct_ratio",
    oracle="""
SELECT count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       floor((CAST(count(*) AS DOUBLE) / count(DISTINCT o_custkey)) * 10000 + 0.5) / 10000 AS orders_per_customer
FROM orders
""",
)
def count_distinct_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A7 — exact count-distinct + ratio gate (reference
    checks.py:100-115 releases-per-artist ≥ 1.0)."""
    return _t(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(
            F.count(F.lit(1)) / F.countDistinct("o_custkey"), 4
        ).alias("orders_per_customer"),
    )


@register(
    "duplicate_detection",
    oracle="""
SELECT l_orderkey AS orderkey, l_partkey AS partkey, count(*) AS dup_count
FROM lineitem
GROUP BY l_orderkey, l_partkey
HAVING count(*) > 1
""",
)
def duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — duplicate-key detection (reference checks.py:32-41)."""
    return rel.duplicate_groups(_t(spark, sf_dir, "lineitem"), ["l_orderkey", "l_partkey"]).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_partkey").alias("partkey"),
        "dup_count",
    )


@register(
    "null_counts_profile",
    oracle="""
SELECT CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_name_nulls,
       CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nationkey_nulls,
       CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_acctbal_nulls,
       count(*) AS n_rows
FROM customer
""",
)
def null_counts_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — one-pass null profile (reference checks.py:27-28)."""
    df = _t(spark, sf_dir, "customer")
    return rel.null_counts(
        df, ["c_name", "c_nationkey", "c_acctbal"], count_alias="n_rows"
    )


@register(
    "conditional_ratio_gate",
    oracle="""
SELECT floor((avg(CASE WHEN o_orderstatus = 'F' OR o_totalprice > 100000 THEN 1.0 ELSE 0.0 END)) * 10000 + 0.5) / 10000
       AS qualified_ratio
FROM orders
""",
)
def conditional_ratio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — conditional-count ratio (reference checks.py:67-86: share of
    artists with genres or tags ≥ 50%)."""
    return _t(spark, sf_dir, "orders").agg(
        F.round(
            F.avg(
                F.when(
                    (F.col("o_orderstatus") == "F") | (F.col("o_totalprice") > 100000),
                    1.0,
                ).otherwise(0.0)
            ),
            4,
        ).alias("qualified_ratio")
    )


@register(
    "distinct_explode_tokens",
    oracle="""
SELECT lang, count(DISTINCT tok) AS n_distinct_tokens
FROM (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
) t
WHERE tok <> ''
GROUP BY lang
""",
)
def distinct_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — distinct-after-explode (reference extract_genres.py:52-60
    unique genre ids from list column)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("n_distinct_tokens"))
    )


@register(
    "group_size_stats",
    oracle="""
SELECT CAST(max(n) AS BIGINT) AS largest, CAST(min(n) AS BIGINT) AS smallest,
       floor((avg(n)) * 10000 + 0.5) / 10000 AS mean_size, count(*) AS n_groups
FROM (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) g
""",
)
def group_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — community-size statistics shape (reference
    neo4j_helpers.py:271-290)."""
    sizes = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.max("n").cast("long").alias("largest"),
        F.min("n").cast("long").alias("smallest"),
        dround(F.avg("n"), 4).alias("mean_size"),
        F.count(F.lit(1)).alias("n_groups"),
    )


@register(
    "top_n_frequency_per_group",
    oracle="""
WITH counts AS (
  SELECT n.n_name AS nation, l.l_returnflag AS item, count(*) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, l.l_returnflag
), ranked AS (
  SELECT nation, item,
         row_number() OVER (PARTITION BY nation ORDER BY cnt DESC, item ASC) AS rn
  FROM counts
)
SELECT nation, string_agg(item, ',' ORDER BY rn) AS top_items
FROM ranked WHERE rn <= 2 GROUP BY nation
""",
)
def top_n_frequency_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/A11 — top-N frequency per group via explode→count→window
    (reference Counter.most_common at detect_communities.py:100-135)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "l_returnflag")
    )
    top = rel.top_n_frequency(joined, "nation", "l_returnflag", n=2)
    return top.select("nation", F.array_join("top_l_returnflag", ",").alias("top_items"))


# ===========================================================================
# §2.5 Windows / §2.6 sorts & top-k
# ===========================================================================


@register(
    "window_ordinal_position",
    oracle="""
SELECT l_orderkey AS orderkey,
       printf('%d. %d', row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity),
              l_partkey) AS entry
FROM lineitem
WHERE l_orderkey <= 1000
""",
)
def window_ordinal_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/F7 — ordinal rank per partition + positioned string
    (reference track positions at ingest_graph_db.py:90-102)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures — full
    # tiebreaker chain keeps the ordinal deterministic across engines.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    return li.select(
        F.col("l_orderkey").alias("orderkey"),
        ef.positioned_entry(F.row_number().over(w), F.col("l_partkey").cast("string")).alias(
            "entry"
        ),
    )


@register(
    "topk_per_group",
    oracle="""
SELECT custkey, orderkey, total, rank FROM (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS total,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
         AS rank
  FROM orders
) WHERE rank <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — top-k rows per group (reference representative artists at
    detect_communities.py:138-165)."""
    out = rel.top_k_per_group(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("total"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "dedup_by_priority",
    oracle="""
WITH s1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
    FROM orders
  ) WHERE rn = 1
)
SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_orderpriority AS priority
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn2
  FROM s1
) WHERE rn2 = 1
""",
)
def dedup_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — cascaded dedup-by-priority (reference
    data_transformation_helpers.py:89-120: sort by start_date, unique on
    artist_uri then name keeping first)."""
    out = rel.dedup_by_priority(
        _t(spark, sf_dir, "orders"),
        unique_cols=["o_custkey", "o_orderpriority"],
        sort_col="o_orderdate",
        tiebreakers=["o_orderkey"],
    )
    return out.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
    )


@register(
    "best_row_pick",
    oracle="""
SELECT orderkey, linenumber, returnflag FROM (
  SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_returnflag AS returnflag,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY CASE WHEN l_returnflag = 'N' THEN 0 ELSE 1 END ASC,
                    l_shipdate ASC, l_linenumber ASC, l_partkey ASC, l_suppkey ASC, l_quantity ASC
         ) AS rn
  FROM lineitem
) WHERE rn = 1
""",
)
def best_row_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — composite-priority best-row pick (reference
    select_best_release at musicbrainz_helpers.py:280-308: status
    priority then earliest date)."""
    out = rel.best_row_per_group(
        _t(spark, sf_dir, "lineitem"),
        ["l_orderkey"],
        [
            F.when(F.col("l_returnflag") == "N", 0).otherwise(1).asc(),
            F.asc("l_shipdate"),
            F.asc("l_linenumber"),
            F.asc("l_partkey"),
            F.asc("l_suppkey"),
            F.asc("l_quantity"),
        ],
    )
    return out.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_returnflag").alias("returnflag"),
    )


@register(
    "chunk_index_window",
    oracle="""
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS chunk_index,
       count(*) OVER (PARTITION BY o_custkey) AS total_chunks
FROM orders
""",
)
def chunk_index_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — chunk_index / total_chunks stamping (reference
    extract_artists_articles.py:195-216)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wc = Window.partitionBy("o_custkey")
    return _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.row_number().over(w).alias("chunk_index"),
        F.count(F.lit(1)).over(wc).alias("total_chunks"),
    )


# ===========================================================================
# §2.7 Set operations
# ===========================================================================


@register(
    "union_relaxed",
    oracle="""
SELECT * FROM (
  SELECT o_orderkey AS orderkey, o_totalprice AS total, o_orderstatus AS status,
         NULL AS priority
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL BY NAME
  SELECT o_orderkey AS orderkey, o_totalprice AS total, NULL AS status,
         o_orderpriority AS priority
  FROM orders WHERE o_orderstatus = 'O'
)
""",
)
def union_relaxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — schema-relaxed union (reference merge_wikipedia_articles.py:56)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"),
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderpriority").alias("priority"),
    )
    return rel.union_relaxed(a, b)


@register(
    "intersect_nation_keys",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
)
def intersect_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersect (engine extension — SURVEY §2.7 notes INTERSECT is
    absent in the reference but cheap to expose)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "except_customers",
    oracle="""
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
""",
)
def except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — set difference (reference extract_countries.py:90). The
    subtracted set is high-value order custkeys so the difference is
    non-empty at sf0.01 (30 rows) — every custkey appears in orders,
    so the unfiltered EXCEPT was vacuously 0."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.exceptAll(o).distinct()


@register(
    "distinct_union_arrays",
    oracle="""
SELECT p_type AS type,
       array_to_string(list_sort(list(DISTINCT p_brand)), ',') AS brands
FROM part GROUP BY p_type
""",
)
def distinct_union_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 — sorted distinct-union of values (reference
    sorted(set(P136+P101)) at extract_artists.py:159-162)."""
    return (
        _t(spark, sf_dir, "part")
        .groupBy(F.col("p_type").alias("type"))
        .agg(F.array_join(F.array_sort(F.collect_set("p_brand")), ",").alias("brands"))
    )


# ===========================================================================
# §2.8 Scalar functions
# ===========================================================================


@register(
    "string_date_functions",
    oracle="""
SELECT o_orderkey AS orderkey,
       CAST(strftime(o_orderdate, '%Y') AS INT) AS order_year,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       upper(substr(o_orderpriority, 1, 1)) AS prio_initial,
       length(o_orderstatus) AS status_len
FROM orders WHERE o_orderkey <= 2000
""",
)
def string_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4/F10 — year parsing, date formatting, case ops."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.year("o_orderdate").alias("order_year"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.upper(F.substring("o_orderpriority", 1, 1)).alias("prio_initial"),
            F.length("o_orderstatus").cast("long").alias("status_len"),
        )
    )


@register(
    "uri_suffix_extraction",
    oracle="""
SELECT p_partkey AS partkey,
       list_extract(string_split(p_name, ' '), -1) AS last_token,
       replace(p_brand, '#', '_') AS brand_slug
FROM part
""",
)
def uri_suffix_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 — split-and-take-last + character swap (reference QID-from-
    URI at extract_artists.py:123-126, title-from-URL at
    extract_artists_articles.py:123)."""
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        F.element_at(F.split("p_name", " "), -1).alias("last_token"),
        F.regexp_replace("p_brand", "#", "_").alias("brand_slug"),
    )


@register(
    "hash_functions",
    oracle="""
SELECT c_custkey AS custkey,
       md5(c_name) AS name_md5,
       sha256(c_name) AS name_sha256,
       substr(sha256(concat(c_name, '-', CAST(c_custkey AS VARCHAR))), 1, 32) AS doc_id
FROM customer
""",
)
def hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — md5 / sha256 / truncated composite doc-id hash (reference
    io_helpers.py:105-115, chroma_helpers.py:111-124)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        ef.md5_hex(F.col("c_name")).alias("name_md5"),
        ef.sha256_hex(F.col("c_name")).alias("name_sha256"),
        ef.doc_id_hash(F.col("c_name"), F.col("c_custkey").cast("string")).alias("doc_id"),
    )


@register(
    "json_extraction",
    oracle="""
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
""",
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — JSON field extraction from the events.props column."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


@register(
    "oxford_comma_lists",
    oracle="""
WITH names AS (
  SELECT r.r_name AS region, list_sort(list(DISTINCT n.n_name)) AS items
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name
)
SELECT region,
       CASE WHEN len(items) = 0 THEN ''
            WHEN len(items) = 1 THEN items[1]
            WHEN len(items) = 2 THEN concat(items[1], ' and ', items[2])
            ELSE concat(array_to_string(items[1:len(items)-1], ', '), ', and ', items[len(items)])
       END AS phrase
FROM names
""",
)
def oxford_comma_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — Oxford-comma natural-language list formatting (reference
    data_transformation_helpers.py:123-158)."""
    n = _t(spark, sf_dir, "nation")
    r = F.broadcast(_t(spark, sf_dir, "region"))
    grouped = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.array_sort(F.collect_set("n_name")).alias("items"))
    )
    return grouped.select(
        "region", ef.format_list_natural_language(F.col("items")).alias("phrase")
    )


@register(
    "fulltext_search",
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE lower(text) LIKE '%spark%' AND lower(text) LIKE '%join%'
""",
)
def fulltext_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 — fulltext contains-search (reference Neo4j fulltext indexes,
    README.md:405-417). Scalable variant is the inverted-index table in
    text.analysis.build_inverted_index."""
    d = _t(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    return d.filter(lt.contains("spark") & lt.contains("join")).select("doc_id", "lang")


@register(
    "nullsafe_list_size",
    oracle="""
SELECT CASE WHEN tokens IS NULL THEN 0 ELSE len(tokens) END AS n_tokens,
       count(*) AS n_docs
FROM (
  SELECT CASE WHEN n_chars > 200 THEN string_split(text, ' ') ELSE NULL END AS tokens
  FROM documents
) GROUP BY 1
""",
)
def nullsafe_list_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 — null-safe size() (Spark size(NULL) = -1 gotcha; reference
    fill_null(0) semantics at checks.py:70-74)."""
    d = _t(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") > 200, F.split("text", " ")).alias("tokens")
    )
    return d.select(ef.nullsafe_size(F.col("tokens")).alias("n_tokens")).groupBy(
        "n_tokens"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# --- Submodule registries (import side effect = registration) -------------


def _load_submodules() -> None:
    from graphragdatapipeline_spark.registries import (  # noqa: F401
        community_queries,
        curation_queries,
        dedup_queries,
        graph_queries,
        events_queries,
        extension_queries,
        misc_queries,
        text_queries,
        vector_queries,
    )


_load_submodules()
