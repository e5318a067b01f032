"""Graph-layer registry queries (SURVEY §2.9) over the driver fixtures."""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark.graph import algorithms as ga
from graphragdatapipeline_spark.graph.build import build_tpch_graph
from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.registry import register, with_ctes
from graphragdatapipeline_spark.session import run_concurrently
from graphragdatapipeline_spark.registries.dedup_oracles import (
    _components_ctes,
    ws_tokens,
)

# build_tpch_graph's directed edges (customer/supplier -> nation -> region).
_TPCH_EDGES = """
  SELECT concat('C', c_custkey) AS src, concat('N', c_nationkey) AS dst FROM customer
  UNION ALL
  SELECT concat('S', s_suppkey), concat('N', s_nationkey) FROM supplier
  UNION ALL
  SELECT concat('N', n_nationkey), concat('R', n_regionkey) FROM nation
"""


def _copurchase_pairs(max_part: int | None = None) -> str:
    """Canonical (lo < hi) pairs of parts that share an order, over
    the parts below `max_part` if given."""
    where = (
        ""
        if max_part is None
        else f"\n  WHERE a.l_partkey < {max_part} AND b.l_partkey < {max_part}"
    )
    return f"""
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS lo,
         greatest(a.l_partkey, b.l_partkey) AS hi
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey{where}
"""


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, max_part: int | None = None
) -> DataFrame:
    """Engine twin of _copurchase_pairs → (src < dst) parts that share
    an order, one row per shared order (the graph operators
    canonicalize), over the parts below `max_part` if given. The
    triangle, clustering and link-prediction queries read the table
    more than once (the wedge join three times, then degrees and the
    adjacency anti-join), and the self-join that derives it is itself
    a shuffle, so it sits under a lazy checkpoint — the SCALE.md
    branch-reuse rule, measured at sf1.0: graph_triangle_count 46.0 ->
    35.0 s, the clustering coefficient 0.89 -> 0.72 s, link prediction
    0.63 -> 0.60 s, values identical. kcore reads it once, into its
    own checkpointed survivor table."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if max_part is not None:
        li = li.filter(F.col("l_partkey") < max_part)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "ok").filter(F.col("src") < F.col("dst")).select("src", "dst")
        .localCheckpoint(eager=False)
    )


# Each triangle of the canonical `pairs` once, as a < b < c.
_TRIANGLES = """
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM pairs ab
  JOIN pairs bc ON ab.hi = bc.lo
  JOIN pairs ac ON ac.lo = ab.lo AND ac.hi = bc.hi
"""


@register(
    "graph_degree_profile",
    oracle=with_ctes(
        [
            ("edges", _TPCH_EDGES),
            ("all_ids", "SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges"),
        ],
        """SELECT id, count(*) AS degree FROM all_ids GROUP BY id HAVING count(*) >= 5
UNION ALL
SELECT 'type:IN_NATION', count(*) FROM customer
UNION ALL
SELECT 'type:LOCATED_IN', count(*) FROM supplier
UNION ALL
SELECT 'type:IN_REGION', count(*) FROM nation""",
    ),
)
def graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 + G1/A14 in one validation profile: exact vertex degree
    (reference proxies with size(similar_artists) at
    detect_communities.py:155-157) stacked with edge-type cardinality
    rows (reference ingest_graph_db.py:336-363 count checks), tagged
    'type:<rel_type>'."""
    g = build_tpch_graph(spark, sf_dir)
    deg = ga.degrees(g.edges).filter(F.col("degree") >= 5)
    type_counts = g.edges.groupBy("rel_type").agg(
        F.count(F.lit(1)).alias("degree")
    ).select(F.concat(F.lit("type:"), F.col("rel_type")).alias("id"), "degree")
    return deg.unionByName(type_counts)


@register(
    "graph_two_hop_motif",
    oracle="""
SELECT r.r_name AS region, count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def graph_two_hop_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 — (customer)-[IN_NATION]->(nation)-[IN_REGION]->(region)
    motif resolved purely on the edges/vertices tables (reference
    2-hop Cypher at ingest_graph_db.py:366-377)."""
    g = build_tpch_graph(spark, sf_dir)
    hops = ga.two_hop(g.edges, rel1="IN_NATION", rel2="IN_REGION")
    names = g.vertices.filter(F.col("label") == "Region").select(
        F.col("id").alias("c"), F.col("name").alias("region")
    )
    return hops.join(F.broadcast(names), "c").groupBy("region").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "graph_transitive_closure",
    oracle=with_ctes(
        [
            ("edges", """
  SELECT p_partkey AS node, CAST(floor(p_partkey / 4) AS BIGINT) AS parent
  FROM part
  WHERE CAST(floor(p_partkey / 4) AS BIGINT) >= 1
    AND CAST(floor(p_partkey / 4) AS BIGINT) <> p_partkey
"""),
            ("anc", """
  SELECT node, parent AS anc FROM edges
  UNION
  SELECT a.node, e.parent AS anc
  FROM anc a JOIN edges e ON a.anc = e.node
"""),
        ],
        "SELECT node, anc FROM anc",
    ),
)
def graph_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 — transitive closure by iterated doubling (reference SPARQL
    `wdt:P279*` at build_artist_index.py:54-57). Synthetic hierarchy:
    part k → parent floor(k/4)."""
    p = read_table(spark, sf_dir, "part")
    parent = F.floor(F.col("p_partkey") / 4).cast("long")
    edges = (
        p.select(F.col("p_partkey").alias("src"), parent.alias("dst"))
        .filter((F.col("dst") >= 1) & (F.col("dst") != F.col("src")))
    )
    return ga.transitive_closure(edges).select(
        F.col("node").cast("long").alias("node"), F.col("anc").cast("long").alias("anc")
    )


@register(
    "graph_connected_components",
    oracle=with_ctes(
        [
            ("dedges", _TPCH_EDGES),
            *_components_ctes("dedges", "src", "dst", "component"),
            ("sizes", "SELECT component, count(*) AS size FROM comp GROUP BY component"),
        ],
        "SELECT size, count(*) AS n_components FROM sizes GROUP BY size",
    ),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (Hash-Min fixpoint) over the fixture graph.
    Emits the per-component size distribution — label-free, so the
    engine's min-id labels and the oracle's min-label CTE agree exactly.
    Exactness on hand-built graphs is additionally covered by pytest."""
    g = build_tpch_graph(spark, sf_dir)
    cc = ga.connected_components(g.edges)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


def _lpa_sql(parts: list[tuple[str, str]], p: str, raw_edges: str, iters: int,
             seed: int, ids_extra: str | None = None) -> str:
    """Append the CTEs for one unrolled label-propagation run (one CTE
    per superstep, as in _pagerank_oracle) and return the name of the
    final label CTE. Tie-break parity: the engine's
    max_by(community, struct(votes, ~community)) is exactly
    ORDER BY votes DESC, community ASC."""
    parts.append((
        f"{p}sym",
        f"SELECT DISTINCT src, dst FROM ("
        f"SELECT src, dst FROM {raw_edges} WHERE src <> dst "
        f"UNION ALL SELECT dst AS src, src AS dst FROM {raw_edges} WHERE src <> dst)",
    ))
    ids = f"SELECT DISTINCT src AS id FROM {p}sym"
    if ids_extra:
        ids = f"SELECT DISTINCT id FROM ({ids} UNION ALL {ids_extra})"
    parts.append((f"{p}ids", ids))
    init = f"('0x' || substr(md5(CAST(id AS VARCHAR) || ':{seed}'), 1, 15))::BIGINT"
    parts.append((f"{p}s0", f"SELECT id, {init} AS community FROM {p}ids"))
    for i in range(iters):
        prev, nxt = f"{p}s{i}", f"{p}s{i + 1}"
        parts.append((
            f"{p}w{i}",
            f"SELECT id, community AS nc FROM ("
            f"SELECT e.src AS id, l.community, count(*) AS votes "
            f"FROM {p}sym e JOIN {prev} l ON e.dst = l.id GROUP BY 1, 2) "
            f"QUALIFY row_number() OVER (PARTITION BY id "
            f"ORDER BY votes DESC, community ASC) = 1",
        ))
        parts.append((
            nxt,
            f"SELECT l.id, COALESCE(w.nc, l.community) AS community "
            f"FROM {prev} l LEFT JOIN {p}w{i} w USING (id)",
        ))
    return f"{p}s{iters}"


def _detect_communities_oracle(iters=(2, 3, 4), seed: int = 42) -> str:
    """Full SQL replay of the 3-level detect_communities ladder:
    LPA(L0) on the fixture graph, contract, LPA(L1) on the community
    graph, contract, LPA(L2); then the per-level distinct counts. The
    engine's seeded init (first 15 md5 nibbles of "id:seed") is
    engine-portable by construction, which is what makes this exact
    replay possible."""
    parts = [
        ("dedges", _TPCH_EDGES),
        ("allverts", (
            "SELECT concat('C', c_custkey) AS id FROM customer "
            "UNION ALL SELECT concat('S', s_suppkey) FROM supplier "
            "UNION ALL SELECT concat('N', n_nationkey) FROM nation "
            "UNION ALL SELECT concat('R', r_regionkey) FROM region"
        )),
    ]
    l0 = _lpa_sql(parts, "a", "dedges", iters[0], seed,
                  ids_extra="SELECT id FROM allverts")
    parts.append((
        "g1",
        f"SELECT DISTINCT x.community AS src, y.community AS dst "
        f"FROM dedges e JOIN {l0} x ON e.src = x.id JOIN {l0} y ON e.dst = y.id "
        f"WHERE x.community <> y.community",
    ))
    l1s = _lpa_sql(parts, "b", "g1", iters[1], seed + 1)
    parts.append((
        "m1",
        f"SELECT l.id, l.community AS c0, "
        f"COALESCE(s.community, l.community) AS c1 "
        f"FROM {l0} l LEFT JOIN {l1s} s ON l.community = s.id",
    ))
    parts.append((
        "g2",
        "SELECT DISTINCT x.c1 AS src, y.c1 AS dst "
        "FROM dedges e JOIN m1 x ON e.src = x.id JOIN m1 y ON e.dst = y.id "
        "WHERE x.c1 <> y.c1",
    ))
    l2s = _lpa_sql(parts, "c", "g2", iters[2], seed + 2)
    parts.append((
        "m2",
        f"SELECT m.id, m.c0, m.c1, COALESCE(s.community, m.c1) AS c2 "
        f"FROM m1 m LEFT JOIN {l2s} s ON m.c1 = s.id",
    ))
    return with_ctes(
        parts,
        "SELECT CAST(count(DISTINCT c0) AS BIGINT) AS n_l0, "
        "CAST(count(DISTINCT c1) AS BIGINT) AS n_l1, "
        "CAST(count(DISTINCT c2) AS BIGINT) AS n_l2, "
        "CAST(count(*) AS BIGINT) AS n_vertices FROM m2",
    )


@register("graph_detect_communities", oracle=_detect_communities_oracle())
def graph_detect_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — 3-level community hierarchy (deterministic LPA ladder,
    contract of reference detect_communities.py:218-246). Emits
    communities-per-level counts (seeded → stable). Value-oracled by a
    full unrolled SQL replay of the ladder (portable md5 seeded init —
    see graph.algorithms.label_propagation)."""
    g = build_tpch_graph(spark, sf_dir)
    assign = ga.detect_communities(g.vertices, g.edges, seed=42)
    return assign.agg(
        F.countDistinct("community_L0").alias("n_l0"),
        F.countDistinct("community_L1").alias("n_l1"),
        F.countDistinct("community_L2").alias("n_l2"),
        F.count(F.lit(1)).alias("n_vertices"),
    )


def _pagerank_oracle(damping: float = 0.85, iters: int = 8, top: int = 20) -> str:
    """Fixed-iteration power iteration unrolled into one CTE per
    superstep (DuckDB recursive CTEs forbid aggregates over the
    recursive term). Each step mirrors the engine's expression
    STRUCTURE exactly — (1-d)/n + d*(received + dangling/n) — so both
    sides run the same IEEE operations and the portable rounding
    absorbs addition-order drift."""
    edges = (
        "SELECT concat('C', c_custkey) AS src, concat('N', c_nationkey) AS dst FROM customer "
        "UNION ALL SELECT concat('S', s_suppkey), concat('N', s_nationkey) FROM supplier "
        "UNION ALL SELECT concat('N', n_nationkey), concat('R', n_regionkey) FROM nation"
    )
    parts = [
        f"dedges AS ({edges})",
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM dedges UNION ALL SELECT dst FROM dedges))",
        "deg AS (SELECT src, count(*) AS deg FROM dedges GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        "pr0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM verts)",
    ]
    for i in range(iters):
        prev = f"pr{i}"
        parts.append(
            f"dang{i} AS (SELECT COALESCE(sum(p.rank), 0.0) AS d FROM {prev} p "
            "LEFT JOIN deg ON p.id = deg.src WHERE deg.src IS NULL)"
        )
        parts.append(
            f"recv{i} AS (SELECT e.dst AS id, sum(p.rank / e.odeg) AS r "
            "FROM (SELECT d.src, d.dst, g.deg AS odeg FROM dedges d JOIN deg g ON d.src = g.src) e "
            f"JOIN {prev} p ON e.src = p.id GROUP BY e.dst)"
        )
        parts.append(
            f"pr{i + 1} AS (SELECT v.id, "
            f"(1.0 - {damping})/(SELECT n FROM nn) + {damping} * "
            f"(COALESCE(r.r, 0.0) + (SELECT d FROM dang{i})/(SELECT n FROM nn)) AS rank "
            f"FROM verts v LEFT JOIN recv{i} r ON v.id = r.id)"
        )
    sep = ",\n"
    return (
        f"WITH {sep.join(parts)}\n"
        f"SELECT id, floor((rank * 1000) * 10000 + 0.5)/10000 AS rank_permille\n"
        f"FROM pr{iters}\n"
        f"ORDER BY rank_permille DESC, id ASC LIMIT {top}"
    )


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (power iteration, dangling-mass redistribution) over
    the fixture graph. Value-oracled against an unrolled fixed-
    iteration CTE replay in DuckDB; exactness vs an independent Python
    implementation is additionally pinned in pytest. Emits the top-20
    vertices by rank."""
    from graphragdatapipeline_spark.registry import dround

    g = build_tpch_graph(spark, sf_dir)
    pr = ga.pagerank(g.edges, damping=0.85, iters=8)
    return (
        pr.select("id", dround(F.col("rank") * 1000, 4).alias("rank_permille"))
        .orderBy(F.desc("rank_permille"), F.asc("id"))
        .limit(20)
    )


@register(
    "graph_bfs_distances",
    oracle="""
WITH RECURSIVE redges AS (
  -- build_tpch_graph edges, reversed (region <- nation <- customer/supplier)
  SELECT concat('R', n_regionkey) AS src, concat('N', n_nationkey) AS dst FROM nation
  UNION ALL
  SELECT concat('N', c_nationkey), concat('C', c_custkey) FROM customer
  UNION ALL
  SELECT concat('N', s_nationkey), concat('S', s_suppkey) FROM supplier
), walk(id, dist) AS (
  SELECT concat('R', r_regionkey), 0 FROM region WHERE r_regionkey IN (0, 1)
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN redges e ON e.src = w.id
  WHERE w.dist < 6
)
SELECT id, min(dist) AS dist FROM walk GROUP BY id
""",
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the reversed fixture graph from regions 0-1:
    reaches nations at depth 1, their customers/suppliers at depth 2.
    An iterative Spark fixpoint with a FULL value oracle — the depth
    bound makes a recursive CTE terminate with identical semantics
    (min dist per reached vertex)."""
    g = build_tpch_graph(spark, sf_dir)
    rev = g.edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    sources = g.vertices.filter(F.col("id").isin("R0", "R1")).select("id")
    return ga.bfs_distances(rev, sources, max_depth=6)


# The forward-degree-capped (<= 160) canonical co-purchase graph and
# its triangles: graph_triangle_count's registered guardrail.
_GUARDED_TRIANGLES = [
    ("pairs0", _copurchase_pairs()),
    ("fwd", "SELECT lo FROM pairs0 GROUP BY lo HAVING count(*) <= 160"),
    ("pairs", "SELECT p.lo, p.hi FROM pairs0 p JOIN fwd f ON p.lo = f.lo"),
    ("tri", _TRIANGLES),
]


@register(
    "graph_triangle_count",
    oracle=with_ctes(
        _GUARDED_TRIANGLES,
        """SELECT count(*) AS n_triangles,
       count(DISTINCT a) AS n_a_vertices,
       CAST(min(a + b + c) AS BIGINT) AS min_key_sum,
       CAST(max(a + b + c) AS BIGINT) AS max_key_sum
FROM tri""",
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph (parts that share
    an order are adjacent): degree-ordered wedge join — every edge
    oriented low→high id, each triangle enumerated exactly once, the
    standard trick that keeps the wedge fan-out bounded by forward
    degree on skewed graphs. Registered GUARDED (round 7):
    max_forward_degree=160 drops canonical edges whose low endpoint
    fans out wider — the ~top-1% co-purchase hubs at fixture scale —
    bounding wedge volume at edges×160 no matter how skewed the graph
    gets at 100 TB (the r6 sf1.0 run showed the unguarded default
    going 12.1× at 10× data). The oracle replays canonicalization,
    the SAME degree cap, and the two-join enumeration in SQL, pinning
    count + vertex/key-sum invariants of the guarded triangle set.

    Measured operating envelope (r11): at the 100× fixture the graph
    has 119.6M canonical edges and a capped wedge volume of 4.82
    BILLION (avg forward degree ~60 — the cap trims only the 2% tail,
    max observed fwd 199), i.e. ~116 GB of wedge shuffle. That is one
    healthy linear pass on a cluster and beyond a single node's
    scratch here — DuckDB dies on the identical SQL the same way
    (temp-storage exhaustion). Wedge volume IS the cost of exact
    triangle enumeration; below-quadratic alternatives change the
    contract (sampling/sketches), not the plan."""
    edges = _copurchase_edges(spark, sf_dir)
    tri = ga.triangle_count(edges, max_forward_degree=160)
    # Two-level aggregation instead of count+countDistinct in one agg:
    # the single-agg form plans an Expand that doubles every triangle
    # row before the partial tier (guide §2.3); grouping on `a` first
    # reduces map-side to one row per (partition, a) and the distinct
    # count falls out as count(groups). Values identical: sum of
    # per-a counts = count(*), min/max re-associate.
    per_a = tri.groupBy("a").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.col("a") + F.col("b") + F.col("c")).alias("_mn"),
        F.max(F.col("a") + F.col("b") + F.col("c")).alias("_mx"),
    )
    return per_a.agg(
        # coalesce: sum over an empty group set is NULL where the old
        # count(*) form (and the oracle) yields 0.
        F.coalesce(F.sum("_c"), F.lit(0).cast("long")).alias("n_triangles"),
        F.count(F.lit(1)).alias("n_a_vertices"),
        F.min("_mn").cast("long").alias("min_key_sum"),
        F.max("_mx").cast("long").alias("max_key_sum"),
    )


@register(
    "graph_triangle_estimate",
    oracle=with_ctes(
        _GUARDED_TRIANGLES,
        "SELECT CAST(count(*) AS BIGINT) AS exact_triangles, true AS within_10pct\nFROM tri",
    ),
)
def graph_triangle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION edge-sampling triangle estimate (Tsourakakis 2009) —
    the registered SCALE path for the wedge-volume-bound regime the
    r11 verdict adjudicated on graph_triangle_count: exact enumeration
    at the 100× co-purchase graph is 4.82B wedges ≈ 116 GB shuffle
    (DuckDB dies on the identical SQL), while sampling at p cuts wedge
    volume by p² — p=0.1 turns it into a ~48M-wedge pass.

    Contract pattern (the approx_count_distinct precedent): sketch/
    sample values aren't SQL-replayable, so the oracle pins the exact
    guarded count (the SAME canonicalize + fwd-degree-cap + two-join
    CTE as graph_triangle_count) plus the accuracy band the seeded
    deterministic estimate provably sits in. Measured at sf0.01:
    exact 410,082; p=0.5 seed=42 estimate 410,104 (rel err 0.0001;
    seeds 7/13 give ≤1.0%) — the 10% band is a wide margin over every
    measured seed and over the DOULION variance bound at this count.
    Estimate targets the SAME guarded triangle set (cap applied
    before sampling), so the two columns state one contract."""
    edges = _copurchase_edges(spark, sf_dir)
    exact = ga.triangle_count(edges, max_forward_degree=160).agg(
        F.count(F.lit(1)).alias("exact_triangles")
    )
    est = ga.triangle_count_estimate(
        edges, p=0.5, seed=42, max_forward_degree=160
    ).select("est_triangles")
    return exact.crossJoin(est).select(
        F.col("exact_triangles").cast("long").alias("exact_triangles"),
        (
            F.abs(F.col("est_triangles") - F.col("exact_triangles"))
            <= F.col("exact_triangles") * 0.10
        ).alias("within_10pct"),
    )


@register(
    "graph_clustering_coefficient",
    oracle=with_ctes(
        [
            ("pairs", _copurchase_pairs(200)),
            ("tri", _TRIANGLES),
            ("tri_per_v", """
  SELECT v, count(*) AS n_tri FROM (
    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY v
"""),
            ("deg", """
  SELECT v, count(*) AS degree FROM (
    SELECT lo AS v FROM pairs UNION ALL SELECT hi FROM pairs
  ) GROUP BY v
"""),
        ],
        """SELECT d.v AS part, d.degree,
       coalesce(t.n_tri, 0) AS n_triangles,
       floor(coalesce(t.n_tri, 0) * 2.0 / (d.degree * (d.degree - 1)) * 1000000 + 0.5)
         / 1000000 AS clustering
FROM deg d LEFT JOIN tri_per_v t ON d.v = t.v
WHERE d.degree >= 2""",
    ),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex — triangles(v) /
    C(deg(v), 2), the standard community-density profile — composed
    from the degree-ordered triangle enumeration plus one degree
    aggregation (restricted to a 200-part sub-graph so the fixture
    check stays light; the composition is scale-free). The oracle
    replays the full composition."""
    edges = _copurchase_edges(spark, sf_dir, max_part=200)
    tri = ga.triangle_count(edges)
    # explode(array(a,b,c)), not a 3-branch union: column pruning
    # specializes each union branch's projection below the join, so
    # Catalyst planned the WHOLE two-join triangle enumeration three
    # times (44-Exchange plan, no reuse). The exploded form evaluates
    # the wedge joins once and fans out 3 rows map-side — the same
    # multiset of vertices, so n_tri per v is bit-identical (it's the
    # lsh_bands posexplode lesson applied to the triangle consumer).
    tri_v = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    canon = ga._canonical_pairs(edges)
    deg = ga.degrees(canon.select(F.col("lo").alias("src"), F.col("hi").alias("dst")))
    from graphragdatapipeline_spark.registry import dround

    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri_v, deg.id == tri_v.v, "left")
        .select(
            F.col("id").alias("part"),
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_triangles"),
            dround(
                F.coalesce("n_tri", F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering"),
        )
    )


@register(
    "graph_link_prediction",
    oracle=with_ctes(
        [
            ("pairs", _copurchase_pairs(200)),
            ("adj", "SELECT lo AS z, hi AS n FROM pairs UNION ALL SELECT hi, lo FROM pairs"),
            ("deg", "SELECT z, count(*) AS deg FROM adj GROUP BY z"),
            ("wedges", """
  SELECT a.n AS u, b.n AS w, d.deg
  FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
  JOIN deg d ON d.z = a.z
  WHERE d.deg <= 64
"""),
            ("scored", """
  SELECT u, w, CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(sum(CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS aa6
  FROM wedges GROUP BY u, w
"""),
        ],
        """SELECT u, w, common_neighbors,
       CAST(aa6 AS DOUBLE) / 1000000.0 AS adamic_adar
FROM scored s
WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.lo = s.u AND p.hi = s.w)
ORDER BY aa6 DESC, u ASC, w ASC LIMIT 20""",
    ),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: common-neighbor
    count + Adamic-Adar (Σ 1/ln(deg) over shared neighbors) for
    NON-adjacent part pairs — 'parts that should probably co-occur
    but never have', the missing-edge primitive of entity-graph
    curation. Registered GUARDED like the triangle count
    (max_center_degree=64): wedge volume is Σ deg(z)², and hub
    centers contribute the least AA weight per wedge, so the cap
    removes the costliest and least informative work first. Per-wedge
    AA weights are integer-quantized micro-units summed in int64 —
    order-independent, so the oracle replays the whole flow
    (canonicalization, degrees-on-full-graph, capped wedge join,
    quantized sum, non-adjacency anti-join, top-20)."""
    edges = _copurchase_edges(spark, sf_dir, max_part=200)
    out = ga.link_prediction_scores(edges, max_center_degree=64)
    return (
        out.orderBy(F.desc("aa6"), F.asc("u"), F.asc("w"))
        .limit(20)
        .select("u", "w", "common_neighbors", "adamic_adar")
    )


def _ppr_ctes(tp: str, damping: float, iters: int) -> list[tuple[str, str]]:
    """Unrolled personalized-PageRank supersteps (one CTE per
    superstep, as in _pagerank_oracle) over `dedges`, its vertex set
    `verts` and out-degrees `deg`, with teleport weight `tp` on the
    source set; the final rank is `pr{iters}`. The expression
    structure mirrors the engine exactly: (1−d)·tp + d·(recv + dang·tp)."""
    ctes = [
        ("verts", "SELECT DISTINCT id FROM (SELECT src AS id FROM dedges UNION ALL SELECT dst FROM dedges)"),
        ("deg", "SELECT src, count(*) AS deg FROM dedges GROUP BY src"),
        ("pr0", f"SELECT v.id, {tp} AS rank FROM verts v"),
    ]
    for i in range(iters):
        prev = f"pr{i}"
        ctes.append((
            f"dang{i}",
            f"SELECT COALESCE(sum(p.rank), 0.0) AS d FROM {prev} p "
            "LEFT JOIN deg ON p.id = deg.src WHERE deg.src IS NULL",
        ))
        ctes.append((
            f"recv{i}",
            "SELECT e.dst AS id, sum(p.rank / e.odeg) AS r "
            "FROM (SELECT d.src, d.dst, g.deg AS odeg FROM dedges d JOIN deg g ON d.src = g.src) e "
            f"JOIN {prev} p ON e.src = p.id GROUP BY e.dst",
        ))
        ctes.append((
            f"pr{i + 1}",
            f"SELECT v.id, "
            f"(1.0 - {damping}) * {tp} + {damping} * "
            f"(COALESCE(r.r, 0.0) + (SELECT d FROM dang{i}) * {tp}) AS rank "
            f"FROM verts v LEFT JOIN recv{i} r ON v.id = r.id",
        ))
    return ctes


def _ppr_oracle(damping: float = 0.85, iters: int = 8, top: int = 20) -> str:
    """Personalized-PageRank replay with the teleport vector on the
    source set N0/N5."""
    tp = "(CASE WHEN v.id IN ('N0', 'N5') THEN 0.5 ELSE 0.0 END)"
    return with_ctes(
        [("dedges", _TPCH_EDGES), *_ppr_ctes(tp, damping, iters)],
        f"SELECT id, floor((rank * 1000) * 10000 + 0.5)/10000 AS rank_permille\n"
        f"FROM pr{iters}\nWHERE rank > 0\n"
        f"ORDER BY rank_permille DESC, id ASC LIMIT {top}",
    )


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at nations N0/N5 — the 'relevance
    to this entity' ranking GraphRAG retrieval uses to pull context
    around a seed node. Full unrolled-CTE value oracle, same scheme as
    graph_pagerank."""
    from graphragdatapipeline_spark.registry import dround

    g = build_tpch_graph(spark, sf_dir)
    pr = ga.personalized_pagerank(g.edges, ["N0", "N5"], damping=0.85, iters=8)
    return (
        pr.filter(F.col("rank") > 0)
        .select("id", dround(F.col("rank") * 1000, 4).alias("rank_permille"))
        .orderBy(F.desc("rank_permille"), F.asc("id"))
        .limit(20)
    )


def _local_search_oracle(damping: float = 0.85, iters: int = 4, top: int = 15) -> str:
    """GraphRAG local-search context replay: single-seed personalized
    PageRank (tp = 1 on the seed) joined with vertex metadata and
    degrees, top-N by relevance."""
    verts = (
        "SELECT concat('C', c_custkey) AS id, 'Customer' AS label, c_name AS name FROM customer "
        "UNION ALL SELECT concat('S', s_suppkey), 'Supplier', s_name FROM supplier "
        "UNION ALL SELECT concat('N', n_nationkey), 'Nation', n_name FROM nation "
        "UNION ALL SELECT concat('R', r_regionkey), 'Region', r_name FROM region"
    )
    tp = "(CASE WHEN v.id = 'N0' THEN 1.0 ELSE 0.0 END)"
    return with_ctes(
        [
            ("raw", _TPCH_EDGES),
            # local search expands the UNDIRECTED neighborhood: walks
            # must reach the seed's customers/suppliers, not only its
            # region
            ("dedges", "SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw"),
            ("vmeta", verts),
            ("degree", "SELECT id, count(*) AS degree FROM ("
             "SELECT src AS id FROM raw UNION ALL SELECT dst FROM raw) GROUP BY id"),
            *_ppr_ctes(tp, damping, iters),
            ("scored", f"SELECT p.id, floor((p.rank * 1000) * 10000 + 0.5)/10000 AS rank_permille "
             f"FROM pr{iters} p WHERE p.rank > 0"),
        ],
        "SELECT s.id, m.label, m.name, d.degree, s.rank_permille,\n"
        "       CAST(row_number() OVER (ORDER BY s.rank_permille DESC, s.id ASC) AS INT) AS position\n"
        "FROM scored s JOIN vmeta m ON s.id = m.id JOIN degree d ON s.id = d.id\n"
        f"ORDER BY s.rank_permille DESC, s.id ASC LIMIT {top}",
    )


@register("graphrag_local_search", oracle=_local_search_oracle())
def graphrag_local_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's END USE composed end-to-end: GraphRAG local
    search around a seed entity (reference retrieval: Neo4j
    neighborhood + Chroma context; here one declarative plan).
    Single-seed personalized PageRank ranks the seed's neighborhood by
    walk relevance, vertex metadata and degrees attach entity context,
    and the top-15 (TakeOrdered, then position numbers on the 15-row
    frame) form the retrieval context window. Full value oracle:
    unrolled-PPR CTEs + metadata joins replayed in SQL."""
    from pyspark.sql import Window

    from graphragdatapipeline_spark.registry import dround

    g = build_tpch_graph(spark, sf_dir)
    sym = g.edges.select("src", "dst").unionByName(
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = ga.personalized_pagerank(sym, ["N0"], damping=0.85, iters=4)
    deg = ga.degrees(g.edges)
    scored = (
        pr.filter(F.col("rank") > 0)
        .select("id", dround(F.col("rank") * 1000, 4).alias("rank_permille"))
        .join(g.vertices.select("id", "label", "name"), "id")
        .join(deg, "id")
    )
    top = (
        scored.orderBy(F.desc("rank_permille"), F.asc("id"))
        .limit(15)
        .withColumn(
            "position",
            F.row_number()
            .over(Window.orderBy(F.desc("rank_permille"), F.asc("id")))
            .cast("int"),
        )
    )
    return top.select("id", "label", "name", "degree", "rank_permille", "position")


@register(
    "graph_leiden_communities",
    oracle="""
SELECT CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
          + (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)
       AS BIGINT) AS n_vertices,
       true AS full_coverage,
       true AS counts_monotone,
       true AS deterministic,
       true AS connected_communities,
       true AS quality_above_singleton
""",
)
def graph_leiden_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 exact rung: Leiden (vendored pure-Python RB-configuration
    Louvain+refinement, graph/leiden.py — the engine's only Leiden) at
    the reference's resolutions 2.0/0.5/0.1, seed 42
    (neo4j_helpers.py:237-268). A heuristic's labels aren't
    SQL-replayable, so the oracle pins the CONTRACT, computed honestly
    from two independent runs (contract-query pattern, like the sketch
    contracts): every vertex labeled at all 3 levels, community counts
    monotone in resolution, bit-identical reruns under the seed, every
    community internally connected (Leiden's guarantee over Louvain),
    and RB quality strictly above the singleton partition at each
    gamma. Driver-side by the same scale contract as the rung itself
    (|V|+|E| fits; the distributed default is graph_detect_communities)
    — hence eager, unlike every other registry query."""
    from graphragdatapipeline_spark.graph.leiden import rb_quality

    resolutions = (2.0, 0.5, 0.1)
    g = build_tpch_graph(spark, sf_dir)
    runs = [
        sorted(
            tuple(r)
            for r in ga.detect_communities_leiden_exact(
                g.vertices, g.edges, resolutions=resolutions, seed=42
            ).collect()
        )
        for _ in range(2)
    ]
    rows = runs[0]
    n_vertices = len(rows)
    full = all(r[1] is not None and r[2] is not None and r[3] is not None for r in rows)
    n_per_level = [len({r[lvl + 1] for r in rows}) for lvl in range(3)]
    monotone = n_per_level[0] >= n_per_level[1] >= n_per_level[2]
    deterministic = runs[0] == runs[1]

    idx = {r[0]: i for i, r in enumerate(rows)}
    e_pairs = [
        (idx[r[0]], idx[r[1]], 1.0)
        for r in g.edges.select("src", "dst").collect()
        if r[0] in idx and r[1] in idx
    ]
    intra: list[list[list[int]]] = [[[] for _ in rows] for _ in range(3)]
    for lvl in range(3):
        for u, v, _ in e_pairs:
            if rows[u][lvl + 1] == rows[v][lvl + 1]:
                intra[lvl][u].append(v)
                intra[lvl][v].append(u)
    connected = True
    for lvl in range(3):
        seen = [False] * n_vertices
        for start in range(n_vertices):
            if seen[start]:
                continue
            comp = {start}
            stack = [start]
            seen[start] = True
            while stack:
                u = stack.pop()
                for v in intra[lvl][u]:
                    if not seen[v]:
                        seen[v] = True
                        comp.add(v)
                        stack.append(v)
            # the whole community must be exactly this component
            label = rows[start][lvl + 1]
            members = {i for i in range(n_vertices) if rows[i][lvl + 1] == label}
            if members != comp:
                connected = False
    quality = all(
        rb_quality(n_vertices, e_pairs, [r[lvl + 1] for r in rows], res)
        > rb_quality(n_vertices, e_pairs, list(range(n_vertices)), res)
        for lvl, res in enumerate(resolutions)
    )
    return spark.createDataFrame(
        [(n_vertices, full, monotone, deterministic, connected, quality)],
        "n_vertices LONG, full_coverage BOOLEAN, counts_monotone BOOLEAN, "
        "deterministic BOOLEAN, connected_communities BOOLEAN, "
        "quality_above_singleton BOOLEAN",
    )


@register(
    "graph_louvain_distributed",
    oracle="""
SELECT CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
          + (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)
       AS BIGINT) AS n_vertices,
       true AS full_coverage,
       true AS deterministic,
       true AS quality_gt_singleton,
       true AS quality_ge_lpa
""",
)
def graph_louvain_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 distributed-quality rung (round 8): the Louvain MOVE phase
    as a pure DataFrame program (algorithms.louvain_move — per-round
    neighbor-community aggregation + id-keyed joins, parity-damped
    synchronous moves, nothing ever collected), closing the quality
    gap between the scale-default LPA ladder and the driver-side exact
    Leiden rung. A heuristic's labels aren't SQL-replayable, so — like
    graph_leiden_communities — the oracle pins the CONTRACT, but here
    every contract bit is itself computed DISTRIBUTED (joins +
    aggregates, no driver loops): full coverage, bit-identical reruns,
    and measured RB quality (rb_quality_agg, γ=1.0) strictly above the
    singleton partition AND ≥ the LPA ladder's quality on the same
    graph — the claim that justifies the extra move phase at 100 TB.
    Measured at sf0.01: Louvain ≈ +1210 vs LPA ≈ −66 vs singleton
    ≈ −34 (LPA's hash-seeded labels land BELOW singleton at γ=1.0;
    the move phase is not a tweak, it is the difference between a
    modularity optimum and a propagation heuristic)."""
    g = build_tpch_graph(spark, sf_dir)
    # The two move phases (the determinism re-run) and the LPA baseline
    # are INDEPENDENT iterative programs whose per-round jobs otherwise
    # serialize on the driver; run concurrently, their jobs back-fill
    # each other's stage tails (7.5 s vs 10.8 s sequential at sf0.01 on
    # a 4-vCPU host). Each loop is deterministic, so every label is
    # unchanged.
    m1, m2, lpa = run_concurrently(
        spark,
        [
            partial(ga.louvain_move, g.edges, 1.0, 4, g.vertices),
            partial(ga.louvain_move, g.edges, 1.0, 4, g.vertices),
            partial(ga.label_propagation, g.edges, vertices=g.vertices, max_iter=5),
        ],
    )
    singleton = g.vertices.select("id", F.col("id").alias("community"))

    stats = m1.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        (F.sum(F.col("community").isNull().cast("int")) == 0).alias("full_coverage"),
    )
    a = m1.select("id", F.col("community").alias("_c1"))
    b = m2.select("id", F.col("community").alias("_c2"))
    determinism = (
        a.join(b, "id", "full")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("_c1").isNull()
                        | F.col("_c2").isNull()
                        | (F.col("_c1") != F.col("_c2")),
                        1,
                    ).otherwise(0)
                )
                == 0
            ).alias("deterministic")
        )
    )
    q_l = ga.rb_quality_agg(g.edges, m1, 1.0).select(
        F.col("quality").alias("_ql")
    )
    q_p = ga.rb_quality_agg(g.edges, lpa.select("id", "community"), 1.0).select(
        F.col("quality").alias("_qp")
    )
    q_s = ga.rb_quality_agg(g.edges, singleton, 1.0).select(
        F.col("quality").alias("_qs")
    )
    return (
        stats.crossJoin(determinism)
        .crossJoin(q_l)
        .crossJoin(q_p)
        .crossJoin(q_s)
        .select(
            "n_vertices",
            "full_coverage",
            "deterministic",
            (F.col("_ql") > F.col("_qs")).alias("quality_gt_singleton"),
            (F.col("_ql") >= F.col("_qp")).alias("quality_ge_lpa"),
        )
    )


@register(
    "graph_louvain_ladder",
    oracle="""
SELECT CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
          + (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)
       AS BIGINT) AS n_vertices,
       true AS full_coverage,
       true AS nested_hierarchy,
       true AS counts_monotone
""",
)
def graph_louvain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3, the COMPLETE distributed move-AND-AGGREGATE scheme
    (detect_communities_louvain): louvain_multilevel at the reference's
    γ=2.0 on the input graph, then at γ=0.5 and γ=0.1 on the weighted
    super-vertex graphs each level contracts to — one level each of
    the coarsening loop the LPA ladder also runs, with
    louvain_multilevel's own move→contract cycles run by that same
    loop. Same 3-granularity consumer contract as the LPA ladder and
    the exact-Leiden rung, optimizing real RB modularity at every level
    with nothing ever collected. Contract (computed distributed, like
    graph_louvain_distributed): every vertex labeled at all 3 levels,
    the hierarchy NESTED by construction (no L0 community split
    across L1 parents, none of L1 across L2), and community counts
    monotone coarsening. Per-move determinism is pinned by
    graph_louvain_distributed; move-phase quality ≥ LPA likewise."""
    g = build_tpch_graph(spark, sf_dir)
    out = ga.detect_communities_louvain(g.vertices, g.edges)
    stats = out.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        (
            F.sum(
                (
                    F.col("community_L0").isNull()
                    | F.col("community_L1").isNull()
                    | F.col("community_L2").isNull()
                ).cast("int")
            )
            == 0
        ).alias("full_coverage"),
        (
            (F.countDistinct("community_L0") >= F.countDistinct("community_L1"))
            & (F.countDistinct("community_L1") >= F.countDistinct("community_L2"))
        ).alias("counts_monotone"),
    )
    split01 = (
        out.groupBy("community_L0")
        .agg(F.countDistinct("community_L1").alias("_k"))
        .agg((F.sum((F.col("_k") > 1).cast("int")) == 0).alias("_ok01"))
    )
    split12 = (
        out.groupBy("community_L1")
        .agg(F.countDistinct("community_L2").alias("_k"))
        .agg((F.sum((F.col("_k") > 1).cast("int")) == 0).alias("_ok12"))
    )
    return (
        stats.crossJoin(split01)
        .crossJoin(split12)
        .select(
            "n_vertices",
            "full_coverage",
            (F.col("_ok01") & F.col("_ok12")).alias("nested_hierarchy"),
            "counts_monotone",
        )
    )


def _kcore_oracle(k: int = 16, rounds: int = 10) -> str:
    """Unrolled peel replay (same scheme as the pagerank/k-means
    oracles): per round one degree CTE over the surviving symmetric
    edge set and one double semi-join keeping edges whose BOTH
    endpoints still clear degree >= k. Peeling is monotone, so any
    unroll depth >= the fixpoint depth (7 at sf0.01 for k=16) yields
    the exact core — extra rounds are no-ops, matching the engine's
    run-to-fixpoint loop."""
    parts = [
        ("pairs", _copurchase_pairs(400)),
        ("e0", "SELECT lo AS src, hi AS dst FROM pairs UNION ALL SELECT hi AS src, lo AS dst FROM pairs"),
    ]
    for i in range(rounds):
        parts.append((f"k{i}", f"SELECT src FROM e{i} GROUP BY src HAVING count(*) >= {k}"))
        parts.append((
            f"e{i + 1}",
            f"SELECT e.src, e.dst FROM e{i} e "
            f"JOIN k{i} a ON e.src = a.src JOIN k{i} b ON e.dst = b.src",
        ))
    return with_ctes(
        parts, f"SELECT src AS id, count(*) AS core_degree FROM e{rounds} GROUP BY src"
    )


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph (parts adjacent
    when they share an order, restricted to a 400-part sub-graph so
    the oracle replay stays light; the peel itself is scale-free):
    iteratively remove vertices with in-subgraph degree < 16 until
    fixpoint, return the surviving core members with their in-core
    degree — the density filter a graph-curation pipeline runs before
    community detection or GNN neighborhood sampling. At sf0.01 the
    peel takes 7 real rounds (9330 -> 7028 symmetric edges, 400 -> 314
    vertices), so this exercises genuine multi-round erosion, not a
    one-shot degree filter."""
    edges = _copurchase_edges(spark, sf_dir, max_part=400)
    return ga.kcore(edges, k=16)


def _entity_resolution_ctes(max_block: int | None = None) -> list[tuple[str, str]]:
    """Entity resolution over the part catalog: blocking on p_brand
    (blocks above `max_block` records dropped), integer Jaccard of the
    p_name token sets >= 0.5 and size gap <= 1, closed transitively by
    the min-label walk. `allc`(p_partkey, canonical_id) gives every
    part its cluster's min id; `csize` the cluster sizes."""
    ctes = [(
        "recs",
        f"SELECT p_partkey, p_brand, p_size, p_name,\n"
        f"         list_distinct({ws_tokens('p_name')}) AS ts\n  FROM part",
    )]
    block = ""
    if max_block is not None:
        ctes.append((
            "kept_blocks",
            f"SELECT p_brand FROM part GROUP BY p_brand HAVING count(*) <= {max_block}",
        ))
        block = "a.p_brand IN (SELECT p_brand FROM kept_blocks)\n    AND "
    return ctes + [
        ("matched", f"""
  SELECT a.p_partkey AS a, b.p_partkey AS b
  FROM recs a JOIN recs b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE {block}len(list_intersect(a.ts, b.ts)) * 1000000
          >= 500000 * len(list_distinct(list_concat(a.ts, b.ts)))
    AND abs(a.p_size - b.p_size) <= 1
"""),
        *_components_ctes("matched", "a", "b", "cluster_id"),
        ("allc", """
  SELECT p.p_partkey, coalesce(c.cluster_id, p.p_partkey) AS canonical_id
  FROM part p LEFT JOIN comp c ON p.p_partkey = c.id
"""),
        ("csize", """
  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM allc GROUP BY canonical_id
"""),
    ]


@register(
    "graph_entity_resolution",
    oracle=with_ctes(
        _entity_resolution_ctes(max_block=2048),
        """SELECT a.p_partkey, a.canonical_id, s.cluster_size, cn.p_name AS canonical_name
FROM allc a
JOIN csize s USING (canonical_id)
JOIN part cn ON cn.p_partkey = a.canonical_id""",
    ),
)
def graph_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog — the canonical-entity
    step before graph construction (the reference MERGEs vertices by
    exact name/alias; this is the fuzzy generalization). Blocking on
    p_brand (pairs never cross blocks — Σ|block|², not n²), match =
    token-set Jaccard(p_name) ≥ 0.5 as an integer inequality AND
    |p_size gap| ≤ 1, transitive closure over the match pairs (Hash-Min
    components on the PAIR graph), canonical survivor = min member id,
    its name carried as canonical_name. The oracle replays blocking →
    rule → recursive min-label walk → survivor join end-to-end.

    Candidate generation runs with the RECALL-PRESERVING AllPairs/
    PPJoin token-prefix filter (default since round 8): the join key
    gains the record's df-rarest name tokens, cutting in-cell pair
    density by the vocabulary's selectivity while provably keeping
    every Jaccard ≥ 0.5 pair (Hypothesis-pinned equivalence) — that
    part of the plan needs no oracle mirror because its OUTPUT is
    bit-identical to the plain blocked join it replays.

    ``max_block=2048`` is the registered mega-block guardrail (round
    9, mirrored in the oracle's kept_blocks clause — the same
    registered-default philosophy as the dedup layer's max_bucket/
    max_posting): a blocking key owning thousands of records is a
    data-quality triage case, not a pairwise-scoring problem —
    members of a dropped block stay in the output as singletons.
    Found by the 10×-zipf skew fixture: one mega-brand holding 20% of
    a 200k-part catalog ran the uncapped query past 15 minutes (vs
    20.7 s on the uniform fixture — the prefix filter cannot save a
    tiny-vocabulary mega-block where every token is common); with the
    guardrail the skewed run completes in normal time (SCALE.md skew
    table). `key_skew_profile` is the measurement operator that
    catches such keys BEFORE they reach pair generation. No-op at
    sf0.01 (largest p_brand block ≈ 80 rows), so registered values
    are unchanged."""
    from graphragdatapipeline_spark.graph.entities import resolve_entities

    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    return resolve_entities(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_col="p_brand",
        size_col="p_size",
        name_jaccard=0.5,
        max_size_gap=1,
        max_block=2048,
    )


@register(
    "graph_text_cooccurrence",
    oracle=with_ctes(
        [
            ("terms", f"SELECT doc_id AS d, unnest(list_distinct({ws_tokens()})) AS term\n  FROM documents"),
            ("nd", "SELECT count(DISTINCT doc_id) AS n FROM documents"),
            ("tf", "SELECT term, count(*) AS df FROM terms GROUP BY term"),
            ("kept", "SELECT d FROM terms GROUP BY d HAVING count(*) <= 64"),
            ("tk", "SELECT t.d, t.term FROM terms t JOIN kept USING (d)"),
            ("pairs", """
  SELECT a.term AS src, b.term AS dst, count(*) AS cooccur
  FROM tk a JOIN tk b USING (d)
  WHERE a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 5
"""),
        ],
        """SELECT p.src, p.dst, p.cooccur,
       floor(ln(n.n * p.cooccur / (fa.df * fb.df)) * 1000000 + 0.5) / 1000000 AS pmi
FROM pairs p
JOIN tf fa ON p.src = fa.term
JOIN tf fb ON p.dst = fb.term
CROSS JOIN nd n""",
    ),
)
def graph_text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence graph extracted FROM TEXT with PMI weights —
    the graph-FROM-text rung (the reference reaches it via per-article
    extraction feeding ingest_graph_db.py's MERGE edges; co-mention in
    the same article is the association signal): per-doc distinct terms → doc-keyed pair join →
    document-level co-occurrence counts → PMI = ln(N·c_ab/(c_a·c_b)).
    Registered with the max_doc_terms=64 mega-doc guardrail (no-op at
    fixture vocabulary; bounds per-doc pair volume at C(64,2) at
    100 TB) and min_count=5 noise floor; the oracle replays explode →
    cap → pair join → PMI end-to-end."""
    from graphragdatapipeline_spark.graph.build import cooccurrence_graph
    from graphragdatapipeline_spark.registry import dround

    d = read_table(spark, sf_dir, "documents")
    g = cooccurrence_graph(d, "doc_id", "text", min_count=5, max_doc_terms=64)
    return g.select("src", "dst", "cooccur", dround(F.col("pmi"), 6).alias("pmi"))
