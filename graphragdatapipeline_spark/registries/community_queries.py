"""Community-metadata + LLM-surface registry queries: the reference's
community aggregation pipeline (detect_communities.py:276-333 +
generate_community_summaries.py) re-expressed over the fixture graph
(nation = community, customer = member)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark import llm
from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.operators import relational as rel
from graphragdatapipeline_spark.registry import register, with_ctes


# Shared by community_metadata_rollup and, as a CTE prefix, by the
# community-report oracles below.
_ROLLUP_CTES = [
    ("members", """
  SELECT n.n_name AS community, c.c_custkey AS member_id,
         c.c_mktsegment AS segment, c.c_acctbal AS bal
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
"""),
    ("seg_counts", "SELECT community, segment, count(*) AS cnt FROM members GROUP BY 1, 2"),
    ("seg_ranked", """
  SELECT community, segment,
         row_number() OVER (PARTITION BY community ORDER BY cnt DESC, segment ASC) AS rn
  FROM seg_counts
"""),
    ("top_segments", """
  SELECT community, string_agg(segment, ',' ORDER BY rn) AS top_segments
  FROM seg_ranked WHERE rn <= 2 GROUP BY community
"""),
    ("rep_ranked", """
  SELECT community, member_id,
         row_number() OVER (PARTITION BY community ORDER BY bal DESC, member_id ASC) AS rn
  FROM members
"""),
    ("reps", """
  SELECT community, string_agg(CAST(member_id AS VARCHAR), ',' ORDER BY rn) AS representatives
  FROM rep_ranked WHERE rn <= 5 GROUP BY community
"""),
    ("rollup_base", """
  SELECT community, count(*) AS member_count,
         array_to_string(list_sort(list(member_id))[1:50], ',') AS member_ids
  FROM members GROUP BY community
"""),
]


@register(
    "community_metadata_rollup",
    oracle=with_ctes(
        _ROLLUP_CTES,
        """SELECT r.community, r.member_count, t.top_segments, p.representatives, r.member_ids
FROM rollup_base r
JOIN top_segments t ON r.community = t.community
JOIN reps p ON r.community = p.community""",
    ),
    headline=True,
)
def community_metadata_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/A10/W2/F8 composite — per-community member_count, top-N
    segment frequencies, top-5 representatives by balance, member-id
    list capped at 50 (reference detect_communities.py:294-328 +
    settings.py:144-145 cap)."""
    c = read_table(spark, sf_dir, "customer")
    n = F.broadcast(read_table(spark, sf_dir, "nation"))
    # Single-scan shape (r13): the old three-branch version planned as
    # THREE customer scans + three Exchanges + two SortMergeJoins + two
    # Windows — column pruning specialized each branch's projection
    # before the repartition, so the "shared" exchange never reused.
    # All four outputs derive from one pass instead: aggregate to
    # (community, segment) grain, then to community grain. Both
    # aggregations cluster by a superset of `community`, so the one
    # explicit repartition below satisfies both and the whole query
    # runs with exactly ONE exchange, no joins beyond the broadcast
    # dim, and no window sorts (top-k falls out of array_sort over the
    # collected groups: 5 segments / ≤group members per community).
    members = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("community"),
            F.col("c_custkey").alias("member_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("bal"),
        )
        .repartition("community")
    )
    per_seg = members.groupBy("community", "segment").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.collect_list(F.struct(F.col("bal"), F.col("member_id"))).alias("ms"),
    )
    rollup = per_seg.groupBy("community").agg(
        F.sum("cnt").alias("member_count"),
        F.flatten(F.collect_list("ms")).alias("_all"),
        F.collect_list(F.struct(F.col("cnt"), F.col("segment"))).alias("_segs"),
    )

    def _desc_asc(lo, hi):  # comparator: first field DESC, second ASC
        def cmp(l, r):  # noqa: E741
            return (
                F.when(l[lo] > r[lo], F.lit(-1))
                .when(l[lo] < r[lo], F.lit(1))
                .when(l[hi] < r[hi], F.lit(-1))
                .when(l[hi] > r[hi], F.lit(1))
                .otherwise(F.lit(0))
            )

        return cmp

    return rollup.select(
        "community",
        "member_count",
        F.array_join(
            F.transform(
                F.slice(F.array_sort("_segs", _desc_asc("cnt", "segment")), 1, 2),
                lambda s: s["segment"],
            ),
            ",",
        ).alias("top_segments"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort("_all", _desc_asc("bal", "member_id")), 1, 5),
                lambda s: s["member_id"].cast("string"),
            ),
            ",",
        ).alias("representatives"),
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(F.transform("_all", lambda s: s["member_id"])), 1, 50
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("member_ids"),
    )


@register(
    "community_naming",
    oracle="""
WITH seg AS (
  SELECT r.r_name AS community, n.n_name AS item, count(*) AS cnt
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
), ranked AS (
  SELECT community, item,
         row_number() OVER (PARTITION BY community ORDER BY cnt DESC, item ASC) AS rn
  FROM seg
), tops AS (
  SELECT community, list(item ORDER BY rn) AS top_nations
  FROM ranked WHERE rn <= 3 GROUP BY community
)
SELECT community,
       concat_ws(' ', top_nations[1], COALESCE(top_nations[2], 'Electronic')) AS name,
       printf('Community: %s. Members: %d. Tags: %s. Representative artists: %s.',
              community, CAST(len(top_nations) AS INT),
              array_to_string(top_nations[1:7], ', '),
              array_to_string(top_nations[1:4], ', ')) AS prompt
FROM tops
""",
)
def community_naming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6/V7 — community naming + prompt construction (deterministic
    string surface of the LLM stage)."""
    n = read_table(spark, sf_dir, "nation")
    r = F.broadcast(read_table(spark, sf_dir, "region"))
    joined = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("r_name").alias("community"), F.col("n_name").alias("item")
    )
    tops = rel.top_n_frequency(joined, "community", "item", n=3).withColumnRenamed(
        "top_item", "top_nations"
    )
    return tops.select(
        "community",
        llm.community_name(F.col("top_nations"), F.slice("top_nations", 2, 10)).alias(
            "name"
        ),
        llm.build_prompt(
            F.col("community"),
            F.size("top_nations"),
            F.col("top_nations"),
            F.col("top_nations"),
        ).alias("prompt"),
    )


def _scored_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community reports keyword-scored against the question — the
    Spark twin of the `ranked` CTE in _REPORT_CTES: relevance =
    keyword hits over the segment summary, score = relevance·10⁶ +
    member_count (all-integer ranking), irrelevant reports dropped,
    context block rendered per report."""
    rollup = community_metadata_rollup(spark, sf_dir)
    terms = ["BUILDING", "AUTOMOBILE", "MACHINERY"]
    relevance = sum(
        F.when(F.col("top_segments").contains(t), 1).otherwise(0) for t in terms
    ).cast("long")
    return (
        rollup.withColumn("relevance", relevance)
        .filter(F.col("relevance") > 0)
        .withColumn(
            "score", F.col("relevance") * F.lit(1_000_000) + F.col("member_count")
        )
        .withColumn(
            "context_block",
            F.format_string(
                "Community report: %s (%d members; segments %s). Representatives: %s.",
                F.col("community"),
                F.col("member_count"),
                F.col("top_segments"),
                F.col("representatives"),
            ),
        )
    )


# rollup → keyword-scored reports → ranked context blocks; the shared
# prefix of graphrag_global_search (top-5 map stage) and
# graphrag_context_pack (token-budgeted reduce-stage packing).
_REPORT_CTES = _ROLLUP_CTES + [
    ("rollup", """
  SELECT r.community, r.member_count, t.top_segments, p.representatives
  FROM rollup_base r
  JOIN top_segments t ON r.community = t.community
  JOIN reps p ON r.community = p.community
"""),
    ("scored", """
  SELECT community, member_count, top_segments, representatives,
         CAST((CASE WHEN top_segments LIKE '%BUILDING%' THEN 1 ELSE 0 END)
            + (CASE WHEN top_segments LIKE '%AUTOMOBILE%' THEN 1 ELSE 0 END)
            + (CASE WHEN top_segments LIKE '%MACHINERY%' THEN 1 ELSE 0 END) AS BIGINT)
           AS relevance
  FROM rollup
"""),
    ("ranked", """
  SELECT community, member_count, top_segments, relevance,
         relevance * 1000000 + member_count AS score,
         printf('Community report: %s (%d members; segments %s). Representatives: %s.',
                community, member_count, top_segments, representatives) AS context_block
  FROM scored WHERE relevance > 0
"""),
]


@register(
    "graphrag_global_search",
    oracle=with_ctes(
        _REPORT_CTES,
        """SELECT community, member_count, top_segments, relevance, context_block,
       CAST(row_number() OVER (ORDER BY score DESC, community ASC) AS INT) AS position
FROM ranked
ORDER BY score DESC, community ASC LIMIT 5""",
    ),
)
def graphrag_global_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphRAG GLOBAL search, the community-level counterpart of
    graphrag_local_search (Microsoft GraphRAG's map stage: score every
    community report against the question, keep the most relevant as
    reduce-stage context; the reference materializes exactly these
    reports via generate_community_summaries.py). Deterministic twin
    of the LLM relevance rater: keyword hits over each community's
    segment summary, occurrence weight = member_count as the integer
    tiebreak (score = relevance·10⁶ + members — all-integer ranking),
    irrelevant reports dropped, top-5 context blocks assembled with
    position numbers. Scale shape: the report table is |communities|
    rows (already aggregated by the oracled rollup); scoring and
    ranking touch no corpus-sized data — one TakeOrdered over
    community count."""
    from pyspark.sql import Window

    scored = _scored_reports(spark, sf_dir)
    top = (
        scored.orderBy(F.desc("score"), F.asc("community"))
        .limit(5)
        .withColumn(
            "position",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("community")))
            .cast("int"),
        )
    )
    return top.select(
        "community", "member_count", "top_segments", "relevance",
        "context_block", "position",
    )


@register(
    "graphrag_context_pack",
    oracle=with_ctes(
        _REPORT_CTES + [
            ("pack", """
  SELECT community, member_count, relevance, score,
         CAST(len(list_filter(string_split(context_block, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens
  FROM ranked
"""),
            ("cum", """
  SELECT community, member_count, relevance, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY score DESC, community ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
         CAST(row_number() OVER (ORDER BY score DESC, community ASC) AS INT)
           AS position
  FROM pack
"""),
        ],
        """SELECT community, member_count, relevance, n_tokens, cum_tokens, position
FROM cum WHERE cum_tokens <= 100""",
    ),
)
def graphrag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphRAG REDUCE-stage context assembly: the ranked community
    reports (graphrag_global_search's map output, unlimited) are
    greedily packed into the answer prompt's token budget — highest
    score first, stop when the running token total would exceed the
    window (budget 100 here; the reference's reduce stage does exactly
    this before the final LLM call). Cumulative sum over rank order is
    a single-partition window — fine BY CONTRACT: it runs on
    |communities| rows (the map stage already reduced corpus-sized
    data), the same driver-scale division as the Leiden rung."""
    from pyspark.sql import Window

    scored = _scored_reports(spark, sf_dir)
    n_tokens = F.size(
        F.filter(F.split(F.col("context_block"), " "), lambda t: t != "")
    ).cast("long")
    w = Window.orderBy(F.desc("score"), F.asc("community"))
    cum = (
        scored.withColumn("n_tokens", n_tokens)
        .withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("position", F.row_number().over(w).cast("int"))
    )
    return cum.filter(F.col("cum_tokens") <= 100).select(
        "community", "member_count", "relevance", "n_tokens",
        "cum_tokens", "position",
    )


def _graphrag_e2e_oracle() -> str:
    """Full SQL replay of the composed GraphRAG pipeline: ER walk
    (recursive min-label closure) → canonical co-purchase graph →
    unrolled seeded-LPA CTEs (shared _lpa_sql builder) → community
    report rollup → keyword scoring → token-budget pack."""
    from graphragdatapipeline_spark.registries.graph_queries import (
        _entity_resolution_ctes,
        _lpa_sql,
    )

    parts = [
        # ---- stage 1: entity resolution (the graph_entity_resolution
        # oracle's replay, without its mega-block cap)
        *_entity_resolution_ctes(),
        ("canon", """
  SELECT s.canonical_id, cn.p_name AS canonical_name, cn.p_brand AS brand,
         s.cluster_size
  FROM csize s JOIN part cn ON cn.p_partkey = s.canonical_id
"""),
        # ---- stage 2: co-purchase graph on CANONICAL ids (order =
        # basket; 64-entity mega-basket cap; min co-occurrence 2)
        ("baskets", """SELECT DISTINCT l.l_orderkey AS ord, a.canonical_id AS ent
  FROM lineitem l JOIN allc a ON l.l_partkey = a.p_partkey"""),
        ("kept", "SELECT ord FROM baskets GROUP BY ord HAVING count(*) <= 64"),
        ("bk", "SELECT b.ord, b.ent FROM baskets b JOIN kept USING (ord)"),
        ("ce", """SELECT a.ent AS src, b.ent AS dst, count(*) AS cooccur
  FROM bk a JOIN bk b USING (ord) WHERE a.ent < b.ent
  GROUP BY 1, 2 HAVING count(*) >= 2"""),
    ]
    # ---- stage 3: seeded LPA, 3 supersteps, all canonical entities
    # labeled (isolated ones keep their seeded init = singletons)
    final = _lpa_sql(
        parts, "z", "ce", 3, 42, ids_extra="SELECT canonical_id AS id FROM canon"
    )
    parts += [
        # ---- stage 4: community reports
        ("members", f"""SELECT l.community, c.canonical_id, c.canonical_name,
         c.brand, c.cluster_size
  FROM {final} l JOIN canon c ON l.id = c.canonical_id"""),
        ("brandc", "SELECT community, brand, count(*) AS cnt FROM members GROUP BY 1, 2"),
        ("brand_ranked", """SELECT community, brand,
   row_number() OVER (PARTITION BY community ORDER BY cnt DESC, brand ASC) AS rn
  FROM brandc"""),
        ("top_brands", """SELECT community, string_agg(brand, ',' ORDER BY rn) AS top_brands
  FROM brand_ranked WHERE rn <= 2 GROUP BY community"""),
        ("rep_ranked", """SELECT community, canonical_name,
   row_number() OVER (PARTITION BY community
                      ORDER BY cluster_size DESC, canonical_id ASC) AS rn
  FROM members"""),
        ("reps", """SELECT community, string_agg(canonical_name, ', ' ORDER BY rn)
          AS representatives
  FROM rep_ranked WHERE rn <= 3 GROUP BY community"""),
        ("base", """SELECT community, CAST(count(*) AS BIGINT) AS member_count,
   CAST(sum(cluster_size) AS BIGINT) AS mention_count FROM members GROUP BY community"""),
        ("report", """SELECT b.community, b.member_count, b.mention_count,
         t.top_brands, r.representatives
  FROM base b JOIN top_brands t USING (community) JOIN reps r USING (community)"""),
        # ---- stage 5: global search (keyword relevance over the
        # representative part names)
        ("scored", """SELECT *,
   CAST((CASE WHEN representatives LIKE '%green%' THEN 1 ELSE 0 END)
      + (CASE WHEN representatives LIKE '%blue%' THEN 1 ELSE 0 END)
      + (CASE WHEN representatives LIKE '%ivory%' THEN 1 ELSE 0 END) AS BIGINT)
     AS relevance
  FROM report"""),
        ("ranked", """SELECT community, member_count, mention_count, relevance,
   relevance * 1000000 + mention_count AS score,
   printf('Community %d: %d entities (%d mentions; brands %s). Key parts: %s.',
          community, member_count, mention_count, top_brands, representatives)
     AS context_block
  FROM scored WHERE relevance > 0"""),
        # ---- stage 6: token-budgeted context pack
        ("pack", """SELECT *,
   CAST(len(list_filter(string_split(context_block, ' '), x -> x <> '')) AS BIGINT)
     AS n_tokens
  FROM ranked"""),
        ("cum", """SELECT community, member_count, mention_count, relevance, n_tokens,
   context_block,
   CAST(sum(n_tokens) OVER (ORDER BY score DESC, community ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
   CAST(row_number() OVER (ORDER BY score DESC, community ASC) AS INT) AS position
  FROM pack"""),
    ]
    return with_ctes(
        parts,
        "SELECT community, member_count, mention_count, relevance, n_tokens,"
        " cum_tokens, position, context_block FROM cum WHERE cum_tokens <= 400",
    )


@register("graphrag_end_to_end", oracle=_graphrag_e2e_oracle())
def graphrag_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED GraphRAG pipeline in one declarative plan — every
    stage individually oracled elsewhere, chained here to prove the
    schema contracts compose (the reference's full indexing+retrieval
    path: extract/merge entities → graph → detect_communities.py:
    177-333 → generate_community_summaries.py:86-144 → global search):

      1. entity resolution over the part catalog (blocked, PPJoin
         prefix-filtered, transitive closure, min-id survivor);
      2. graph build — co-purchase edges between CANONICAL entities
         (order = basket, 64-entity mega-basket cap bounds pair volume
         at C(64,2)/order, co-occurrence >= 2 noise floor);
      3. community detection — seeded deterministic LPA (3 supersteps;
         the value-replayable rung of the G3 ladder: the md5-seeded
         init makes every label — and so every downstream report row —
         bit-identical in DuckDB; detect_communities_louvain slots in
         on the same (id, community) contract when labels need not be
         SQL-replayed);
      4. community reports — member/mention counts, top-2 brands,
         top-3 representative canonical names;
      5. global search — keyword relevance over representatives,
         all-integer score = relevance·10⁶ + mentions;
      6. context pack — whitespace token counts, cumulative budget 400.

    Scale shape: stages 1–3 touch corpus-sized data only through
    blocked/capped equi-joins and the once-partitioned LPA loop;
    stages 4–6 run on |communities| rows (the single-partition pack
    window is report-sized BY CONTRACT, as in graphrag_context_pack).
    """
    from pyspark.sql import Window

    from graphragdatapipeline_spark.graph import algorithms as ga
    from graphragdatapipeline_spark.graph.entities import resolve_entities

    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    ents = resolve_entities(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_col="p_brand",
        size_col="p_size",
        name_jaccard=0.5,
        max_size_gap=1,
    )
    # The ER result feeds BOTH the canonical-entity table and the
    # basket mapping: without a checkpoint each branch re-runs the
    # whole blocked pair-generation + match flow (the branch-reuse
    # rule, SCALE.md) — measured 40.3 s → ~16 s at the 10× fixture.
    # Values unchanged (same frame, materialized once).
    ents = ents.localCheckpoint(eager=True)
    canon = (
        ents.filter(F.col("p_partkey") == F.col("canonical_id"))
        .join(part.select("p_partkey", F.col("p_brand").alias("brand")), "p_partkey")
        .select("canonical_id", "canonical_name", "brand", "cluster_size")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.join(
            ents.select(F.col("p_partkey").alias("l_partkey"), "canonical_id"),
            "l_partkey",
        )
        .select(F.col("l_orderkey").alias("ord"), F.col("canonical_id").alias("ent"))
        .distinct()
    )
    kept = (
        baskets.groupBy("ord")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= 64)
        .select("ord")
    )
    bk = baskets.join(kept, "ord", "left_semi")
    a = bk.select("ord", F.col("ent").alias("src"))
    b = bk.select("ord", F.col("ent").alias("dst"))
    edges = (
        a.join(b, "ord")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cooccur"))
        .filter(F.col("cooccur") >= 2)
    )
    comm = ga.label_propagation(
        edges.select("src", "dst"),
        vertices=canon.select(F.col("canonical_id").alias("id")),
        max_iter=3,
        seed=42,
    )
    members = comm.join(canon, comm.id == canon.canonical_id).select(
        "community", "canonical_id", "canonical_name", "brand", "cluster_size"
    )
    from graphragdatapipeline_spark.operators import relational as _rel

    top_brands = _rel.top_n_frequency(members, "community", "brand", n=2).select(
        "community", F.array_join("top_brand", ",").alias("top_brands")
    )
    reps = (
        _rel.top_k_per_group(
            members, ["community"], [F.desc("cluster_size"), F.asc("canonical_id")], k=3
        )
        .groupBy("community")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "canonical_name"))),
                    lambda s: s["canonical_name"],
                ),
                ", ",
            ).alias("representatives")
        )
    )
    base = members.groupBy("community").agg(
        F.count(F.lit(1)).alias("member_count"),
        F.sum("cluster_size").alias("mention_count"),
    )
    report = base.join(top_brands, "community").join(reps, "community")
    relevance = sum(
        F.when(F.col("representatives").contains(t), 1).otherwise(0)
        for t in ("green", "blue", "ivory")
    ).cast("long")
    ranked = (
        report.withColumn("relevance", relevance)
        .filter(F.col("relevance") > 0)
        .withColumn(
            "score", F.col("relevance") * F.lit(1_000_000) + F.col("mention_count")
        )
        .withColumn(
            "context_block",
            F.format_string(
                "Community %d: %d entities (%d mentions; brands %s). Key parts: %s.",
                F.col("community"),
                F.col("member_count"),
                F.col("mention_count"),
                F.col("top_brands"),
                F.col("representatives"),
            ),
        )
    )
    n_tokens = F.size(
        F.filter(F.split(F.col("context_block"), " "), lambda t: t != "")
    ).cast("long")
    w = Window.orderBy(F.desc("score"), F.asc("community"))
    cum = (
        ranked.withColumn("n_tokens", n_tokens)
        .withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("position", F.row_number().over(w).cast("int"))
    )
    return cum.filter(F.col("cum_tokens") <= 400).select(
        "community", "member_count", "mention_count", "relevance",
        "n_tokens", "cum_tokens", "position", "context_block",
    )
