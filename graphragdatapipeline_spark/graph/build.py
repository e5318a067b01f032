"""Graph construction: edge derivation from domain tables (SURVEY §2.9
G4–G8) and from the driver's TPC-H-ish fixtures.

The reference derives 5 edge types inside Neo4j Cypher
(ingest_graph_db.py:218-296); here each derivation is a DataFrame
transform producing rows for the ``edges`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark.graph.model import PropertyGraph
from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.text.analysis import tokens_ws


# --- Domain derivations (artist/genre/country/release tables) -------------


def plays_genre_edges(artists: DataFrame) -> DataFrame:
    """G4 — explode artists.genres → (artist, genre) edges
    (ingest_graph_db.py:218-230)."""
    return (
        artists.filter(F.col("genres").isNotNull())
        .select(F.col("id").alias("src"), F.explode("genres").alias("dst"))
        .filter(F.col("dst").isNotNull())
        .withColumn("rel_type", F.lit("PLAYS_GENRE"))
    )


def similar_to_edges(artists: DataFrame) -> DataFrame:
    """G5/J5 — SIMILAR_TO via the name-OR-alias disjunctive match
    (ingest_graph_db.py:234-248), rewritten as a union of two equi
    joins (SURVEY §4: Catalyst won't split an OR join itself; the
    nested-loop fallback is O(n·m) and dies at scale).

    Edge (a → t) exists when a lists s in similar_artists and
    t.name == s  OR  s ∈ t.aliases, with self-loops excluded."""
    sim = (
        artists.filter(F.col("similar_artists").isNotNull())
        .select(F.col("id").alias("src"), F.explode("similar_artists").alias("sim_name"))
    )
    by_name = sim.join(
        artists.select(F.col("id").alias("dst"), F.col("name").alias("sim_name")),
        "sim_name",
    )
    by_alias = sim.join(
        artists.filter(F.col("aliases").isNotNull()).select(
            F.col("id").alias("dst"), F.explode("aliases").alias("sim_name")
        ),
        "sim_name",
    )
    return (
        by_name.select("src", "dst")
        .unionByName(by_alias.select("src", "dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("rel_type", F.lit("SIMILAR_TO"))
    )


def performed_by_edges(releases: DataFrame) -> DataFrame:
    """G6 — (release → artist) projection (ingest_graph_db.py:252-263)."""
    return (
        releases.filter(F.col("artist_id").isNotNull())
        .select(F.col("id").alias("src"), F.col("artist_id").alias("dst"))
        .withColumn("rel_type", F.lit("PERFORMED_BY"))
    )


def subgenre_of_edges(genres: DataFrame) -> DataFrame:
    """G7 — explode parent_ids, exclude self-loops
    (ingest_graph_db.py:266-280)."""
    return (
        genres.filter(F.col("parent_ids").isNotNull())
        .select(F.col("id").alias("src"), F.explode("parent_ids").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .withColumn("rel_type", F.lit("SUBGENRE_OF"))
    )


def from_country_edges(artists: DataFrame, countries: DataFrame) -> DataFrame:
    """G8/J6 — natural-key join on country *name* (not id)
    (ingest_graph_db.py:284-295). Country dim is tiny → broadcast."""
    return (
        artists.filter(F.col("country").isNotNull())
        .join(
            F.broadcast(countries.select(F.col("id").alias("dst"), F.col("name").alias("country"))),
            "country",
        )
        .select(F.col("id").alias("src"), "dst")
        .withColumn("rel_type", F.lit("FROM_COUNTRY"))
    )


def build_domain_graph(
    artists: DataFrame,
    genres: DataFrame,
    countries: DataFrame,
    releases: DataFrame,
) -> PropertyGraph:
    """Full 5-edge-type property graph, mirroring the reference's Neo4j
    schema (README.md:344-388) as two DataFrames."""
    vertices = (
        artists.select("id", F.lit("Artist").alias("label"), "name")
        .unionByName(genres.select("id", F.lit("Genre").alias("label"), "name"))
        .unionByName(countries.select("id", F.lit("Country").alias("label"), "name"))
        .unionByName(releases.select("id", F.lit("Release").alias("label"), F.col("title").alias("name")))
    )
    edges = (
        plays_genre_edges(artists)
        .unionByName(similar_to_edges(artists))
        .unionByName(performed_by_edges(releases))
        .unionByName(subgenre_of_edges(genres))
        .unionByName(from_country_edges(artists, countries))
    )
    return PropertyGraph(vertices=vertices, edges=edges)


# --- Fixture graph (driver tables) -----------------------------------------


def build_tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Analog graph over the driver fixtures: Customer/Supplier/Nation/
    Region vertices; IN_NATION / LOCATED_IN / IN_REGION edges."""
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    vertices = (
        c.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("id"),
            F.lit("Customer").alias("label"),
            F.col("c_name").alias("name"),
        )
        .unionByName(
            s.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("id"),
                F.lit("Supplier").alias("label"),
                F.col("s_name").alias("name"),
            )
        )
        .unionByName(
            n.select(
                F.concat(F.lit("N"), F.col("n_nationkey")).alias("id"),
                F.lit("Nation").alias("label"),
                F.col("n_name").alias("name"),
            )
        )
        .unionByName(
            r.select(
                F.concat(F.lit("R"), F.col("r_regionkey")).alias("id"),
                F.lit("Region").alias("label"),
                F.col("r_name").alias("name"),
            )
        )
    )
    edges = (
        c.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
            F.lit("IN_NATION").alias("rel_type"),
        )
        .unionByName(
            s.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
                F.lit("LOCATED_IN").alias("rel_type"),
            )
        )
        .unionByName(
            n.select(
                F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
                F.lit("IN_REGION").alias("rel_type"),
            )
        )
    )
    return PropertyGraph(vertices=vertices, edges=edges)


def cooccurrence_graph(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    max_doc_terms: int | None = None,
) -> DataFrame:
    """Term co-occurrence graph extracted FROM TEXT → (src, dst,
    cooccur, pmi): the graph-FROM-text rung the reference reaches via
    per-article extraction (extract_artists_articles.py feeding
    ingest_graph_db.py's MERGE edges) — two terms are linked when they
    appear in the same document, edge weight = number of co-occurring
    documents, scored
    by PMI = ln(N·c(a,b) / (c(a)·c(b))) so corpus-frequent terms don't
    drown genuine associations. This is how a GraphRAG ingestion
    builds its graph when no LLM is in the loop (and the exact
    candidate structure an LLM extractor is validated against).

    Scale shape: per-doc DISTINCT terms explode once; pair generation
    is a doc-keyed self-join, so volume is Σ C(|terms(d)|, 2) — linear
    in docs for bounded vocabularies. ``max_doc_terms`` drops
    mega-docs (a page with thousands of distinct terms contributes
    O(terms²) pairs of near-zero signal — the doc-level twin of the
    dedup layer's max_bucket) BEFORE the self-join; doc and term
    frequencies stay pre-cap exact so PMI is unbiased. It is the
    index-building half (cooccurrence_index_delta) and the read half
    (pmi_from_index) of incremental maintenance run over the whole
    frame at once."""
    return pmi_from_index(
        *cooccurrence_index_delta(docs, id_col, text_col, max_doc_terms), min_count
    )


def cooccurrence_index_delta(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_terms: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental co-occurrence maintenance, the index-building half →
    (edge_delta (src, dst, cooccur), tf_delta (term, df), n_delta (n)):
    the three ADDITIVE count states of cooccurrence_graph for ONE
    ingest batch — per ingest you tokenize only the BATCH, never
    rescan the lake (lm_token_index_delta's shape applied to graph
    maintenance). Merge rule: union each delta with its stored table
    and groupBy-sum; PMI is then recomputed from the merged counts via
    pmi_from_index — counts are additive, PMI is not, which is exactly
    why the persisted state is counts."""
    terms = docs.select(
        F.col(id_col).alias("_d"),
        F.explode(F.array_distinct(tokens_ws(F.col(text_col)))).alias("term"),
    ).localCheckpoint(eager=False)
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.countDistinct(id_col).alias("n"))
    joined = terms
    if max_doc_terms is not None:
        keep = (
            terms.groupBy("_d")
            .agg(F.count(F.lit(1)).alias("_nt"))
            .filter(F.col("_nt") <= max_doc_terms)
            .select("_d")
        )
        joined = terms.join(keep, "_d", "left_semi")
    a = joined.select("_d", F.col("term").alias("src"))
    b = joined.select("_d", F.col("term").alias("dst"))
    edges = (
        a.join(b, "_d")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cooccur"))
    )
    return edges, tf, n


def merge_count_index(old: DataFrame | None, delta: DataFrame, keys: list[str]) -> DataFrame:
    """groupBy-sum merge of an additive count table with its delta
    (all non-key columns are summed). The shuffle is keyed on the
    index keys only — at 100 TB the stored index is partitioned by
    the same keys, so each merge is a co-partitioned combine."""
    if old is None:
        return delta
    merged = old.unionByName(delta)
    counts = [c for c in delta.columns if c not in keys]
    return merged.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in counts])


def pmi_from_index(
    edges: DataFrame, tf: DataFrame, n_docs: DataFrame, min_count: int = 2
) -> DataFrame:
    """PMI edge scoring from PERSISTED count state — the read half of
    incremental co-occurrence maintenance (one double division, one
    ln); cooccurrence_graph is it over one whole-frame delta."""
    fa = tf.select(F.col("term").alias("src"), F.col("df").alias("df_a"))
    fb = tf.select(F.col("term").alias("dst"), F.col("df").alias("df_b"))
    return (
        edges.filter(F.col("cooccur") >= min_count)
        .join(fa, "src")
        .join(fb, "dst")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "src",
            "dst",
            "cooccur",
            F.log(
                F.col("n") * F.col("cooccur") / (F.col("df_a") * F.col("df_b"))
            ).alias("pmi"),
        )
    )
