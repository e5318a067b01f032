"""End-to-end test of the reference's 12-asset DAG on domain fixtures
(FIXTURES.md shapes), plus the source-cache and misc-operator units."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphragdatapipeline_spark.domain_pipeline import build_domain_pipeline
from graphragdatapipeline_spark.schemas import (
    ARTIST_SCHEMA,
    COUNTRY_SCHEMA,
    GENRE_SCHEMA,
    RELEASE_SCHEMA,
    TRACK_SCHEMA,
)


@pytest.fixture(scope="module")
def domain_inputs(spark):
    artist_index = spark.createDataFrame(
        [
            ("http://www.wikidata.org/entity/Q1", "Alpha", "1991-05-01T00:00:00Z"),
            ("http://www.wikidata.org/entity/Q1", "Alpha", "1989-01-01T00:00:00Z"),  # dup uri
            ("http://www.wikidata.org/entity/Q2", "Beta", "1975-03-01T00:00:00Z"),
            ("http://www.wikidata.org/entity/Q3", "Gamma", "2001-07-01T00:00:00Z"),
        ],
        ["artist_uri", "name", "start_date"],
    )
    artists = spark.createDataFrame(
        [
            dict(id="Q1", name="Alpha", mbid="m1", country="Iceland",
                 aliases=["The Alpha"], genres=["G1"], tags=["t"],
                 similar_artists=["Beta"]),
            dict(id="Q2", name="Beta", mbid="m2", country="Iceland",
                 aliases=[], genres=["G1", "G2"], tags=[], similar_artists=["The Alpha"]),
            dict(id="Q3", name="Битлз", mbid="m3", country="Norway",  # non-Latin → dropped
                 aliases=[], genres=["G2"], tags=[], similar_artists=[]),
            dict(id="Q4", name="Delta", mbid=None, country="Norway",  # no mbid → dropped
                 aliases=[], genres=[], tags=[], similar_artists=[]),
        ],
        ARTIST_SCHEMA,
    )
    genres = spark.createDataFrame(
        [
            dict(id="G1", name="techno", aliases=[], parent_ids=["G2"]),
            dict(id="G2", name="electronic", aliases=[], parent_ids=[]),
        ],
        GENRE_SCHEMA,
    )
    countries = spark.createDataFrame(
        [dict(id="C1", name="Iceland", aliases=[]), dict(id="C2", name="Norway", aliases=[])],
        COUNTRY_SCHEMA,
    )
    releases = spark.createDataFrame(
        [
            dict(id="R1", title="First", year=1995, artist_id="Q1"),
            dict(id="R1", title="First (reissue)", year=2005, artist_id="Q1"),  # dup id
            dict(id="R2", title="Second", year=None, artist_id="Q2"),
        ],
        RELEASE_SCHEMA,
    )
    tracks = spark.createDataFrame(
        [
            dict(id="T1", title="One", album_id="R1", src_order=1),
            dict(id="T2", title="Two", album_id="R1", src_order=2),
            dict(id="T3", title="Solo", album_id="R2", src_order=1),
        ],
        TRACK_SCHEMA,
    )
    articles = spark.createDataFrame(
        [
            (
                "Q1",
                "Alpha (band)",
                "Alpha is an electronic band from Iceland with a long history. "
                "== Career ==\n"
                + "Their career spans decades of electronic music production. " * 20
                + "\n== References ==\nexcluded trailing text",
            )
        ],
        ["qid", "title", "text"],
    )
    return dict(
        artist_index_raw=artist_index,
        artists_raw=artists,
        genres_raw=genres,
        countries_raw=countries,
        releases_raw=releases,
        tracks_raw=tracks,
        articles_raw=articles,
    )


def test_domain_pipeline_end_to_end(spark, tmp_path, domain_inputs):
    pipe = build_domain_pipeline(str(tmp_path / "warehouse"), **domain_inputs)
    results = pipe.run(spark)
    assert len(results) == 12

    idx = spark.read.parquet(results["artist_index"])
    assert idx.count() == 3  # dup (uri,name) removed, earliest kept
    kept = idx.filter(F.col("artist_uri").endswith("Q1")).first()
    assert kept.start_date.startswith("1989")
    assert kept.decade == "1980s"

    artists = spark.read.parquet(results["artists"])
    assert sorted(r.id for r in artists.collect()) == ["Q1", "Q2"]

    releases = spark.read.parquet(results["releases"])
    assert releases.count() == 2  # best-row per release id

    tracks = spark.read.parquet(results["tracks_rolled"])
    r1 = {r.album_id: r.tracks for r in tracks.collect()}
    assert r1["R1"] == ["1. One", "2. Two"]

    edges = spark.read.parquet(results["graph_edges"])
    by_type = {r.rel_type: r["count"] for r in edges.groupBy("rel_type").count().collect()}
    # Q1-PLAYS->G1, Q2-PLAYS->{G1,G2}; SIMILAR Q1<->Q2 (name + alias);
    # PERFORMED R1->Q1, R2->Q2; SUBGENRE G1->G2; FROM_COUNTRY Q1,Q2->C1
    assert by_type["PLAYS_GENRE"] == 3
    assert by_type["SIMILAR_TO"] == 2
    assert by_type["PERFORMED_BY"] == 2
    assert by_type["SUBGENRE_OF"] == 1
    assert by_type["FROM_COUNTRY"] == 2

    comms = spark.read.parquet(results["communities"])
    assert comms.count() == 2  # Q1, Q2 assigned at all 3 levels
    assert comms.filter(F.col("community_L0").isNull()).count() == 0

    summaries = spark.read.parquet(results["community_summaries"])
    for row in summaries.collect():
        assert row.summary == (
            f"Summary of {row['name']}: a community of {row.member_count} members."
        )

    chunks = spark.read.parquet(results["article_chunks"])
    assert chunks.count() > 1  # long career section chunked
    first = chunks.orderBy("chunk_index").first()
    assert first.chunk_text.startswith("search_document: Topic: Alpha (band)")

    vectors = spark.read.parquet(results["vector_collection"])
    assert vectors.count() == chunks.count()
    assert len(vectors.first().embedding) == 32


def test_incremental_fetch_cache_diff(spark):
    from graphragdatapipeline_spark.sources.cache import incremental_fetch
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("key", StringType()), StructField("payload", StringType())]
    )
    cache = spark.createDataFrame([("a", "cached-a")], schema)
    requested = spark.createDataFrame([("a",), ("b",), ("c",), ("b",)], ["key"])

    def fetch(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"key": pdf["key"], "payload": "fetched-" + pdf["key"]}
            )

    updated, fetched = incremental_fetch(requested, cache, "key", fetch, schema)
    got = {r.key: r.payload for r in updated.collect()}
    assert got == {"a": "cached-a", "b": "fetched-b", "c": "fetched-c"}
    assert {r.key for r in fetched.collect()} == {"b", "c"}


def test_nfkc_normalization_udf(spark):
    from graphragdatapipeline_spark.functions import normalize_text_nfkc

    df = spark.createDataFrame([("ﬁne  \n ½ text",)], ["t"])
    out = df.select(normalize_text_nfkc(F.col("t")).alias("n")).first().n
    assert out == "fine 1⁄2 text"  # NFKC: ﬁ→fi, ½→1⁄2; whitespace collapsed


def test_full_normalize_repair_rung_injected(spark):
    """The ftfy rung of F1 via the injection seam: repair runs before
    NFKC inside the kernel, then the native chain. The injected
    repairer undoes the classic UTF-8-as-latin1 mojibake."""
    from graphragdatapipeline_spark.functions import normalize_text_full

    def fake_fix_text(s: str) -> str:
        return s.replace("Ã©", "é")  # 'Ã©' → 'é'

    df = spark.createDataFrame([("cafÃ©  \n ﬁne", ), (None,)], ["t"])
    rows = df.select(
        normalize_text_full(F.col("t"), repair_fn=fake_fix_text).alias("n")
    ).collect()
    assert rows[0].n == "café fine"  # repaired + NFKC (ﬁ→fi) + collapsed
    assert rows[1].n is None


def test_full_normalize_default_repairs_mojibake(spark):
    """The DEFAULT chain (no injection) must repair the classic
    UTF-8/Latin-1 mojibake — the vendored fix_text_vendored repairer
    matches reference behavior on corrupted fixtures."""
    from graphragdatapipeline_spark.functions import normalize_text_full

    # cp1252-style, latin-1-style (curly quotes), and clean rows
    latin1_bad = "“naïve”".encode("utf-8").decode("latin-1")
    dbl_bad = "café".encode("utf-8").decode("latin-1").encode("utf-8").decode("latin-1")
    df = spark.createDataFrame(
        [("cafÃ© test",), (latin1_bad,), (dbl_bad,), ("plain — “fine” é",), (None,)],
        ["t"],
    )
    rows = df.select(normalize_text_full(F.col("t")).alias("n")).collect()
    assert rows[0].n == "café test"
    assert rows[1].n == "“naïve”"
    assert rows[2].n == "café"  # double-encoded
    assert rows[3].n == "plain — “fine” é"  # clean text untouched
    assert rows[4].n is None


def test_fix_mojibake_pure_function():
    """Unit contract of the vendored repairer, independent of Spark."""
    from graphragdatapipeline_spark.functions import fix_mojibake

    assert fix_mojibake("cafÃ©") == "café"
    bad = "déjà — “vu”".encode("utf-8").decode("latin-1")
    assert fix_mojibake(bad) == "déjà — “vu”"
    # ambiguous / undecodable input is returned untouched, never mangled
    assert fix_mojibake("Ã") == "Ã"  # lone lead byte, no continuation
    assert fix_mojibake("ASCII only") == "ASCII only"
    assert fix_mojibake(None) is None


def test_generate_summaries_custom_generator(spark):
    from graphragdatapipeline_spark.llm import generate_summaries

    df = spark.createDataFrame([(1, "X", 5), (2, "Y", 7)], ["community_id", "name", "member_count"])

    def upper_gen(rows):
        for r in rows:
            yield f"{r['name']}!{r['member_count']}"

    out = {r.community_id: r.summary for r in generate_summaries(df, upper_gen).collect()}
    assert out == {1: "X!5", 2: "Y!7"}


def test_sparse_jsonl_roundtrip(spark, tmp_path):
    from graphragdatapipeline_spark.io import read_jsonl, write_sparse_jsonl
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("name", StringType()),
            StructField("year", LongType()),
        ]
    )
    df = spark.createDataFrame([("a", None, 1990), ("b", "Beta", None)], schema)
    path = str(tmp_path / "sparse")
    write_sparse_jsonl(df, path)
    # null keys dropped on disk (sparse)
    import glob

    lines = []
    for f in glob.glob(path + "/part-*"):
        lines += open(f).read().strip().splitlines()
    assert any('"name"' not in ln for ln in lines if '"id":"a"' in ln)
    back = read_jsonl(spark, path, schema)
    rows = {r.id: (r.name, r.year) for r in back.collect()}
    assert rows == {"a": (None, 1990), "b": ("Beta", None)}


def test_domain_pipeline_on_driver_fixtures(spark, sf_dir, tmp_path):
    """The 12-asset DAG fed from the driver's parquet fixtures (TPC-H
    analog mapped into the domain shapes) — proves the pipeline runs
    on real columnar inputs end-to-end, not only hand-built frames."""
    from graphragdatapipeline_spark.io import read_table

    cust = read_table(spark, sf_dir, "customer").limit(200)
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region")
    orders = read_table(spark, sf_dir, "orders").limit(200)
    li = read_table(spark, sf_dir, "lineitem").limit(400)
    docs = read_table(spark, sf_dir, "documents").limit(50)

    artist_index_raw = cust.select(
        F.concat(F.lit("uri/C"), F.col("c_custkey")).alias("artist_uri"),
        F.col("c_name").alias("name"),
        F.concat(F.lit("19"), F.lpad(F.col("c_nationkey") % 100, 2, "0"),
                 F.lit("-01-01T00:00:00Z")).alias("start_date"),
    )
    artists_raw = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("id"),
        F.col("c_name").alias("name"),
        F.concat(F.lit("mb-"), F.col("c_custkey")).alias("mbid"),
        F.col("n_name").alias("country"),
        F.array().cast("array<string>").alias("aliases"),
        F.array(F.concat(F.lit("N"), F.col("c_nationkey"))).alias("genres"),
        F.array(F.col("c_mktsegment")).alias("tags"),
        F.array().cast("array<string>").alias("similar_artists"),
    )
    genres_raw = nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("id"),
        F.col("n_name").alias("name"),
        F.array().cast("array<string>").alias("aliases"),
        F.array(F.concat(F.lit("R"), F.col("n_regionkey"))).alias("parent_ids"),
    )
    countries_raw = nat.select(
        F.concat(F.lit("CY"), F.col("n_nationkey")).alias("id"),
        F.col("n_name").alias("name"),
    )
    releases_raw = orders.select(
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("id"),
        F.concat(F.lit("C"), F.col("o_custkey")).alias("artist_id"),
        F.col("o_orderstatus").alias("title"),
        F.year("o_orderdate").alias("year"),
        F.lit("Official").alias("status"),
    )
    tracks_raw = li.select(
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("id"),
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("album_id"),
        F.concat(F.lit("part "), F.col("l_partkey")).alias("title"),
        F.col("l_linenumber").alias("src_order"),
    )
    articles_raw = docs.select(
        F.concat(F.lit("Q"), F.col("doc_id")).alias("qid"),
        F.concat(F.lit("Doc "), F.col("doc_id")).alias("title"),
        F.col("text"),
    )

    pipe = build_domain_pipeline(
        warehouse=str(tmp_path / "wh"),
        artist_index_raw=artist_index_raw,
        artists_raw=artists_raw,
        genres_raw=genres_raw,
        countries_raw=countries_raw,
        releases_raw=releases_raw,
        tracks_raw=tracks_raw,
        articles_raw=articles_raw,
    )
    pipe.run(spark)
    for table in ("artists", "graph_vertices", "graph_edges", "communities",
                  "community_summaries", "article_chunks", "vector_collection"):
        got = spark.read.parquet(str(tmp_path / "wh" / table))
        assert got.count() > 0, table
