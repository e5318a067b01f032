"""Empty-input edge cases: the reference returns schemaed-empty
frames for missing upstreams (io_managers.py:137-140) and guards
assets with row-count early-exits (merge_wikipedia_articles.py:37-53).
Every engine operator must come back empty WITH ITS SCHEMA, never
throw, when fed zero rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _empty(spark, ddl):
    return spark.createDataFrame([], ddl)


def test_dedup_by_priority_empty(spark):
    from graphragdatapipeline_spark.operators.relational import dedup_by_priority

    df = _empty(spark, "k INT, prio INT, uid INT")
    out = dedup_by_priority(df, unique_cols=["k"], sort_col="prio", tiebreakers=["uid"])
    assert out.count() == 0
    assert out.columns == df.columns


def test_top_n_frequency_empty(spark):
    from graphragdatapipeline_spark.operators.relational import top_n_frequency

    out = top_n_frequency(_empty(spark, "g INT, item STRING"), "g", "item", n=3)
    assert out.count() == 0


def test_minhash_pipeline_empty(spark):
    from graphragdatapipeline_spark.operators import dedup as dd

    docs = _empty(spark, "doc_id BIGINT, text STRING")
    assert dd.minhash_dedup_pairs(docs, "doc_id", "text").count() == 0
    assert dd.exact_dedup(docs, "doc_id", "text").count() == 0
    assert dd.simhash(docs, "doc_id", "text").count() == 0


def test_chunking_empty_and_null_text(spark):
    from graphragdatapipeline_spark.text.chunking import chunked_documents

    empty = chunked_documents(_empty(spark, "doc_id INT, text STRING"), "doc_id", "text")
    assert empty.count() == 0
    # null text → no chunks for that row, no crash
    df = spark.createDataFrame([(1, None), (2, "hello world")], "doc_id INT, text STRING")
    rows = chunked_documents(df, "doc_id", "text", size=5, overlap=2).collect()
    assert all(r.doc_id == 2 for r in rows) and len(rows) > 0


def test_detect_communities_empty_graph(spark):
    from graphragdatapipeline_spark.graph import algorithms as ga

    v = _empty(spark, "id STRING")
    e = _empty(spark, "src STRING, dst STRING")
    out = ga.detect_communities(v, e, seed=42)
    assert out.count() == 0
    assert set(out.columns) == {"id", "community_L0", "community_L1", "community_L2"}


def test_upsert_dedup_empty_sides(spark):
    from graphragdatapipeline_spark.vector.similarity import upsert_dedup

    filled = spark.createDataFrame([(1, "a")], "id INT, doc STRING")
    empty = _empty(spark, "id INT, doc STRING")
    assert upsert_dedup(empty, filled, "id").count() == 1
    assert upsert_dedup(filled, empty, "id").count() == 1
    assert upsert_dedup(empty, empty, "id").count() == 0


def test_incremental_fetch_all_hits(spark):
    """No misses → fetch kernel sees zero rows, cache unchanged."""
    from graphragdatapipeline_spark.sources.cache import incremental_fetch

    cache = spark.createDataFrame([(1, "x"), (2, "y")], "key INT, payload STRING")
    requested = spark.createDataFrame([(1,), (2,)], "key INT")

    def fetch(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"key": pdf["key"], "payload": "f:" + pdf["key"].astype(str)})

    updated, fetched = incremental_fetch(
        requested, cache, "key", fetch, "key INT, payload STRING"
    )
    assert fetched.count() == 0
    assert updated.count() == 2


def test_pipeline_stage_with_empty_output(spark, tmp_path):
    """A stage producing zero rows still writes a schemaed table that
    downstream stages can read."""
    from graphragdatapipeline_spark.pipeline import Pipeline, Stage

    def empty_stage(sp, cat):
        return _empty(sp, "id INT, name STRING")

    def downstream(sp, cat):
        return cat["src"].select(F.col("id"))

    p = Pipeline(
        warehouse=str(tmp_path / "wh"),
        stages=[Stage("src", empty_stage), Stage("out", downstream, deps=["src"])],
    )
    p.run(spark)
    got = spark.read.parquet(str(tmp_path / "wh" / "out"))
    assert got.count() == 0
    assert got.columns == ["id"]


def test_curation_ops_on_empty_and_singleton_inputs(spark):
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.operators import curation as cu
    from graphragdatapipeline_spark.text.analysis import (
        tfidf_top_terms,
        word_repetition_stats,
    )

    empty = spark.createDataFrame([], "doc_id LONG, lang STRING, text STRING, w LONG")
    one = spark.createDataFrame([(1, "en", "solo", 7)], "doc_id LONG, lang STRING, text STRING, w LONG")

    assert cu.deterministic_sample(empty, "doc_id", 0.5).count() == 0
    assert cu.train_test_split(empty, "doc_id").count() == 0
    assert cu.pack_into_sequences(empty, "lang", ["doc_id"], "w", 100).count() == 0
    assert cu.stratified_sample(empty, "doc_id", "lang", {"en": 1.0}).count() == 0
    assert cu.quality_filter(empty, "doc_id", "text").count() == 0
    assert cu.redact_pii(empty, "doc_id", "text").count() == 0
    assert word_repetition_stats(empty, "doc_id", "text").count() == 0
    assert tfidf_top_terms(empty, "doc_id", "text").count() == 0
    # decontamination against an empty benchmark flags nothing
    out = cu.decontaminate(one, empty, "doc_id", "text").collect()
    assert len(out) == 1 and not out[0].contaminated

    # mixture: empty sources contribute nothing; weight 0 keeps nothing;
    # an integer weight replicates exactly
    assert cu.mixture_sample([(empty, 0.5), (empty, 1.5)], "doc_id").count() == 0
    mix = cu.mixture_sample([(one, 0.0), (one, 2.0)], "doc_id").collect()
    assert sorted((r.source_id, r.epoch) for r in mix) == [(1, 0), (1, 1)]

    p = cu.pack_into_sequences(one, "lang", ["doc_id"], "w", 100).first()
    assert (p.seq_index, p.seq_offset) == (0, 0)
    t = tfidf_top_terms(one, "doc_id", "text").collect()
    assert [(r.term, r.tf, r.df, r.rank) for r in t] == [("solo", 1, 1, 1)]
    r = word_repetition_stats(one, "doc_id", "text").first()
    assert (r.n_tokens, r.top_bigram_frac) == (1, 0.0)


def test_range_join_clamp_to_fact_empty_fact(spark):
    """clamp_to_fact must stay lazy and empty-safe: an empty fact table
    produces NULL min/max bounds -> zero surviving ranges -> empty
    result, with no driver-side job (the r3 version ran .first() at
    plan-construction and raised TypeError on float(None))."""
    from graphragdatapipeline_spark.operators.relational import range_join_buckets

    fact = _empty(spark, "id INT, value DOUBLE")
    ranges = spark.createDataFrame(
        [("low", 0.0, 100.0), ("high", 100.0, 1000000.0)],
        "tier STRING, lo DOUBLE, hi DOUBLE",
    )
    out = range_join_buckets(fact, ranges, "value", bucket_width=100.0, clamp_to_fact=True)
    assert out.count() == 0
    assert "_clamp_lo" not in out.columns and "_bucket" not in out.columns


def test_range_join_clamp_to_fact_matches_plain(spark):
    from graphragdatapipeline_spark.operators.relational import range_join_buckets

    fact = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 5.0, 99.9, 100.0, 499.0, 777.0])],
        "id INT, value DOUBLE",
    )
    ranges = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1000000.0)],
        "tier STRING, lo DOUBLE, hi DOUBLE",
    )
    plain = range_join_buckets(fact, ranges, "value", bucket_width=100.0)
    clamped = range_join_buckets(fact, ranges, "value", bucket_width=100.0, clamp_to_fact=True)
    assert {(r.id, r.tier) for r in plain.collect()} == {
        (r.id, r.tier) for r in clamped.collect()
    }


def test_scd2_merge_empty_sides(spark):
    from graphragdatapipeline_spark.operators.relational import scd2_merge

    cur = _empty(spark, "k BIGINT, seg STRING, valid_from TIMESTAMP, valid_to TIMESTAMP")
    upd = _empty(spark, "k BIGINT, seg STRING, eff TIMESTAMP")
    assert scd2_merge(cur, upd, "k", ["seg"], "eff").count() == 0
    # empty updates: current passes through unchanged
    cur2 = spark.createDataFrame(
        [(1, "a", None, None)],
        "k BIGINT, seg STRING, valid_from TIMESTAMP, valid_to TIMESTAMP",
    )
    out = scd2_merge(cur2, upd, "k", ["seg"], "eff")
    assert out.count() == 1
    # empty current: every update is an insert
    upd2 = spark.createDataFrame([(2, "b", None)], "k BIGINT, seg STRING, eff TIMESTAMP")
    out2 = scd2_merge(cur, upd2, "k", ["seg"], "eff")
    assert [r["k"] for r in out2.collect()] == [2]


def test_state_history_empty(spark):
    from graphragdatapipeline_spark.operators.relational import state_history

    ev = _empty(spark, "user_id BIGINT, ts TIMESTAMP, event_type STRING, event_id BIGINT")
    out = state_history(ev, "user_id", "ts", "event_type", ["event_id"])
    assert out.count() == 0
    assert out.columns == ["user_id", "state", "valid_from", "valid_to", "n_events"]


def test_lsh_probe_topk_empty_corpus(spark):
    from graphragdatapipeline_spark.vector import similarity as vs

    corpus = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    planes = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "h_id LONG, embedding ARRAY<DOUBLE>"
    )
    assert vs.lsh_probe_topk(corpus, planes, [0.5, 0.5], k=8).count() == 0


_PIXELS = (
    "blob_id STRING, width BIGINT, height BIGINT, channels BIGINT, "
    "n_pixels BIGINT, pixel_sum BIGINT"
)
_BLOBS = "blob_id STRING, media_type STRING, doc_id BIGINT, payload BINARY"
_DOCS = "doc_id BIGINT, text STRING"
# kernel → (input schema, declared output schema)
_BLOB_KERNELS = {
    "image_stats": (_BLOBS, _PIXELS),
    "image_resize_stats": (_BLOBS, _PIXELS),
    "audio_stats": (
        _BLOBS,
        "blob_id STRING, sample_rate BIGINT, n_samples BIGINT, "
        "sample_sum BIGINT, sample_min BIGINT, sample_max BIGINT",
    ),
    "video_frame_stats": (
        _BLOBS,
        "blob_id STRING, frame_idx BIGINT, fps BIGINT, width BIGINT, "
        "height BIGINT, pixel_sum BIGINT",
    ),
    "blob_features": (
        _BLOBS,
        "blob_id STRING, media_type STRING, n_bytes BIGINT, "
        "content_hash STRING, feature_dim INT, features ARRAY<FLOAT>",
    ),
    "resize_media": (
        _BLOBS,
        "blob_id STRING, media_type STRING, orig_bytes BIGINT, "
        "resized_bytes BIGINT, resized_hash STRING, payload BINARY",
    ),
    "waveform_stats": (
        _BLOBS, "blob_id STRING, n_samples BIGINT, mean_amp DOUBLE, rms_amp DOUBLE"
    ),
    "png_blob_table": (_DOCS, _BLOBS),
    "wav_blob_table": (_DOCS, _BLOBS),
    "avi_blob_table": (_DOCS, _BLOBS),
}


@pytest.mark.parametrize("kernel", list(_BLOB_KERNELS))
def test_image_stats_empty_blobs(spark, kernel):
    """Every blob kernel maps an empty input to zero rows of its
    declared schema."""
    from pyspark.sql.types import StructType

    from graphragdatapipeline_spark.multimodal import blob

    input_ddl, out_ddl = _BLOB_KERNELS[kernel]
    out = getattr(blob, kernel)(_empty(spark, input_ddl))
    assert out.count() == 0
    assert out.schema.simpleString() == StructType.fromDDL(out_ddl).simpleString()


def test_louvain_move_empty(spark):
    from graphragdatapipeline_spark.graph import algorithms as ga

    edges = _empty(spark, "src STRING, dst STRING")
    out = ga.louvain_move(edges, rounds=2)
    assert out.count() == 0
    assert out.columns == ["id", "community"]
    # weighted mode, and isolated vertices supplied separately
    wedges = _empty(spark, "src STRING, dst STRING, weight DOUBLE")
    verts = spark.createDataFrame([("A",), ("B",)], "id STRING")
    got = {
        r.id: r.community
        for r in ga.louvain_move(
            wedges, rounds=2, vertices=verts, weight_col="weight"
        ).collect()
    }
    assert got == {"A": "A", "B": "B"}  # singletons stay singletons


def test_lm_quality_scores_empty(spark):
    from graphragdatapipeline_spark.text.analysis import lm_quality_scores

    out = lm_quality_scores(_empty(spark, "doc_id BIGINT, text STRING"))
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "n_tokens", "cross_entropy", "below_corpus_mean",
    ]


def test_dsir_weights_empty_and_no_target(spark):
    from graphragdatapipeline_spark.operators.curation import dsir_importance_weights

    out = dsir_importance_weights(
        _empty(spark, "doc_id BIGINT, text STRING, lang STRING"),
        F.col("lang") == "en",
    )
    assert out.count() == 0
    # no target docs at all: weights still compute (uniform smoothing
    # makes every cell's target model identical), nothing throws
    df = spark.createDataFrame(
        [(1, "aa bb", "de"), (2, "cc dd", "de")],
        "doc_id LONG, text STRING, lang STRING",
    )
    rows = dsir_importance_weights(df, F.col("lang") == "en").collect()
    assert len(rows) == 2


def test_pq_rerank_empty_corpus(spark):
    from graphragdatapipeline_spark.vector import similarity as vs

    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    out = vs.pq_rerank_topk(
        _empty(spark, "vec_id BIGINT, embedding ARRAY<DOUBLE>"),
        books, [1.0, 0.0, 0.0, 1.0], k=4, shortlist=8,
    )
    assert out.count() == 0
    assert out.columns == ["vec_id", "sim"]


def test_pq_rerank_shortlist_larger_than_corpus(spark):
    from graphragdatapipeline_spark.vector import similarity as vs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 1.0]), (2, [0.0, 1.0, 1.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    rows = vs.pq_rerank_topk(df, books, [1.0, 0.0, 0.0, 1.0], k=8, shortlist=64).collect()
    # corpus smaller than shortlist and k: every row survives, exact order
    assert [r.vec_id for r in rows] == [1, 2]


def test_substring_removal_empty_and_singleton(spark):
    from graphragdatapipeline_spark.operators import dedup as dd

    empty = _empty(spark, "doc_id BIGINT, text STRING")
    out = dd.remove_duplicated_spans(empty, "doc_id", "text")
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "n_shingles", "n_shared", "dup_rate", "flag_dup",
        "n_tokens", "n_removed", "cleaned_text",
    ]
    # singleton corpus: nothing cross-document, text round-trips
    one = spark.createDataFrame([(1, "only doc in the corpus")], "doc_id BIGINT, text STRING")
    r = dd.remove_duplicated_spans(one, "doc_id", "text").collect()[0]
    assert r.n_removed == 0 and r.cleaned_text == "only doc in the corpus"
    # scoring against an EMPTY index: everything survives
    idx = dd.shingle_df_delta(empty, "doc_id", "text")
    r2 = dd.remove_spans_against_index(one, idx, "doc_id", "text").collect()[0]
    assert r2.cleaned_text == "only doc in the corpus"


def test_quality_classifier_empty_corpus(spark):
    from graphragdatapipeline_spark.operators import curation as cu

    out = cu.quality_classifier(
        _empty(spark, "doc_id BIGINT, text STRING"), "doc_id", "text"
    )
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "n_tokens", "keep", "fail_reasons", "clf_score", "clf_keep",
    ]
