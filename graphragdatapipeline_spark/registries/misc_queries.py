"""Quality-check gates + multimodal registry queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark import checks as ck
from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.multimodal.blob import blob_table_from_documents
from graphragdatapipeline_spark.registry import register, with_ctes


@register(
    "quality_check_gates",
    oracle="""
SELECT 'customer_no_nulls' AS check_name,
       sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
         + sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM customer
UNION ALL
SELECT 'customer_unique_keys',
       COALESCE(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0) = 0
FROM (SELECT c_custkey, count(*) AS n FROM customer GROUP BY c_custkey)
UNION ALL
SELECT 'orders_completeness',
       avg(CASE WHEN o_totalprice > 0 THEN 1.0 ELSE 0.0 END) >= 0.5
FROM orders
UNION ALL
SELECT 'lineitems_per_order',
       CAST(count(*) AS DOUBLE) / count(DISTINCT l_orderkey) >= 1.0
FROM lineitem
UNION ALL
SELECT 'lineitem_no_null_keys',
       sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
         + sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem
""",
)
def quality_check_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1–Q5 — the reference's five asset checks (defs/checks.py:14-159)
    mapped onto the fixture tables, one gate table."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    gates = ck.run_checks(
        [
            ck.check_no_nulls(customer, ["c_custkey", "c_name"], "customer_no_nulls"),
            ck.check_no_duplicates(customer, ["c_custkey"], "customer_unique_keys"),
            ck.check_completeness_ratio(
                orders, F.col("o_totalprice") > 0, 0.5, "orders_completeness"
            ),
            ck.check_ratio_per_key(lineitem, "l_orderkey", 1.0, "lineitems_per_order"),
            ck.check_no_nulls(
                lineitem, ["l_orderkey", "l_partkey"], "lineitem_no_null_keys"
            ),
        ]
    )
    return gates.select("check_name", "passed")


# RETIRED round 10 (rotation budget, same rule as the r9
# `multimodal_resize` swap): `multimodal_features` — the stub-codec
# plumbing profile (blob round-trip byte counts / content hashes +
# waveform mean/RMS). Its mapInPandas plumbing and the waveform-stats
# arithmetic are covered by the REAL-codec twins that stay registered
# (`multimodal_wav_decode` drives waveform_stats through a genuine WAV
# parse; `multimodal_png_decode`/`multimodal_png_resize`/
# `multimodal_avi_frames` cover the batch kernel surface), and both
# kernels gained a dedicated pytest
# (tests/test_multimodal.py::test_blob_features_and_waveform_kernels).
# The freed slot went to `curation_end_to_end` — the composed
# six-stage curation pipeline is strictly more evidence than a
# stub-plumbing profile beside its codec twins.


# RETIRED round 9 (rotation budget): `multimodal_resize` — the byte-clip
# plumbing variant of the resize path. Its real-codec twin
# `multimodal_png_resize` (bit-exact box-filter resample through the
# stdlib PNG codec) remains registered and covers the same mapInPandas
# plumbing plus the codec itself; the byte-clip operator `resize_media`
# stays tested in pytest (tests/test_multimodal.py). The freed slot went
# to `graphrag_end_to_end` — a composed six-stage pipeline query is
# strictly more evidence than a plumbing variant beside its codec twin.


@register(
    "multimodal_png_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h,
         CAST(sum((d.doc_id + x.i + 7 * y.i + 13 * c.i) % 256) AS BIGINT) AS pixel_sum
  FROM dims d
  JOIN range(17) x(i) ON x.i < d.w
  JOIN range(14) y(i) ON y.i < d.h
  CROSS JOIN range(3) c(i)
  GROUP BY d.doc_id, d.w, d.h
)
SELECT concat('doc-', doc_id) AS blob_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(w * h * 3 AS BIGINT) AS n_pixels, pixel_sum
FROM px
""",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path, no stub: each document becomes a genuine
    PNG (stdlib encoder, scanline filters cycling through all five
    PNG filter types), then image_stats DECODES the bytes — chunk
    walk, CRC check, zlib inflate, filter reconstruction — and emits
    exact width/height/pixel statistics. Pixels follow the closed form
    (doc_id + x + 7y + 13c) % 256, so the oracle replays the expected
    stats in pure SQL: the query is green only if the decoder
    recovers every pixel of every image bit-exactly."""
    from graphragdatapipeline_spark.multimodal.blob import (
        image_stats,
        png_blob_table,
    )

    d = read_table(spark, sf_dir, "documents")
    return image_stats(png_blob_table(d))


@register(
    "multimodal_frame_sample",
    oracle="""
WITH vids AS (
  SELECT concat('doc-', doc_id) AS blob_id,
         CAST(length(text) AS BIGINT) * 10 AS duration_ms
  FROM documents
)
SELECT blob_id, CAST(unnest(range(0, greatest(duration_ms // 1000, 1))) AS BIGINT) AS frame_idx
FROM vids
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: blobs carry duration_ms metadata
    (synthesized here as 10ms/byte); one frame row per second of
    media. The explode is the real Spark shape — frame decode itself
    is the stubbed codec step."""
    from graphragdatapipeline_spark.multimodal.blob import frame_sample_stub

    d = read_table(spark, sf_dir, "documents")
    blobs = blob_table_from_documents(d).withColumn(
        "meta",
        F.struct(
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            (F.col("n_bytes") * 10).alias("duration_ms"),
            F.col("meta.codec").alias("codec"),
        ),
    )
    return frame_sample_stub(blobs, every_ms=1000)


@register(
    "source_cache_diff",
    oracle=with_ctes(
        [
            ("requested", "SELECT DISTINCT vec_id AS key FROM embeddings"),
            ("cache", """
  SELECT vec_id AS key, concat('cached:', vec_id) AS payload
  FROM embeddings WHERE vec_id % 2 = 0
"""),
            ("fetched", """
  SELECT r.key, concat('fetched:', r.key) AS payload
  FROM requested r WHERE NOT EXISTS (SELECT 1 FROM cache c WHERE c.key = r.key)
"""),
        ],
        """SELECT key, payload FROM cache
UNION ALL
SELECT key, payload FROM fetched""",
    ),
)
def source_cache_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8–S12 cache-first incremental fetch: pending keys = left-anti
    join vs the cache table; the fetch runs executor-side over misses
    only (mapInPandas kernel — here a deterministic fake); results
    union back into the cache (reference wikidata_helpers.py:229-246).
    The anti-join replaces a file-per-key cache dir — at 10^9 keys the
    reference's layout is 10^9 inodes; this is one shuffle."""
    from graphragdatapipeline_spark.sources.cache import incremental_fetch

    emb = read_table(spark, sf_dir, "embeddings")
    requested = emb.select(F.col("vec_id").alias("key"))
    cache = (
        emb.filter(F.col("vec_id") % 2 == 0)
        .select(
            F.col("vec_id").alias("key"),
            F.concat(F.lit("cached:"), F.col("vec_id")).alias("payload"),
        )
    )

    def fake_fetch(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"key": pdf["key"], "payload": "fetched:" + pdf["key"].astype(str)}
            )

    updated, _fetched = incremental_fetch(
        requested, cache, "key", fake_fetch, "key BIGINT, payload STRING"
    )
    return updated




@register(
    "multimodal_wav_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 50 + doc_id % 40 AS n FROM documents
), px AS (
  SELECT d.doc_id, d.n,
         CAST(sum((7 * d.doc_id + 13 * i.i) % 65536 - 32768) AS BIGINT) AS sample_sum,
         CAST(min((7 * d.doc_id + 13 * i.i) % 65536 - 32768) AS BIGINT) AS sample_min,
         CAST(max((7 * d.doc_id + 13 * i.i) % 65536 - 32768) AS BIGINT) AS sample_max
  FROM dims d JOIN range(90) i(i) ON i.i < d.n
  GROUP BY d.doc_id, d.n
)
SELECT concat('doc-', doc_id) AS blob_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       sample_sum, sample_min, sample_max
FROM px
""",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path, no stub — the WAV twin of
    multimodal_png_decode: each document becomes a genuine RIFF/WAVE
    container (stdlib encoder, mono PCM16), then audio_stats DECODES
    the bytes — container parse, frame extraction — and emits exact
    integer sample statistics. Samples follow the closed form
    (7k + 13i) % 65536 − 32768, so the oracle replays the expected
    stats in pure SQL: green only if every sample of every file
    decodes bit-exactly."""
    from graphragdatapipeline_spark.multimodal.blob import (
        audio_stats,
        wav_blob_table,
    )

    d = read_table(spark, sf_dir, "documents")
    return audio_stats(wav_blob_table(d))


@register(
    "multimodal_png_resize",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         (4 + doc_id % 13 + 1) // 2 AS w2,
         (3 + doc_id % 11 + 1) // 2 AS h2
  FROM documents
), px AS (
  SELECT d.doc_id, d.w2, d.h2,
         CAST(sum((d.doc_id + 2 * x.i + 14 * y.i + 13 * c.i) % 256) AS BIGINT) AS pixel_sum
  FROM dims d
  JOIN range(9) x(i) ON x.i < d.w2
  JOIN range(7) y(i) ON y.i < d.h2
  CROSS JOIN range(3) c(i)
  GROUP BY d.doc_id, d.w2, d.h2
)
SELECT concat('doc-', doc_id) AS blob_id,
       CAST(w2 AS BIGINT) AS width, CAST(h2 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(w2 * h2 * 3 AS BIGINT) AS n_pixels, pixel_sum
FROM px
""",
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image transform pipeline: decode every generated PNG,
    nearest-neighbor 2× downsample, re-encode, decode the RESIZED
    bytes and emit exact stats. Sampling every second pixel of the
    closed-form image gives resized pixel (y,x,c) =
    (k + 2x + 14y + 13c) % 256 with ceil-halved dims, which the oracle
    replays — bit-exact through decode → transform → encode → decode."""
    from graphragdatapipeline_spark.multimodal.blob import (
        image_resize_stats,
        png_blob_table,
    )

    d = read_table(spark, sf_dir, "documents")
    return image_resize_stats(png_blob_table(d))


@register(
    "multimodal_avi_frames",
    oracle="""
WITH dims AS (
  SELECT doc_id, 2 + doc_id % 4 AS nf, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
  FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, f.i AS frame_idx,
         CAST(sum((11 * d.doc_id + 17 * f.i + 7 * y.i + 3 * x.i + 5 * c.i) % 256)
              AS BIGINT) AS pixel_sum
  FROM dims d
  JOIN range(6) f(i) ON f.i < d.nf
  JOIN range(9) x(i) ON x.i < d.w
  JOIN range(5) y(i) ON y.i < d.h
  CROSS JOIN range(3) c(i)
  GROUP BY d.doc_id, d.w, d.h, f.i
)
SELECT concat('doc-', doc_id) AS blob_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(10 AS BIGINT) AS fps,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       pixel_sum
FROM px
""",
)
def multimodal_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame extraction, completing the modality set next to
    the PNG and WAV codecs (r7; the reference treats media as opaque
    blobs — this is the engine's north-star extension): each document
    becomes a genuine uncompressed RIFF/AVI container (encode_avi —
    'vids'/'DIB ' stream, bottom-up padded BGR DIB frames), then
    video_frame_stats DEMUXES the bytes — RIFF LIST walk, strh/strf
    parse, per-frame DIB pixel decode — and emits one row per frame
    with exact pixel statistics. Pixels follow the closed form
    (11k + 17f + 7y + 3x + 5c) % 256, so the oracle replays every
    frame of every video in pure SQL: green only if the demuxer
    recovers each frame bit-exactly."""
    from graphragdatapipeline_spark.multimodal.blob import (
        avi_blob_table,
        video_frame_stats,
    )

    d = read_table(spark, sf_dir, "documents")
    return video_frame_stats(avi_blob_table(d))
