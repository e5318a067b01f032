"""The engine session compiles each generated class once.

Spark caches whole-stage-codegen classes in a JVM-wide LRU whose size is
``spark.sql.codegen.cache.maxEntries`` (100 by default). The registry
queries run one after another in one session, in a cycle over more
classes than that, and a cycle longer than an LRU misses on every
access: every pass compiles every class again. ``session._DEFAULTS``
sizes the cache to the engine's working set.

This file sorts first among the test files, so the session's cache is
close to empty when it runs and the first pass's compiles are the query
set's working set.
"""

from __future__ import annotations

from graphragdatapipeline_spark.__main__ import _codegen
from graphragdatapipeline_spark.registry import REGISTRY

# perfbench's etl_20x query set
ETL_20X = (
    "flagship_order_rollup",
    "join_multihop_revenue",
    "pricing_summary",
    "community_metadata_rollup",
    "dedup_minhash_lsh",
    "events_tumbling_window",
    "text_chunking",
    "vector_knn_bruteforce",
    "curation_pack_sequences",
)


def test_second_pass_reuses_generated_classes(spark, sf_dir):
    compiled = []
    for _ in range(2):
        before = _codegen(spark._jvm)[0]
        for name in ETL_20X:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled.append(_codegen(spark._jvm)[0] - before)
    # the working set outgrows Spark's default 100 entries, so a session
    # at the default would recompile all of it on the second pass
    assert compiled[0] > 100, compiled
    assert compiled[1] < 0.1 * compiled[0], compiled
