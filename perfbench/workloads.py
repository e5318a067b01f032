"""The benchmark's workloads.

Each workload is closed-loop with one client: its operations (registry
queries, each collected to the driver as an Arrow table) run one after
another in one long-lived SparkSession. A pass is one run of every
operation; ``run.py`` times passes and checks every result against the
query's DuckDB oracle after the pass's clock has stopped.
"""

from __future__ import annotations

import os
import traceback
from dataclasses import dataclass

import inputs
from oracle import Oracles, digest


def _attempt(fn):
    """fn(), or None after printing the traceback if it raised."""
    try:
        return fn()
    except Exception:
        traceback.print_exc()
        return None


@dataclass
class Workload:
    """Registry queries over a seeded layout of a FACTOR× replica of
    the base fixture."""

    name: str
    queries: tuple[str, ...]
    factor: int
    files: int  # parquet files per table

    def generate(self, data: str, seed: int) -> dict:
        stage, cached = inputs.replicate(self.factor)
        return inputs.layout(stage, data, seed, self.files) | {"stage_cached": cached}

    def prepare(self, spark, data: str) -> None:
        """The set-up ``setup_s`` times after session start: list every
        table's files and read its footers."""
        from graphragdatapipeline_spark.io import read_table

        for t in sorted(os.listdir(data)):
            read_table(spark, data, t).count()

    def bind(self, spark, data: str, info: dict) -> None:
        """Fix the operations and their expected digests (oracles run
        here, before any timed pass)."""
        from graphragdatapipeline_spark.registry import REGISTRY

        oracles = Oracles(data, info["content_digest"])
        self._ops = [
            (
                f"registries.{q}",
                lambda q=q: REGISTRY[q].fn(spark, data).toArrow(),
                oracles.expected(q),
            )
            for q in self.queries
        ]
        oracles.save()
        info["oracle_s"] = oracles.seconds

    def run_pass(self, clock) -> list:
        """Run every operation once under ``clock``; returns the results
        (None for an operation that raised)."""
        got = []
        for name, run, _ in self._ops:
            with clock.step(name, span=name):
                got.append(_attempt(run))
        return got

    def failures(self, got: list) -> int:
        return sum(
            res is None or digest(res) != expected
            for res, (_, _, expected) in zip(got, self._ops)
        )


# The engine's layers, as span-name prefixes, and the stats reported
# for each. The traced functions of the last four layers only build lazy
# DataFrames: the Spark jobs that run their plans start at the registry
# query's collect and are counted in ``registries``, so only their calls
# and their driver-side planning time are their own. ``io`` runs
# file-listing jobs but never shuffles.
_S5 = ("calls", "jobs", "self_share", "slot_util", "shuffle_mb")
LAYERS = {
    "registries": _S5,
    "io": ("calls", "jobs", "self_share"),
    "graph": _S5,
    "operators.dedup": ("calls", "self_share"),
    "operators.curation": ("calls", "self_share"),
    "vector.similarity": ("calls", "self_share"),
    "streaming.ops": ("calls", "self_share"),
}


def layer_of(span: str) -> str:
    return max((l for l in LAYERS if span.startswith(l + ".")), key=len)


def _fns(layer: str, module: str, *names: str) -> dict[str, str]:
    return {f"{layer}.{n}": f"{module}:{n}" for n in names}


# Public layer functions a traced pass wraps in spans (span name →
# module:function under the engine package). The same set in every
# workload; a function a workload never calls records no span.
TRACED = (
    _fns("io", "io", "read_table")
    | _fns("graph", "graph.build", "build_tpch_graph")
    | _fns(
        "graph", "graph.algorithms",
        "pagerank", "connected_components", "label_propagation",
        "detect_communities", "louvain_multilevel",
    )
    | _fns("graph", "graph.entities", "resolve_entities")
    | _fns(
        "operators.dedup", "operators.dedup",
        "minhash_dedup_pairs", "minhash_signatures_rowwise", "lsh_bands",
        "lsh_candidate_pairs", "jaccard_pairs", "exact_dedup",
        "remove_duplicated_spans",
    )
    | _fns(
        "operators.curation", "operators.curation",
        "quality_classifier", "decontaminate", "pack_into_sequences",
    )
    | _fns(
        "vector.similarity", "vector.similarity",
        "cosine_topk", "kmeans_cells", "pq_train", "ivfpq_residual_topk",
    )
    | _fns("streaming.ops", "streaming.ops", "tumbling_window_agg")
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_20x",
            (
                "flagship_order_rollup",
                "join_multihop_revenue",
                "pricing_summary",
                "community_metadata_rollup",
                "dedup_minhash_lsh",
                "events_tumbling_window",
                "text_chunking",
                "vector_knn_bruteforce",
                "curation_pack_sequences",
            ),
            factor=20,
            files=8,
        ),
        Workload(
            "graph_loops",
            ("graph_pagerank", "graph_connected_components"),
            factor=1,
            files=4,
        ),
    )
}
