"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests run every workload end to end, untraced and traced, and
take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import counters  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402


def _stage(tmp_path) -> str:
    """The base fixture as a stage: one directory per table."""
    stage = tmp_path / "stage"
    for f in os.listdir(inputs.BASE):
        d = stage / f.removesuffix(".parquet")
        d.mkdir(parents=True)
        shutil.copy(os.path.join(inputs.BASE, f), d / "part-0.parquet")
    return str(stage)


def test_layout_is_deterministic_per_seed(tmp_path):
    stage = _stage(tmp_path)
    a = inputs.layout(stage, str(tmp_path / "a"), seed=3, files=4)
    b = inputs.layout(stage, str(tmp_path / "b"), seed=3, files=4)
    c = inputs.layout(stage, str(tmp_path / "c"), seed=4, files=4)
    assert a == b
    assert inputs.file_digest(str(tmp_path / "a")) == inputs.file_digest(str(tmp_path / "b"))
    assert c["digest"] != a["digest"]
    assert c["rows"] == a["rows"]
    # only the layout moved: same rows, so the oracle cache key holds
    assert c["content_digest"] == a["content_digest"]
    first = pq.read_table(tmp_path / "a" / "lineitem" / "part-00000.parquet")
    other = pq.read_table(tmp_path / "c" / "lineitem" / "part-00000.parquet")
    assert first.num_rows == other.num_rows and not first.equals(other)


def test_layout_keeps_literal_keys(tmp_path):
    data = tmp_path / "data"
    inputs.layout(_stage(tmp_path), str(data), seed=9, files=4)
    ids = pq.read_table(data / "embeddings").column("vec_id").to_pylist()
    assert 0 in ids


def test_digest_ignores_row_order_and_int_width():
    t = pa.table({"k": pa.array([2, 1], pa.int32()), "v": ["b", "a"]})
    u = pa.table({"v": ["a", "b"], "k": pa.array([1, 2], pa.int64())})
    assert oracle.digest(t) == oracle.digest(u)
    w = pa.table({"v": ["a", "b"], "k": pa.array([1.0, 2.0])})
    assert oracle.digest(w) != oracle.digest(u)


def test_oracle_key_follows_oracle_sql(monkeypatch):
    import dataclasses

    from graphragdatapipeline_spark.registry import REGISTRY

    o = oracle.Oracles("unused", "content")
    before = o.key("pricing_summary")
    q = REGISTRY["pricing_summary"]
    monkeypatch.setitem(
        REGISTRY, "pricing_summary", dataclasses.replace(q, oracle=q.oracle + "\n")
    )
    assert o.key("pricing_summary") != before


def test_committed_digests_match_registered_oracles():
    with open(oracle.COMMITTED) as f:
        keys = json.load(f)
    for k in keys:
        query, _, content = k.split(":")
        assert oracle.Oracles("unused", content).key(query) == k, (
            f"{query}'s oracle changed: regenerate its committed digest"
        )


def test_driver_gap_is_wall_minus_job_union():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    assert counters.driver_gap_s(jobs, 0.0, 10.0) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert counters.driver_gap_s([], 0.0, 2.0) == 2.0


class _FakeCounters:
    """Counters that advance one job per snapshot."""

    def __init__(self) -> None:
        self.n = 0

    def snapshot(self) -> dict:
        self.n += 1
        return {k: self.n for k in counters.FIELDS}


def test_self_stats_subtract_child_spans():
    tr = spans.Tracer(_FakeCounters())
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    by = {s["name"]: s for s in tr.self_stats()}
    outer = next(s for s in tr.spans if s.name == "outer")
    inner = next(s for s in tr.spans if s.name == "inner")
    assert inner.parent == outer.id
    assert by["outer"]["self_s"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start)
    )
    # outer saw snapshots 1 and 4, inner 2 and 3
    assert by["inner"]["jobs"] == 1 and by["outer"]["jobs"] == 3 - 1


def test_patch_restores_every_reference():
    import graphragdatapipeline_spark.registry  # noqa: F401  (binds read_table everywhere)
    from graphragdatapipeline_spark import io
    from graphragdatapipeline_spark.registries import curation_queries

    orig = io.read_table
    tr = spans.Tracer(_FakeCounters())
    with tr.patch({"io.read_table": "io:read_table"}):
        assert io.read_table is not orig
        assert curation_queries.read_table is io.read_table
    assert io.read_table is orig and curation_queries.read_table is orig


@pytest.fixture(scope="module")
def spark():
    import run

    run._env(os.path.join(BENCH, ".work", "pytest"))
    s = run._session()
    yield s
    run._shutdown(s)
    shutil.rmtree(os.path.join(BENCH, ".work", "pytest"), ignore_errors=True)


def test_counter_deltas_on_pricing_summary(spark):
    from graphragdatapipeline_spark.registry import REGISTRY

    c = counters.StatusCounters(spark)
    q = REGISTRY["pricing_summary"].fn
    q(spark, inputs.BASE).write.format("noop").mode("overwrite").save()  # warm
    before, j0 = c.snapshot(), len(c.job_times)
    q(spark, inputs.BASE).write.format("noop").mode("overwrite").save()
    d = counters.delta(c.snapshot(), before)
    assert d["jobs"] == 3
    assert len(c.job_times) - j0 == 3
    assert d["stages"] >= d["jobs"]
    assert d["tasks"] > 0 and d["executor_ms"] > 0
    assert d["input_rows"] >= 6000  # lineitem at sf0.001
    assert d["shuffle_write"] > 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_every_workload(workload):
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, seed=1, trace=trace)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
