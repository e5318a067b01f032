"""Seeded benchmark inputs.

Every input is derived from the committed sf0.001 fixture in
``perfbench/base``: ``scripts/make_scale_fixture.py`` builds the
FACTOR× disjoint key-shifted replica (its ``main``, called as is;
replica 0 keeps the base keys, so literal keys the queries address,
such as the ``vec_id = 0`` query vector, still hit).

The seed decides the row-to-file layout of every table: a seeded
permutation of its rows, cut into ``files`` parquet files. The same
seed gives byte-identical files; another seed gives other files with
the same rows. ``digest`` hashes the files; ``content_digest`` hashes
the rows in canonical order and keys the oracle cache, so seeds share
oracle results.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(HERE, "base")
CACHE = os.path.join(HERE, ".cache")


def _scale_fixture():
    """``scripts/make_scale_fixture.py``, imported as a module."""
    if os.path.join(ROOT, "scripts") not in sys.path:
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import make_scale_fixture

    return make_scale_fixture


def replicate(factor: int) -> tuple[str, bool]:
    """FACTOR× key-shifted replica of the base fixture, one directory
    per table, by running make_scale_fixture's ``main``.

    The replica depends on no seed, so it is built once per checkout
    (keyed by the base files and the script) under ``.cache``; returns
    its directory and whether the cache already held it. ``main`` owns
    (and stops) its SparkSession; its progress lines go to stderr so
    this program's stdout stays clean."""
    msf = _scale_fixture()
    h = hashlib.sha256(f"{factor}".encode())
    for p in sorted(os.listdir(BASE)) + [msf.__file__]:
        with open(os.path.join(BASE, p), "rb") as f:
            h.update(f.read())
    cached = os.path.join(CACHE, f"stage-{factor}-{h.hexdigest()[:16]}")
    hit = os.path.isdir(cached)
    if not hit:
        tmp = f"{cached}.tmp{os.getpid()}"
        argv = sys.argv
        sys.argv = ["make_scale_fixture.py", BASE, tmp, str(factor), "uniform"]
        # one Spark thread per core rather than the script's default 32
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        try:
            with contextlib.redirect_stdout(sys.stderr):
                msf.main()
        finally:
            sys.argv = argv
        os.replace(tmp, cached)
    return cached, hit


def _sort_keys(t: pa.Table) -> list[tuple[str, str]]:
    return [
        (f.name, "ascending")
        for f in t.schema
        if not pa.types.is_nested(f.type)
    ]


def canonical(t: pa.Table) -> pa.Table:
    """Rows in a layout-independent order, without schema metadata."""
    t = t.replace_schema_metadata(None)
    return t.sort_by(_sort_keys(t)) if len(t) else t


def _read_dir(d: str) -> pa.Table:
    files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    )
    tables = [pq.read_table(f).replace_schema_metadata(None) for f in files]
    return pa.concat_tables(tables)


def _restore_types(name: str, t: pa.Table) -> pa.Table:
    """A Spark round trip reads the nanosecond ``events.ts`` as int64;
    put the fixture's type back so both engines see the same table."""
    if name == "events" and pa.types.is_integer(t.schema.field("ts").type):
        i = t.schema.get_field_index("ts")
        t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    return t


def layout(stage: str, out: str, seed: int, files: int) -> dict:
    """Write every staged table as ``files`` parquet files holding a
    seeded permutation of its rows. Returns row counts and digests."""
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}
    content = hashlib.sha256()
    for name in sorted(os.listdir(stage)):
        src = os.path.join(stage, name)
        if not os.path.isdir(src):
            continue
        t = canonical(_restore_types(name, _read_dir(src)))
        rows[name] = len(t)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        content.update(name.encode() + b"\0" + sink.getvalue().to_pybytes())
        t = t.take(rng.permutation(len(t)))
        n_files = max(1, min(files, len(t)))
        bounds = np.linspace(0, len(t), n_files + 1).astype(int)
        dst = os.path.join(out, name)
        os.makedirs(dst)
        for i in range(n_files):
            part = t.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(dst, f"part-{i:05d}.parquet"))
    return {
        "rows": rows,
        "digest": file_digest(out),
        "content_digest": content.hexdigest(),
    }


def file_digest(d: str) -> str:
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for r, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            p = os.path.join(r, f)
            h.update(os.path.relpath(p, d).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
