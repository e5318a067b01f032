"""Result digests and the DuckDB oracles they are checked against.

A digest is order-insensitive and type-aware in the way the repo's
correctness driver is: columns are taken in name order, their types
normalized by ``tests/oracle_utils._arrow_norm`` (imported, so the type
rule has one copy), rows are sorted, and the whole is hashed. Two
results with the same digest would pass ``tests/oracle_utils.compare``.

Oracle digests are cached by (query, hash of the query's registered
oracle SQL, input content digest), so a changed oracle is run again
rather than checked against a stale answer. Oracles too slow to run on
every invocation have their digest committed in ``oracle_digests.json``;
the rest are computed on first use and kept in
``.cache/oracle_digests.json``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys
import time

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COMMITTED = os.path.join(HERE, "oracle_digests.json")
CACHE = os.path.join(HERE, ".cache", "oracle_digests.json")

if os.path.join(ROOT, "tests") not in sys.path:
    sys.path.append(os.path.join(ROOT, "tests"))
from oracle_utils import _arrow_norm  # noqa: E402


def _norm(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v)


def digest(t: pa.Table) -> str:
    names = sorted(t.column_names)
    h = hashlib.sha256()
    h.update("|".join(f"{n}:{_arrow_norm(t.schema.field(n).type)}" for n in names).encode())
    cols = [[_norm(v) for v in t.column(n).to_pylist()] for n in names]
    for row in sorted(zip(*cols)):
        h.update(b"\n" + "\x1f".join(row).encode())
    return f"{len(t)}:{h.hexdigest()[:32]}"


def duckdb_conn(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(os.environ.get('TMPDIR', data_dir), 'duckdb')}'")
    for name in sorted(os.listdir(data_dir)):
        glob = os.path.join(data_dir, name, "*.parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    return con


def _load(path: str) -> dict[str, str]:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


class Oracles:
    """Oracle digests for one generated input."""

    def __init__(self, data_dir: str, content_digest: str) -> None:
        self.data_dir = data_dir
        self.content = content_digest
        self.known = {**_load(CACHE), **_load(COMMITTED)}
        self.computed: dict[str, str] = {}
        self.seconds = 0.0
        self._con = None

    def key(self, query: str) -> str:
        from graphragdatapipeline_spark.registry import REGISTRY

        sql = hashlib.sha256(REGISTRY[query].oracle.encode()).hexdigest()[:16]
        return f"{query}:{sql}:{self.content}"

    def expected(self, query: str) -> str:
        k = self.key(query)
        if k not in self.known:
            from graphragdatapipeline_spark.registry import REGISTRY

            if self._con is None:
                self._con = duckdb_conn(self.data_dir)
            t0 = time.perf_counter()
            self.known[k] = digest(self._con.sql(REGISTRY[query].oracle).arrow())
            self.seconds += time.perf_counter() - t0
            self.computed[k] = self.known[k]
        return self.known[k]

    def save(self) -> None:
        if not self.computed:
            return
        os.makedirs(os.path.dirname(CACHE), exist_ok=True)
        cached = {**_load(CACHE), **self.computed}
        tmp = CACHE + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, CACHE)
