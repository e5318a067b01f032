"""Driver-contract oracle check: a vanilla local[8] session (none of the
engine's confs) hash-compares registry queries against their DuckDB
oracles.

Usage: python scripts/driver_sim.py [--sf DIR] [NAME ...]

With no NAME it replays the driver: the entry() smoke check, then every
queries()[name] against oracle_sql()[name]. With names it checks those
registry queries. --sf sets the fixture (default sf0.01).
Prints TOTAL_MISMATCHES: N and exits 1 if N > 0; an unknown name exits 2.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO); sys.path.insert(0, os.path.join(REPO, "tests"))
from pyspark.sql import SparkSession

def main(argv=None):
    args = sys.argv[1:] if argv is None else list(argv)
    sf_dir = "/root/testdata/sf0.01"
    if args[:1] == ["--sf"]:
        sf_dir, args = args[1], args[2:]
    import __spark_entry__ as e
    from graphragdatapipeline_spark.registry import REGISTRY
    from oracle_utils import compare, duckdb_conn
    unknown = [n for n in args if n not in REGISTRY]
    if unknown:
        print(f"unknown query: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = (SparkSession.builder.master("local[8]").appName("driver-sim")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if args:
        checks = [(n, REGISTRY[n].fn, REGISTRY[n].oracle) for n in args]
    else:
        assert len(e.entry(spark).collect()) > 0
        osql = e.oracle_sql()
        checks = [(n, fn, osql[n]) for n, fn in sorted(e.queries().items())]
    con = duckdb_conn(sf_dir)
    bad = 0
    for name, fn, oracle in checks:
        p = compare(fn(spark, sf_dir), con.sql(oracle))
        if p:
            bad += 1
            print(f"{name}: MISMATCH {p[:3]}", flush=True)
        else:
            print(f"{name}: OK", flush=True)
    print("TOTAL_MISMATCHES:", bad, flush=True)
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main())
