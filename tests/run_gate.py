"""Local mirror of the driver's correctness gate: run every queries()
entry at sf0.01 and diff against oracle_sql() via DuckDB (column-sorted,
order-insensitive, floats rounded to 6dp)."""

from __future__ import annotations

import os
import sys
import time

import duckdb

# the checkout this file lives in, so a second checkout gates its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from redistimeseries_spark import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    # the session shape the tests use (tests/conftest.py): SPARK_GRAFT_CPUS
    # wide (8 when unset), a 6g heap unless SPARK_GRAFT_DRIVER_MEM says
    # otherwise
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    spark = get_spark("gate", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            p = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"{name}: SPARK ERROR {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(p)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            o = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"{name}: ORACLE ERROR {exc}")
            failures.append(name)
            continue
        cols = sorted(p.columns)
        if sorted(o.columns) != cols:
            print(f"{name}: SCHEMA MISMATCH spark={cols} oracle={sorted(o.columns)}")
            failures.append(name)
            continue
        p2 = p[cols].sort_values(cols).reset_index(drop=True)
        o2 = o[cols].sort_values(cols).reset_index(drop=True)
        # STRICT: no dtype coercion, no extra rounding — mirrors a driver
        # that hashes values as-is; determinism must live in the queries.
        dt = {c: (str(p2[c].dtype), str(o2[c].dtype)) for c in cols
              if p2[c].dtype != o2[c].dtype}
        if dt:
            print(f"{name}: DTYPE MISMATCH {dt}")
            failures.append(name)
            continue
        if len(p2) != len(o2):
            print(f"{name}: ROWCOUNT {len(p2)} vs {len(o2)}")
            failures.append(name)
        elif not p2.equals(o2):
            neq = (p2 != o2) & ~(p2.isna() & o2.isna())
            bad = neq.any(axis=1)
            print(f"{name}: VALUE MISMATCH ({int(bad.sum())}/{len(p2)} rows)")
            print("spark:", p2[bad].head(3).to_dict("records"))
            print("oracle:", o2[bad].head(3).to_dict("records"))
            failures.append(name)
        else:
            print(f"{name}: OK ({len(p2)} rows) [{time.time()-t0:.1f}s]")
    print("\nFAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    # usage: run_gate.py [/path/to/sfdir] [query ...]
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and args[0].startswith("/"):
        sf, args = args[0], args[1:]
    sys.exit(main(sf_dir=sf, only=args or None))
