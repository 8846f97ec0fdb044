"""Local differential harness — replicates the driver's t2 protocol.

Runs every Query in the registry on Spark and on DuckDB over the same
parquet tables and compares row count, column names, and an
order-insensitive value hash (floats rounded to 9 significant-ish
decimals to absorb representation noise in printing, not in value).

Each row builds on its own ``spark.newSession()``, so a row that needs a
compat shim some earlier row registered fails instead of passing by
accident.  A new session shares the SparkContext and copies its
SparkConf, which is where ``get_spark`` puts ``ENGINE_CONF``.

Usage:  python tools/diffcheck.py [sf_dir] [name_substring...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from presto_spark.queries import REGISTRY
from presto_spark.session import get_spark
from presto_spark.sources.catalog import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(rows: list[tuple], cols: list[str]):
    """Sort columns by name, canonicalize values, return sorted tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            if v != v:
                return "NaN"
            return f"{v:.10g}"
        if isinstance(v, (list, tuple)):
            return tuple(canon(x) for x in v)
        return v

    # repr-keyed sort: rows may mix None with values (ROLLUP null keys)
    return sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    patterns = sys.argv[2:]
    spark = get_spark("diffcheck")
    con = duck_connect(sf_dir)

    failures = []
    for name, q in REGISTRY.items():
        if patterns and not any(p in name for p in patterns):
            continue
        t0 = time.time()
        try:
            sdf = q.spark(spark.newSession(), sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: SPARK ERROR {type(e).__name__}: {str(e)[:500]}")
            continue
        if q.oracle is None:
            print(f"ok(rows-only) {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(q.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: DUCK ERROR {type(e).__name__}: {str(e)[:500]}")
            continue
        problems = []
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sn = normalize(srows, [c.lower() for c in scols])
            dn = normalize(drows, [c.lower() for c in dcols])
            if sn != dn:
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")

    print(f"\n{len(REGISTRY) - len(failures)}/{len(REGISTRY)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
