from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from presto_spark.session import get_spark  # noqa: E402
from presto_spark.sources.catalog import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("presto_spark_tests", shuffle_partitions=8)
    yield s


def register_every_shim(spark):
    """Register the whole compat-shim table into ``spark``, for tests
    that call shims through raw ``spark.sql`` text."""
    from presto_spark.functions.registry import register_functions, shims

    return register_functions(spark, *(f"{name}()" for name in shims()))


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con


def normalize(rows, cols):
    """Column-name-sorted, order-insensitive canonical form (driver t2 shape)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())

    def canon(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            return "NaN" if v != v else f"{v:.10g}"
        if isinstance(v, (list, tuple)):
            return tuple(canon(x) for x in v)
        return v

    # repr-keyed sort: rows may mix None with values (ROLLUP null keys)
    return sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)


def assert_same(sdf, con, oracle_sql):
    """assertQuery equivalent (reference: presto-tests/.../QueryAssertions.java:132)."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle_sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), \
        f"columns: spark={scols} duck={dcols}"
    assert len(srows) == len(drows), f"rowcount: spark={len(srows)} duck={len(drows)}"
    sn = normalize(srows, scols)
    dn = normalize(drows, dcols)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        raise AssertionError(f"value mismatch, first diffs: {diffs}")
