"""Complement sweep: every registry query NOT covered by the
relational/functions (test_relational.py), tpch (test_tpch.py), or llm
(test_llm.py) parametrized sweeps runs its oracle diff here.

This guarantees no registered query can fall outside pytest coverage —
the events/sketch/dml/dialect/window suites land here, and any future
suite with a new tag is swept automatically.
"""

import pytest

from presto_spark.queries import REGISTRY
from tests.conftest import SF_DIR, assert_same

_COVERED_ELSEWHERE = {"relational", "functions", "tpch", "llm"}

NAMES = [
    n for n, q in REGISTRY.items()
    if not (_COVERED_ELSEWHERE & set(q.tags))
]


def test_sweep_is_nonempty():
    # events/sketch/dml/dialect must be registered and uncovered elsewhere
    prefixes = {n.split("_")[0] for n in NAMES}
    assert {"event", "sketch", "dml", "presto"} <= prefixes, prefixes


# The full per-name oracle sweep is the heavy tier (VERDICT r15
# next-round #1) — tools/diffcheck.py covers the same ground on
# demand, and the driver runs its own 50-row oracle gate; the
# fast-gate guards below stay in the default run.
@pytest.mark.slow
@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, SF_DIR)
    if q.oracle is None:
        assert sdf.count() >= 0
    else:
        assert_same(sdf, duck, q.oracle)


def test_no_collection_columns_in_any_registry_output(spark):
    """Registry-wide rule: final projections serialize ARRAY/MAP columns
    (to_json / concat_ws) so the driver's pandas-sort canonicalizer never
    sees an unhashable list cell.  Mostly plan-only: the LSH near-dedup
    builders return lazy plans, and the rows that still run jobs while
    building (gate probes, iterative trainers) are pinned per row in
    tests/test_build_jobs.py."""
    from pyspark.sql.types import ArrayType, MapType

    offenders = []
    for name, q in REGISTRY.items():
        schema = q.spark(spark, SF_DIR).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders
