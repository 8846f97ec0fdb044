"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real content lives in ``presto_spark/queries/`` — this module only
adapts the registry to the driver's contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from presto_spark.queries import REGISTRY  # noqa: E402
from presto_spark.session import ENGINE_CONF, tune_for_input  # noqa: E402


def _configure(spark: SparkSession, sf_dir: str | None = None) -> SparkSession:
    """Apply the engine's semantic confs (``presto_spark.session.ENGINE_CONF``)
    to a driver-provided session, so it executes under the same
    cast/overflow/NULL semantics the engine was validated under, then
    size shuffle partitions to the input when ``sf_dir`` is given."""
    for k, v in ENGINE_CONF.items():
        spark.conf.set(k, v)
    if sf_dir is not None:
        tune_for_input(spark, sf_dir)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    _configure(spark)
    return REGISTRY["q01_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, q in REGISTRY.items():
        def make(qq):
            def run(spark: SparkSession, sf_dir: str) -> DataFrame:
                _configure(spark, sf_dir)
                return qq.spark(spark, sf_dir)
            return run
        out[name] = make(q)
    return out


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
