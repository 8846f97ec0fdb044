"""ENGINE_CONF is the one definition of the engine's semantic confs:
``get_spark`` builds with it and the driver entry point's
``_configure`` re-applies it to a driver-provided session."""

import importlib.util
import os

from presto_spark.session import ENGINE_CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _other(value: str) -> str:
    """A valid value for the same conf that differs from ``value``."""
    return {
        "true": "false",
        "false": "true",
        "UTC": "America/Los_Angeles",
        "LAST_WIN": "EXCEPTION",
    }.get(value) or str(int(value) // 2)


def test_get_spark_session_carries_engine_conf(spark):
    for k, v in ENGINE_CONF.items():
        assert spark.conf.get(k) == v, k


def test_configure_restores_engine_conf(spark):
    entry = _load_entry()
    for k, v in ENGINE_CONF.items():
        before = spark.conf.get(k)
        spark.conf.set(k, _other(v))
        try:
            assert spark.conf.get(k) != v, k
            entry._configure(spark)
            assert spark.conf.get(k) == v, k
        finally:
            spark.conf.set(k, before)
