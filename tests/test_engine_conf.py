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


def test_new_session_carries_engine_conf(spark):
    """newSession copies the SparkConf get_spark built with, so a
    per-row session (tools/diffcheck.py) keeps the engine semantics."""
    s = spark.newSession()
    for k, v in ENGINE_CONF.items():
        assert s.conf.get(k) == v, k


def test_driver_memory_is_sized_from_the_host(tmp_path, monkeypatch):
    """The driver heap default is 3/8 of MemTotal, floored at 1g and
    capped at 48g; 48g when MemTotal cannot be read."""
    from presto_spark import session

    meminfo = tmp_path / "meminfo"
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))

    def sized(mem_total_kib: int) -> str:
        meminfo.write_text(f"MemTotal:       {mem_total_kib} kB\n"
                           "MemFree:        1024 kB\n")
        return session._driver_memory()

    assert sized(16 * 1024 * 1024) == "6144m"
    assert sized(1024 * 1024) == "1024m"
    assert sized(1024 * 1024 * 1024) == "49152m"
    meminfo.write_text("MemFree:        1024 kB\n")
    assert session._driver_memory() == "48g"
    meminfo.unlink()
    assert session._driver_memory() == "48g"
