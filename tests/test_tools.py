"""Import smoke for the measurement tools: tools/benchq.py and
tools/plandump.py must resolve bench.py's shared isolate/measure_runs
(one measurement loop), and importing them must not start Spark.
tools/diffcheck.py's row selection is checked without Spark."""

import importlib.util
import os

from pyspark import SparkContext

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name):
    spec = importlib.util.spec_from_file_location(
        f"{name}_under_test", os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tools_share_bench_measurement_loop():
    active = SparkContext._active_spark_context
    benchq = _load_tool("benchq")
    plandump = _load_tool("plandump")
    assert SparkContext._active_spark_context is active
    assert benchq.measure_runs is bench.measure_runs
    assert plandump.isolate is bench.isolate


def test_diffcheck_counts_only_selected_rows(monkeypatch, capsys):
    active = SparkContext._active_spark_context
    diffcheck = _load_tool("diffcheck")
    names = ["q01_pricing", "llm_bpe_train", "llm_kmeans_semdedup"]
    assert diffcheck.select(names, []) == names
    assert diffcheck.select(names, ["llm_"]) == names[1:]
    assert diffcheck.select(names, ["kmeans", "q01"]) == [
        "q01_pricing", "llm_kmeans_semdedup"]
    assert diffcheck.select(names, ["no_such_row"]) == []
    # a filter that selects nothing exits 1 before starting Spark
    monkeypatch.setattr(
        "sys.argv", ["diffcheck.py", "/nonexistent", "no_such_row"])
    assert diffcheck.main() == 1
    assert "no registry row matches" in capsys.readouterr().out
    assert SparkContext._active_spark_context is active
