"""Dump .explain("formatted") for bench-tagged registry rows.

Usage:
    python tools/plandump.py <sf_dir> <out_dir> <suffix> [name-substr ...]

Writes <out_dir>/<name>_<suffix>.txt for each matching bench row, plus a
one-line-per-query summary (Exchange count, join strategies, Python eval
nodes) to stdout — the measurement companion the optimization guide (§1,
§7.2) asks for before and after every change.
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import isolate  # noqa: E402
from presto_spark.queries import REGISTRY  # noqa: E402
from presto_spark.session import get_spark, tune_for_input  # noqa: E402


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def summarize(plan: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", plan))
    joins = sorted(set(re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b", plan)))
    py = sorted(set(re.findall(
        r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
        r"FlatMapGroupsInPandas|AggregateInPandas)\b", plan)))
    return (f"exchanges={n_ex} joins={','.join(joins) or '-'} "
            f"python={','.join(py) or '-'}")


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    substrs = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plandump")
    tune_for_input(spark, sf_dir)
    names = [n for n, q in REGISTRY.items() if "bench" in q.tags]
    if substrs:
        names = [n for n in names if any(s in n for s in substrs)]
    for name in names:
        try:
            df = REGISTRY[name].spark(spark, sf_dir)
            plan = plan_text(df)
        except Exception as e:  # pragma: no cover - diagnostic tool
            print(f"ERR {name}: {e}")
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"{name}: {summarize(plan)}")
        isolate(spark)


if __name__ == "__main__":
    main()
