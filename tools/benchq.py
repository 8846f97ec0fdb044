"""Time a subset of bench rows with bench.py's exact protocol.

Usage: python tools/benchq.py [name-substr ...]

Per query: bench.py's own measure_runs (prewarm -> (isolate, time
collect()) x3 -> isolate) and its median, so numbers are directly
comparable to BENCH_r*.json.
Reads $SPARK_GRAFT_SF_DIR (default sf0.1).  Prints one line per query.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import measure_runs  # noqa: E402
from presto_spark.queries import REGISTRY  # noqa: E402
from presto_spark.session import get_spark, tune_for_input  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    substrs = sys.argv[1:]
    # Cooldown gate, same as bench.py: a benchq launched while the
    # previous 32-core session's load is still decaying measures the
    # machine, not the code (r16: observed 2x swings on Python-stage
    # rows from back-to-back A/Bs).
    cooldown = float(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN", "600"))
    waited = 0.0
    while os.getloadavg()[0] >= 1.0 and waited < cooldown:
        time.sleep(10.0)
        waited += 10.0
    spark = get_spark("benchq")
    tune_for_input(spark, sf_dir)
    names = [n for n, q in REGISTRY.items() if "bench" in q.tags]
    if substrs:
        names = [n for n in names if any(s in n for s in substrs)]

    spark.range(1).collect()
    for name in names:
        spark.sparkContext.setJobDescription(name)
        runs = measure_runs(spark, name, sf_dir)
        print(f"{name}: {sorted(runs)[1]:.3f}  (runs: "
              + ", ".join(f"{r:.3f}" for r in runs) + ")", flush=True)


if __name__ == "__main__":
    main()
