"""The benchmark's workloads: which registry rows run, in what order,
and with which engine settings.

A workload is a fixed list of engine registry rows
(``presto_spark.queries.REGISTRY``).  The cold pass runs them in list
order, so the row that pays the process's first-query costs is the same
in every run; each warm pass runs them in an order drawn from the
workload seed, so warm-up bias from run order averages out over passes
and seeds.
"""

from __future__ import annotations

import os
import random

# Pinned engine settings, recorded in every result.  On a 4-vCPU VM,
# local[2] matched local[4]'s warm wall time with ~20% less CPU.
TASK_SLOTS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "1g"  # initial and maximum driver heap

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Catalyst planning and JVM execution: scans, hash aggregates, a
    # 5-way join with broadcasts, a shuffled fact-fact
    # self-join, windows and the recursive-CTE job loop.  No Python
    # workers and no jobs at DataFrame-construction time.
    "relational": (
        "q01_pricing_summary",
        "q09_product_type_profit",
        "analytics_market_basket",
        "window_top_n_per_group",
        "recursive_tree_rollup",
    ),
    # DataFrame construction and the Arrow/pandas-UDF boundary: the
    # dedup builder's eager jobs and driver-local edge table, the
    # geometry hull's deep analysis and mapInPandas, and the BPE
    # trainer's driver-local loop and local_table result.
    "python_stage": (
        "llm_dedup_clusters",
        "geo_aggregate_hulls",
        "llm_bpe_train",
    ),
}


def pass_order(rows: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """Row order for one pass: list order for the cold pass (0), else a
    permutation fixed by ``(seed, pass_no)``."""
    order = list(rows)
    if pass_no > 0:
        random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order
