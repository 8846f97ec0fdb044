"""Construction runs no Spark job: building a registry row's DataFrame
plans it, and only ``collect()`` executes it (Presto plans first and
executes when asked).

Each row is built under its own job group and the jobs the status
store records for that group are counted.  The LSH near-dedup rows and
the two recall-envelope rows build with 0 jobs.  The two trainers keep
the jobs of their bounded LIMIT n+1 collect: llm_dedup_clusters
collects the edge list (executing the lazy pair plan) for union-find,
llm_bpe_train collects the (word, count) vocabulary for the merge loop.
"""

from __future__ import annotations

import uuid

import pytest

from presto_spark.queries import REGISTRY
from presto_spark.queries.base import prepare
from tests.conftest import SF_DIR

BUILD_JOBS = {
    "llm_lsh_near_dedup": 0,
    "llm_cross_near_dedup": 0,
    "llm_embedding_near_dup_lsh": 0,
    "llm_ann_lsh_recall": 0,
    "llm_dedup_clusters": 4,
    "llm_bpe_train": 2,
}


def _build_jobs(spark, name: str) -> int:
    sc = spark.sparkContext
    group = f"build-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        REGISTRY[name].spark(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_row_construction_job_count(spark, name):
    prepare(spark, SF_DIR)  # table registration is not the row's build
    assert _build_jobs(spark, name) == BUILD_JOBS[name]
