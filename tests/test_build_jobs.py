"""Construction runs no Spark job: building a registry row's DataFrame
plans it, and only ``collect()`` executes it (Presto plans first and
executes when asked).

Each row is built under its own job group and the jobs the status
store records for that group are counted.  The LSH near-dedup rows,
the two recall-envelope rows and corpus_product_golden (which restores
the nation/region views its fixtures shadow from the DataFrames it
kept, without re-reading parquet) build with 0 jobs.  The three
trainers keep the jobs of their bounded LIMIT n+1 collect:
llm_dedup_clusters collects the edge list (executing the lazy pair
plan) for union-find, llm_bpe_train collects the (word, count)
vocabulary for the merge loop, and llm_kmeans_semdedup collects the
(id, vector, init key) rows for the Lloyd loop.  Two kinds of row
execute by nature: dml_cow_roundtrip writes and rewrites its parquet
table (create, delete, update), and each event_stream row reads the
events parquet schema for its file-stream source (one job) before it
runs its streaming query, whose batches run under the stream's own
job group.
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
    "llm_kmeans_semdedup": 1,
    "corpus_product_golden": 0,
    "dml_cow_roundtrip": 6,
    "event_stream_stateful_stats": 1,
    "event_stream_interval_join": 1,
    "event_stream_dedup": 1,
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
