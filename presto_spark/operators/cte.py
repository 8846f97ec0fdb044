"""Local-checkpoint lifecycle for iterative operators.

Iterative trainers (llm/dedup.py dedup_clusters, llm/bpe.py train_bpe)
localCheckpoint their per-round state to truncate lineage: round N's
plan must not replan rounds 1..N-1.  ``DataFrame.unpersist`` cannot
release local-checkpoint blocks, so the two helpers below record which
RDD block-sets a checkpoint pinned and free them once a later round
supersedes them.

Multi-reference CTE materialization (Presto's LogicalCteOptimizer.java,
PhysicalCteOptimizer.java) is not done here: a shared subtree is
planned once behind an exchange that AQE reuses for every consumer
(llm/dedup.py _shingle_table), so building a DataFrame runs no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_tracked(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """Eager localCheckpoint that reports which RDD block-sets it pinned.

    ``DataFrame.unpersist()`` cannot release local-checkpoint blocks (it
    only drops CacheManager plan entries), so iterative operators that
    checkpoint per round leak executor memory for the session lifetime
    unless the superseded RDDs are unpersisted explicitly.  We diff the
    SparkContext's persistent-RDD registry around the checkpoint and
    hand the new ids back; release them with :func:`release_checkpoints`
    once the next round's checkpoint supersedes this one.
    """
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    out = df.localCheckpoint(eager=True)
    new_ids = [i for i in jsc.getPersistentRDDs().keys() if i not in before]
    return out, new_ids


def release_checkpoints(spark, rdd_ids: list[int]) -> None:
    """Unpersist local-checkpoint blocks recorded by checkpoint_tracked."""
    live = spark.sparkContext._jsc.getPersistentRDDs()
    for i in rdd_ids:
        if i in live:
            live[i].unpersist()
