"""SparkSession factory tuned for the engine.

Presto's session/system properties (reference:
presto-main-base/src/main/java/com/facebook/presto/SystemSessionProperties.java:103
``join_distribution_type``, :109 ``hash_partition_count``, :156
``join_reordering_strategy``) map onto Spark SQL confs; we set the
scale-oriented defaults here once so every entry point (tests, bench,
driver) gets the same engine behavior.

Scale notes (targeting a 1000-executor cluster on ~100 TB even though we
test on local[32]):

* AQE on — runtime partition coalescing, skew-join splitting, and
  join-strategy switching replace Presto's cost-based
  ``DetermineJoinDistributionType`` (reference:
  presto-main-base/.../sql/planner/iterative/rule/DetermineJoinDistributionType.java:67)
  with runtime-observed sizes, which is strictly better at scale.
* ANSI mode OFF (Presto-like silent null on some ops is NOT Presto
  semantics — Presto throws on overflow — but ANSI-off matches Presto's
  permissive casts closer for the differential harness; revisit per-op).
* Session timezone UTC; parquet timestamps surface as TIMESTAMP_NTZ which
  matches Presto's zone-less TIMESTAMP semantics (reference:
  presto-common/.../type/TimestampType.java) and DuckDB's naive TIMESTAMP.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[...] parallelism: the driver exports SPARK_GRAFT_CPUS for bench.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

# Runtime-settable semantic confs: what a query means, and the Arrow
# batch shape its sketch envelopes were validated under.  ``get_spark``
# builds with them and ``__spark_entry__._configure`` re-applies them to
# a driver-provided session, so both execute under the same semantics.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos
    # timestamp, so read as BIGINT nanos and convert in the catalog
    # layer (sources/catalog.py) — DuckDB-truncation-compatible.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    # Presto map_concat/map_from_entries are last-wins on duplicate
    # keys (MapConcatFunction.java); Spark's default is EXCEPTION.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Spark 4 defaults ANSI ON, which turns element_at/cast overflows
    # into throws; this engine is validated non-ANSI (module docstring).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python-boundary batch sizing (guide §4.2): the 10k-row default
    # cuts the narrow rows our Arrow stages carry (sketch points,
    # shingle/minhash ids, lattice coords) into ~0.25 MB batches, so
    # per-batch overhead dominates any stage whose tasks see more
    # than 10k rows.  Size batches by BYTES instead: raise the
    # record cap and let Spark 4's byte cap bound the wide-row
    # stages (documents, multimodal binary payloads) at 64 MB.
    # Neither knob reads the core count.  Counterbalanced A/B at
    # sf0.1: the quantile-sketch level-1 (600k rows/task, the one
    # bench stage that actually exceeds the old cap) -15%,
    # reproduced in three load windows; the 5k-row document stages
    # are one batch per task either way and measure neutral
    # (OPTIMIZATION_r16.md third session).  Batch-local partial
    # operators (quantile coresets, partial hulls) compose exactly
    # under any batching; one batch size keeps sketch envelopes on
    # the exact values the engine was validated with.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
}


# Driver heap: in local mode the driver JVM runs every task, and the
# Python workers, Arrow buffers and off-heap memory need the rest of the
# host.  3/8 of MemTotal is the 6g that full test and differential
# runs have been verified with on a 16 GB host; floored at 1g, capped
# at the 48g this default used to be, and 48g when MemTotal is
# unreadable.  SPARK_GRAFT_DRIVER_MEM overrides it.
_MEMINFO = "/proc/meminfo"


def _driver_memory() -> str:
    try:
        with open(_MEMINFO, encoding="ascii") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return "48g"
    return f"{min(max(kib * 3 // 8 // 1024, 1024), 48 * 1024)}m"


def get_spark(
    app_name: str = "presto_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``shuffle_partitions`` defaults to 2x local cores — on a real cluster
    this would be sized to data volume (~128 MB per post-shuffle
    partition); AQE coalescing makes the static number a ceiling, not a
    target, so a generous default is safe at any scale.
    """
    cpus = str(cpus if cpus is not None else _DEFAULT_CPUS)
    n_cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = 2 * n_cores

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffledHashJoinFactor", "3")
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tune_for_input(spark: SparkSession, data_dir: str) -> int:
    """Size shuffle partitions to the input volume (~128 MB each).

    The rule a production job uses: partitions = input_bytes / 128 MB,
    floored at the core count (keep every core busy) and capped at 200k
    (far above any real fan-out; 100 TB → ~800k raw, capped).  AQE
    coalescing then adapts downward per stage at runtime — this sets
    the ceiling the right order of magnitude so tiny inputs don't pay
    64-task scheduling overhead and huge inputs don't OOM reducers.
    Presto's equivalent knob is hash_partition_count
    (SystemSessionProperties.java:109), set statically per cluster.
    """
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    cores = spark.sparkContext.defaultParallelism
    parts = max(cores, min(200_000, total // (128 * 1024 * 1024)))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return parts
