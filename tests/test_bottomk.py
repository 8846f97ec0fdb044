"""Parity pins for bottom_k_rank against the true reference: the naive
single window ``row_number().over(Window.partitionBy(*g).orderBy(*o))
<= limit``.

The two-level form must select the same rows with the same ranks for
every shape its callers use — a per-group Column limit, the global (no
group cols) shape, Spark's NaN-greatest float ordering and NULL keys
sorting first ascending — on inputs spread over several partitions, so
stage 1's per-partition window actually cuts groups.  Every order here
is total (a unique tiebreaker column), so the expected rows are exact.
"""

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from presto_spark.operators._bottomk import bottom_k_rank


def _collected(df):
    # repr-compare: NaN != NaN would fail tuple equality on identical rows
    return sorted([tuple(repr(x) for x in r) for r in df.collect()])


def _naive(df, group_cols, order_cols, limit, rank_col="__rk"):
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= limit)


def _assert_matches_naive(df, group_cols, order_cols, limit):
    got = bottom_k_rank(df, group_cols, order_cols, limit)
    want = _naive(df, group_cols, order_cols, limit)
    assert _collected(got) == _collected(want)
    return got


def test_bottom_k_rank_matches_single_window(spark):
    rows = [(g, i, (i * 7919 + ord(g) * 104729) % 1000003)
            for g in ("a", "b", "c") for i in range(500)]
    df = spark.createDataFrame(rows, "g string, i long, h long").repartition(7)
    got = _assert_matches_naive(df, ["g"], ["h"], 17)
    assert got.count() == 3 * 17


def test_bottom_k_rank_column_limit(spark):
    rows = [(g, i, (i * 7919 + g * 104729) % 1000003, g + 3)
            for g in (1, 2, 3) for i in range(300)]
    df = spark.createDataFrame(
        rows, "g long, i long, h long, k long").repartition(5)
    got = _assert_matches_naive(df, ["g"], ["h"], F.col("k"))
    assert got.count() == 4 + 5 + 6


def test_bottom_k_rank_global_no_groups(spark):
    rows = [(i, (i * 7919) % 1000003) for i in range(1000)]
    df = spark.createDataFrame(rows, "i long, h long").repartition(6)
    got = _assert_matches_naive(df, [], ["h"], 25)
    assert got.count() == 25


def test_bottom_k_rank_float_nan_orders_like_spark(spark):
    # NaN sorts GREATER than every value in Spark: with a limit smaller
    # than the non-NaN count no NaN row survives, and with a larger
    # limit NaN rows rank last.
    rows = ([("g", i, float(i)) for i in range(20)]
            + [("g", 100 + i, math.nan) for i in range(5)])
    df = spark.createDataFrame(rows, "g string, i long, v double").repartition(4)
    order = [F.col("v"), F.col("i")]
    got = _assert_matches_naive(df, ["g"], order, 22)
    assert sum(math.isnan(r.v) for r in got.collect()) == 2
    small = _assert_matches_naive(df, ["g"], order, 10)
    assert all(not math.isnan(r.v) for r in small.collect())


def test_bottom_k_rank_null_keys_sort_first(spark):
    # Ascending order puts NULL keys first (Spark's default NULLS
    # FIRST), so every NULL-keyed row outranks every valued one.
    rows = [("g", i, None if i % 9 == 0 else (i * 7919) % 1000003)
            for i in range(90)]
    df = spark.createDataFrame(rows, "g string, i long, h long").repartition(5)
    got = _assert_matches_naive(df, ["g"], [F.col("h"), F.col("i")], 12)
    assert sum(r.h is None for r in got.collect()) == 10


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bottom_k_rank_parquet_plan_stays_jvm(spark):
    """A parquet-backed input, like every real caller's, yields a
    pure-JVM plan — no Python node — with the naive window's rows."""
    from tests.conftest import SF_DIR

    df = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .select("o_orderstatus",
                  F.xxhash64("o_orderkey").alias("h")))
    got = _assert_matches_naive(df, ["o_orderstatus"], ["h"], 9)
    plan = _plan(got)
    assert "Python" not in plan and "MapInPandas" not in plan
