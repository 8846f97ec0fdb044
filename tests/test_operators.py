"""Unit tests for operator builders (operators/ package).

Mirrors the reference's per-operator unit tests
(presto-main-base/src/test/.../operator/Test*Operator.java) with small
hand-constructed DataFrames.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_spark.operators import aggregates as A
from presto_spark.operators import relational as R


def test_map_agg(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "z", 3)], "g string, k string, v int"
    )
    rows = {r.g: r.m for r in df.groupBy("g").agg(A.map_agg(F.col("k"), F.col("v")).alias("m")).collect()}
    assert rows == {"a": {"x": 1, "y": 2}, "b": {"z": 3}}


def test_multimap_agg(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "x", 2), ("a", "y", 3)], "g string, k string, v int"
    )
    rows = {r.g: r.m for r in df.groupBy("g").agg(A.multimap_agg(F.col("k"), F.col("v")).alias("m")).collect()}
    assert rows["a"]["x"] == [1, 2]
    assert rows["a"]["y"] == [3]


def test_histogram(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (1, "b")], "g int, v string")
    (row,) = df.groupBy("g").agg(A.histogram(F.col("v")).alias("h")).collect()
    assert row.h == {"a": 2, "b": 1}


def test_array_agg_ordered(spark):
    df = spark.createDataFrame(
        [(1, "c", 3), (1, "a", 1), (1, "b", 2)], "g int, v string, o int"
    )
    (row,) = (
        df.groupBy("g")
        .agg(A.array_agg_ordered(F.col("v"), F.col("o")).alias("a"))
        .collect()
    )
    assert row.a == ["a", "b", "c"]


def test_min_n_max_n(spark):
    df = spark.createDataFrame([(1, v) for v in [5, 3, 9, 1, 7]], "g int, v int")
    (row,) = (
        df.groupBy("g")
        .agg(A.max_n(F.col("v"), 2).alias("mx"), A.min_n(F.col("v"), 2).alias("mn"))
        .collect()
    )
    assert row.mx == [9, 7]
    assert row.mn == [1, 3]


def test_checksum_order_insensitive(spark):
    df1 = spark.createDataFrame([(1, "a"), (1, "b")], "g int, v string")
    df2 = spark.createDataFrame([(1, "b"), (1, "a")], "g int, v string")
    c1 = df1.groupBy("g").agg(A.checksum(F.col("v")).alias("c")).collect()[0].c
    c2 = df2.groupBy("g").agg(A.checksum(F.col("v")).alias("c")).collect()[0].c
    assert c1 == c2


def test_geometric_mean(spark):
    df = spark.createDataFrame([(1, 2.0), (1, 8.0)], "g int, v double")
    (row,) = df.groupBy("g").agg(A.geometric_mean(F.col("v")).alias("gm")).collect()
    assert abs(row.gm - 4.0) < 1e-9


def test_reduce_agg(spark):
    df = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "g int, v int")
    (row,) = (
        df.groupBy("g")
        .agg(A.reduce_agg(F.col("v"), 1, lambda acc, x: acc * x).alias("prod"))
        .collect()
    )
    assert row.prod == 24


def test_top_n_plan_is_take_ordered(spark):
    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    plan = R.top_n(df, 5, F.col("v").desc())._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_grouped_top_n(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 9)], "k string, v int"
    )
    out = R.grouped_top_n(df, ["k"], 2, F.col("v").desc()).collect()
    got = {}
    for r in out:
        got.setdefault(r.k, []).append(r.v)
    assert sorted(got["a"]) == [2, 3]
    assert got["b"] == [9]


def test_unnest_with_ordinality(spark):
    df = spark.createDataFrame([(1, ["x", "y"])], "id int, arr array<string>")
    rows = R.unnest(df, "arr", "e", with_ordinality=True).orderBy("ordinality").collect()
    assert [(r.e, r.ordinality) for r in rows] == [("x", 1), ("y", 2)]


def test_mark_distinct(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    out = R.mark_distinct(df, ["k"]).collect()
    flags = sorted((r.k, r.is_distinct) for r in out)
    assert flags == [(1, False), (1, True), (2, True)]


def test_assign_unique_id_is_unique(spark):
    df = spark.range(100).repartition(8)
    out = R.assign_unique_id(df).select("unique_id").collect()
    ids = [r.unique_id for r in out]
    assert len(set(ids)) == len(ids)


def test_groups_frame_ties_counted_as_one_group(spark):
    """Rows tying on the order key form one peer group — a GROUPS frame
    of 1 PRECEDING spans the whole previous tie-group, however many
    rows it has (the semantics ROWS frames cannot express)."""
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20), ("a", 2, 30), ("a", 3, 40)],
        "k string, o int, v int",
    )
    out = R.groups_frame(
        df, ["k"], "o", n_preceding=1, n_following=0, aggs={"s": F.sum("v")}
    )
    got = {(r.o, r.v): r.s for r in out.collect()}
    # o=2: its group (30) + full previous tie-group (10+20) = 60
    assert got[(2, 30)] == 60
    # o=3: 40 + 30 = 70 (only one row in the o=2 group)
    assert got[(3, 40)] == 70
    # o=1 rows: no preceding group → just the tie-group sum 30
    assert got[(1, 10)] == 30 and got[(1, 20)] == 30


def test_groups_frame_translate_matches_operator(spark):
    """The dialect-layer GROUPS rewrite (dialect.py
    _rewrite_groups_frames) must produce the same peer-group frames as
    the operator form, pinned against hand-computed expectations on a
    tied-key fixture (where GROUPS differs from ROWS)."""
    from presto_spark.functions.dialect import translate

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 1, 2.0), ("a", 2, 4.0), ("a", 5, 8.0),
         ("b", 1, 10.0)],
        "k string, o int, v double",
    )
    df.createOrReplaceTempView("groups_fixture")
    sql = (
        "SELECT k, o, v, sum(v) OVER (PARTITION BY k ORDER BY o "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
        "FROM groups_fixture ORDER BY k, o, v"
    )
    got = [(r.k, r.o, r.v, r.s)
           for r in spark.sql(translate(sql)).collect()]
    # o=1 peers share the frame (3.0 for BOTH tied rows — ROWS would
    # give 1.0/3.0); o=2 adds the whole previous tie-group; o=5 is
    # group-adjacent to o=2 regardless of the value gap.
    assert got == [("a", 1, 1.0, 3.0), ("a", 1, 2.0, 3.0),
                   ("a", 2, 4.0, 7.0), ("a", 5, 8.0, 12.0),
                   ("b", 1, 10.0, 10.0)]
    op = R.groups_frame(
        df, ["k"], "o", n_preceding=1, n_following=0,
        aggs={"s": F.sum("v")},
    ).orderBy("k", "o", "v").collect()
    assert [(r.k, r.o, r.v, r.s) for r in op] == got


def test_set_agg(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, "b"), (2, "c")], "g int, v string"
    )
    rows = {r.g: r.s for r in
            df.groupBy("g").agg(A.set_agg(F.col("v")).alias("s")).collect()}
    assert rows == {1: ["a", "b"], 2: ["c"]}


def test_map_union(spark):
    df = spark.createDataFrame(
        [(1, {"a": 1}), (1, {"b": 2}), (2, {"c": 3})],
        "g int, m map<string,int>",
    )
    rows = {r.g: r.u for r in
            df.groupBy("g").agg(A.map_union(F.col("m")).alias("u")).collect()}
    assert rows == {1: {"a": 1, "b": 2}, 2: {"c": 3}}


def test_entropy(spark):
    # uniform over 4 outcomes -> 2 bits; zero counts ignored
    df = spark.createDataFrame(
        [(1, 5), (1, 5), (1, 5), (1, 5), (1, 0)], "g int, c int"
    )
    (row,) = df.groupBy("g").agg(A.entropy(F.col("c")).alias("h")).collect()
    assert abs(row.h - 2.0) < 1e-9


# ---- as-of join (operators/asof.py — custom operator, union-marker) ----

def _asof_fixtures(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1, 10, 0)), (2, "u", dt(2024, 1, 1, 12, 0)),
         (3, "u", dt(2024, 1, 1, 9, 0)), (4, "v", dt(2024, 1, 1, 11, 0))],
        "id int, k string, ts timestamp_ntz")
    right = spark.createDataFrame(
        [("u", dt(2024, 1, 1, 9, 30), 1.0), ("u", dt(2024, 1, 1, 10, 0), 2.0),
         ("u", dt(2024, 1, 1, 11, 30), 3.0)],
        "k string, ts timestamp_ntz, state double")
    return left, right


def test_asof_backward_inclusive_ties(spark):
    from presto_spark.operators.asof import asof_join

    left, right = _asof_fixtures(spark)
    out = {r.id: r.state for r in asof_join(
        left, right, "ts", ("k",), ("state",)).collect()}
    # id=1 at 10:00 ties the 10:00 right row → inclusive match (2.0);
    # id=3 precedes all right rows → NULL; key v has no right rows.
    assert out == {1: 2.0, 2: 3.0, 3: None, 4: None}


def test_asof_forward_and_tolerance(spark):
    from presto_spark.operators.asof import asof_join

    left, right = _asof_fixtures(spark)
    out = {r.id: r.state for r in asof_join(
        left, right, "ts", ("k",), ("state",), direction="forward").collect()}
    # forward: earliest right at-or-after each left row
    assert out == {1: 2.0, 2: None, 3: 1.0, 4: None}
    out = {r.id: r.state for r in asof_join(
        left, right, "ts", ("k",), ("state",),
        tolerance_seconds=35 * 60).collect()}
    # id=2 last error was 11:30 (30 min gap → in tolerance);
    # widen check: id=1 exact tie (0 gap) stays.
    assert out == {1: 2.0, 2: 3.0, 3: None, 4: None}
    out = {r.id: r.state for r in asof_join(
        left, right, "ts", ("k",), ("state",),
        tolerance_seconds=10 * 60).collect()}
    assert out == {1: 2.0, 2: None, 3: None, 4: None}


def test_asof_null_payload_carries_matched_row(spark):
    from datetime import datetime as dt

    from presto_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1, 12, 0))],
        "id int, k string, ts timestamp_ntz")
    right = spark.createDataFrame(
        [("u", dt(2024, 1, 1, 9, 30), 1.0, "old"),
         ("u", dt(2024, 1, 1, 11, 0), None, "new")],
        "k string, ts timestamp_ntz, state double, tag string")
    row = asof_join(left, right, "ts", ("k",), ("state", "tag")).collect()[0]
    # The matched right row (11:00) has a legitimately-NULL state:
    # merge_asof semantics return that NULL — NOT the older row's 1.0 —
    # and tag proves all value columns come from the same (11:00) row.
    assert row.tag == "new"
    assert row.state is None


def test_asof_rejects_colliding_value_cols(spark):
    import pytest as _pytest
    from presto_spark.operators.asof import asof_join

    left, right = _asof_fixtures(spark)
    with _pytest.raises(ValueError):
        asof_join(left, right.withColumnRenamed("state", "id"),
                  "ts", ("k",), ("id",))


# ---- binned range join (operators/range_join.py) ----

def _range_fixtures(spark):
    from datetime import datetime as dt

    pts = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1, 10, 15)), (2, "u", dt(2024, 1, 1, 13, 0)),
         (3, "v", dt(2024, 1, 1, 10, 15)), (4, "u", dt(2024, 1, 1, 9, 0))],
        "id int, k string, ts timestamp_ntz")
    ivs = spark.createDataFrame(
        [(100, "u", dt(2024, 1, 1, 10, 0), dt(2024, 1, 1, 12, 0)),
         (200, "u", dt(2024, 1, 1, 10, 15), dt(2024, 1, 1, 10, 15)),
         (300, "v", dt(2024, 1, 1, 23, 0), dt(2024, 1, 2, 1, 0))],
        "iid int, k string, s timestamp_ntz, e timestamp_ntz")
    return pts, ivs


def test_range_join_matches_naive_and_is_width_independent(spark):
    from presto_spark.operators.range_join import range_join

    pts, ivs = _range_fixtures(spark)
    expect = {(1, 100), (1, 200)}  # inclusive bounds: point==interval edges
    for width in (60.0, 1800.0, 3600.0, 7 * 24 * 3600.0):
        got = {(r.id, r.iid) for r in range_join(
            pts, ivs, "ts", "s", "e", by=("k",),
            bin_width_seconds=width).collect()}
        assert got == expect, f"width={width}"


def test_range_join_left_keeps_unmatched_points(spark):
    from presto_spark.operators.range_join import range_join

    pts, ivs = _range_fixtures(spark)
    rows = range_join(pts, ivs, "ts", "s", "e", by=("k",),
                      how="left").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r.iid)
    assert sorted(by_id[1]) == [100, 200]
    assert by_id[2] == [None] and by_id[3] == [None] and by_id[4] == [None]


def test_range_join_left_duplicates_and_null_columns(spark):
    from datetime import datetime as dt

    from presto_spark.operators.range_join import range_join

    # Duplicate point rows must keep their multiplicity on BOTH sides of
    # the left join, and rows with NULL columns must neither be dropped
    # (anti-join on all columns is null-unsafe) nor double-emitted.
    pts = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1, 10, 15)),
         (1, "u", dt(2024, 1, 1, 10, 15)),      # duplicate, matched
         (2, "u", dt(2024, 1, 1, 13, 0)),
         (2, "u", dt(2024, 1, 1, 13, 0)),       # duplicate, unmatched
         (None, "u", dt(2024, 1, 1, 10, 15)),   # NULL column, matched
         (None, "u", dt(2024, 1, 1, 13, 0))],   # NULL column, unmatched
        "id int, k string, ts timestamp_ntz")
    ivs = spark.createDataFrame(
        [(100, "u", dt(2024, 1, 1, 10, 0), dt(2024, 1, 1, 12, 0))],
        "iid int, k string, s timestamp_ntz, e timestamp_ntz")
    rows = range_join(pts, ivs, "ts", "s", "e", by=("k",),
                      how="left").collect()
    matched = sorted((r.id for r in rows if r.iid is not None),
                     key=lambda x: (x is None, x))
    unmatched = sorted((r.id for r in rows if r.iid is None),
                       key=lambda x: (x is None, x))
    assert matched == [1, 1, None]
    assert unmatched == [2, 2, None]


def test_range_join_rejects_column_clash(spark):
    import pytest as _pytest
    from presto_spark.operators.range_join import range_join

    pts, ivs = _range_fixtures(spark)
    with _pytest.raises(ValueError):
        range_join(pts, ivs.withColumnRenamed("iid", "id"),
                   "ts", "s", "e", by=("k",))


# ---- map_union_sum / set_union (MapUnionSumAggregation.java,
# SetUnionFunction.java) ----

def test_map_union_sum_and_set_union(spark):
    from presto_spark.operators import aggregates as A

    df = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}, [1, 2]),
         (1, {"b": 3, "c": 4}, [2, 3]),
         (2, {"x": 5}, [9])],
        "g int, m map<string,bigint>, arr array<bigint>",
    )
    rows = {r.g: r for r in df.groupBy("g").agg(
        A.map_union_sum(F.col("m")).alias("mus"),
        A.set_union(F.col("arr")).alias("su"),
    ).collect()}
    assert dict(rows[1].mus) == {"a": 1, "b": 5, "c": 4}
    assert rows[1].su == [1, 2, 3]
    assert dict(rows[2].mus) == {"x": 5} and rows[2].su == [9]


def test_noisy_count_if_zero_scale_exact(spark):
    from presto_spark.operators import noisy

    df = spark.createDataFrame(
        [("a", 5), ("a", 15), ("a", 25), ("b", 3)], "k string, v int")
    rows = {r.k: r.noisy_count_if for r in noisy.noisy_count_if_gaussian(
        df, F.col("v") > 10, 0.0, group_by=("k",)).collect()}
    assert rows == {"a": 2, "b": 0}


def test_tdigest_destructure_and_quantiles_at_values(spark):
    from presto_spark.operators import tdigest as TD

    df = spark.range(1, 11).select(
        F.lit("g").alias("g"), F.col("id").cast("double").alias("v"))
    sk = TD.tdigest_agg(df, ["g"], "v")
    row = sk.select(
        TD.destructure_tdigest(F.col("vs"), F.col("ws")).alias("d"),
        TD.quantiles_at_values(
            F.col("vs"), F.col("ws"),
            F.array(F.lit(3.0), F.lit(100.0))).alias("qs"),
        TD.scale_qdigest(F.col("ws"), 2.0).alias("sw"),
    ).collect()[0]
    assert row.d.min == 1.0 and row.d.max == 10.0
    assert row.d["count"] == 10.0 and row.d["sum"] == 55.0
    assert row.qs[0] == 0.3 and row.qs[1] is None
    assert row.sw == [2.0] * 10


def test_classification_curves_tiny_exact(spark):
    """Hand-computed 4-bucket curves incl. the stop rule
    (PrecisionRecallAggregation.java iterator semantics)."""
    from presto_spark.operators import classification as C

    # preds: true outcomes at 0.9, 0.6; false at 0.3, 0.6
    df = spark.createDataFrame(
        [(True, 0.9), (True, 0.6), (False, 0.3), (False, 0.6)],
        "y boolean, x double",
    ).withColumn("g", F.lit(1))
    row = C.classification_metrics(df, ["g"], "y", "x", buckets=4
                                   ).collect()[0]
    # buckets: 0.3->b1, 0.6->b2 (x2), 0.9->b3; true hist: b2=1, b3=1;
    # false hist: b1=1, b2=1.  Emit while remaining true > 0: b0..b3.
    assert row.thresholds == [0.0, 0.25, 0.5, 0.75]
    assert row.recall == [1.0, 1.0, 1.0, 0.5]
    assert row.miss_rate == [0.0, 0.0, 0.0, 0.5]
    assert row.precision == [0.5, 0.5, 2 / 3, 1.0]
    assert row.fall_out == [1.0, 1.0, 0.5, 0.0]


def test_classification_weighted_and_validation(spark):
    from presto_spark.operators import classification as C
    import pytest as _pytest

    df = spark.createDataFrame(
        [(True, 0.8, 2.0), (False, 0.2, 4.0)], "y boolean, x double, w double"
    ).withColumn("g", F.lit(1))
    row = C.classification_metrics(
        df, ["g"], "y", "x", buckets=2, weight_col="w").collect()[0]
    # b0: false w=4; b1: true w=2.  j=0: rem_t=2, rem_f=4 -> prec 1/3;
    # j=1: rem_t=2, rem_f=0 -> prec 1.
    assert row.precision == [2 / 6, 1.0]
    assert row.fall_out == [1.0, 0.0]
    with _pytest.raises(ValueError, match=">= 2"):
        C.classification_metrics(df, ["g"], "y", "x", buckets=1)


def test_classification_out_of_range_prediction_fails(spark):
    """A non-NULL prediction outside [0, 1] fails the query, matching
    the reference's checkCondition (PrecisionRecallAggregation.java) —
    the old silent filter produced a quietly different curve
    (VERDICT r6 #3)."""
    from presto_spark.operators import classification as C
    import pytest as _pytest

    df = spark.createDataFrame(
        [(True, 0.9), (False, 1.2)], "y boolean, x double"
    ).withColumn("g", F.lit(1))
    with _pytest.raises(Exception, match="prediction must be on \\[0, 1\\]"):
        C.classification_metrics(df, ["g"], "y", "x", buckets=4).collect()


def test_classification_null_rows_skipped_not_failed(spark):
    """NULL predictions/outcomes are skipped (Presto aggregates skip
    NULL input positions) — only non-NULL out-of-range values fail."""
    from presto_spark.operators import classification as C

    df = spark.createDataFrame(
        [(True, 0.9), (True, None), (None, 0.4), (False, 0.2)],
        "y boolean, x double",
    ).withColumn("g", F.lit(1))
    row = C.classification_metrics(df, ["g"], "y", "x", buckets=2
                                   ).collect()[0]
    assert row.thresholds == [0.0, 0.5]


def test_classification_zero_true_weight_group_emits_empty_row(spark):
    """A group with no true outcomes still emits a row with empty
    arrays — the reference aggregate returns a row per group
    (ADVICE r6)."""
    from presto_spark.operators import classification as C

    df = spark.createDataFrame(
        [(1, True, 0.9), (1, False, 0.2), (2, False, 0.4)],
        "g int, y boolean, x double",
    )
    rows = {r.g: r for r in C.classification_metrics(
        df, ["g"], "y", "x", buckets=4).collect()}
    assert len(rows) == 2
    assert rows[1].thresholds == [0.0, 0.25, 0.5, 0.75]
    assert rows[2].thresholds == [] and rows[2].precision == []
