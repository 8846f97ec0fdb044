"""Unit tests for the ML tier (operators/ml.py — presto-ml surface).

Mirrors the reference's TestLearnAggregations / TestMLFunctions
strategy: train on constructed data, assert classification/regression
quality and the evaluation report format; plus NULL propagation and
the dialect features() spelling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_spark.operators import ml


def _clusters(spark, n=60):
    k = F.col("id")
    feats = F.create_map(
        F.lit(0).cast("long"), ((k % 2) * 6.0 + (k % 3)).cast("double"),
        F.lit(1).cast("long"), ((k % 2) * -6.0 + (k % 2)).cast("double"),
    )
    return spark.range(n).select(
        "id", (k % 2).cast("long").alias("label"), feats.alias("f"))


def test_classifier_separable_is_exact(spark):
    from presto_spark.functions.registry import register_functions

    register_functions(spark, "classify(f, model)")
    base = _clusters(spark)
    model = ml.learn_classifier(base, "label", "f")
    scored = base.crossJoin(F.broadcast(model)).select(
        "label", F.expr("classify(f, model)").alias("pred"))
    bad = scored.filter(F.col("pred") != F.col("label")).count()
    assert bad == 0


def test_regressor_recovers_linear_target(spark):
    from presto_spark.functions.registry import register_functions

    register_functions(spark, "regress(f, model)")
    k = F.col("id")
    feats = F.create_map(
        F.lit(0).cast("long"), (k % 11).cast("double"),
        F.lit(1).cast("long"), (k % 4).cast("double"),
    )
    base = spark.range(80).select(
        "id", (5.0 * (k % 11) - 2.0 * (k % 4) + 7.0).alias("y"),
        feats.alias("f"))
    model = ml.learn_regressor(base, "y", "f")
    err = base.crossJoin(F.broadcast(model)).agg(
        F.max(F.abs(F.expr("regress(f, model)") - F.col("y")))
    ).collect()[0][0]
    assert err < 1e-6
    # NULL features -> NULL prediction (reference throws; NULL pin)
    nulls = base.crossJoin(F.broadcast(model)).select(
        F.expr("regress(CAST(NULL AS MAP<BIGINT,DOUBLE>), model)")
        .alias("p")).limit(1).collect()
    assert nulls[0].p is None


def test_evaluate_report_reference_format(spark):
    df = spark.createDataFrame(
        [(1, 1)] * 7 + [(0, 0)] * 2 + [(0, 1)] * 1,
        "truth bigint, pred bigint")
    rep = ml.evaluate_classifier_predictions(
        df, "truth", "pred").collect()[0].report
    # EvaluateClassifierPredictionsAggregation.java:105-113 format
    assert rep == (
        "Accuracy: 9/10 (90.00%)\n"
        "Class '0'\nPrecision: 2/2 (100.00%)\nRecall: 2/3 (66.67%)\n"
        "Class '1'\nPrecision: 7/8 (87.50%)\nRecall: 7/7 (100.00%)\n"
    )


def test_features_dialect_spelling(spark):
    from presto_spark.engine import Engine

    eng = Engine(spark)
    row = eng.sql(
        "SELECT features(1.5, 2.5, 3.5) AS f").collect()[0]
    assert row.f == {0: 1.5, 1: 2.5, 2: 3.5}


def test_libsvm_spellings_accept_params(spark):
    """learn_libsvm_* accept the reference's svm_parameter string for
    API compatibility; it is recorded in the model blob and the
    substituted estimator still scores exactly."""
    import json as J

    from presto_spark.functions.registry import register_functions

    register_functions(spark, "classify(f, model)")
    base = _clusters(spark, n=40)
    m = ml.learn_libsvm_classifier(base, "label", "f", "-C 10 -t 0")
    blob = m.collect()[0].model
    assert J.loads(blob)["libsvm_params"] == "-C 10 -t 0"
    bad = base.crossJoin(F.broadcast(m)).filter(
        F.expr("classify(f, model)") != F.col("label")).count()
    assert bad == 0
    r = ml.learn_libsvm_regressor(
        base.selectExpr("id", "CAST(label AS DOUBLE) AS y", "f"),
        "y", "f")
    assert J.loads(r.collect()[0].model)["type"] == "regressor"
