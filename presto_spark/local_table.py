"""Driver-local rows → DataFrame without the pickled-RDD round trip.

``SparkSession.createDataFrame(list, schema)`` ships the rows through
``applySchemaToPythonRDD``: a pickled Python RDD whose every evaluation
pays a Python-worker launch per partition (~0.3 s per evaluation
measured at r16, regardless of row count — and a plan that references
the local table from several branches pays it once per un-reused
branch).  Converting through pandas instead hands the rows to the Arrow
``createDataFrame`` path: the batch is serialized once on the driver
and evaluates JVM-side, no Python workers.

Values are unchanged: rows are held in an object-dtype frame so pandas
cannot coerce them (ints with None stay ints, not float64) and the
explicit schema drives the Arrow cast, exactly as the classic path's
type binder does.  Only the empty-rows edge, where a columnless pandas
frame cannot bind a schema, takes the original ``createDataFrame(list)``
code path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """rows (list of tuples) + DDL schema string → DataFrame through the
    Arrow batch path instead of the pickled-RDD path."""
    if not rows:
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, dtype=object), schema)
