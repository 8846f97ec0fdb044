"""Engine facade — the Presto entry-point shape on a Spark runtime.

Presto's only query language is SQL, submitted over HTTP
(reference: presto-main/.../server/protocol/QueuedStatementResource.java:211)
or via embedded runners
(presto-tests/.../StandaloneQueryRunner.java).  The whole lifecycle —
parse (presto-parser/.../SqlParser.java:100), analyze
(presto-main-base/.../sql/analyzer/StatementAnalyzer.java:416), plan
(sql/planner/LogicalPlanner.java:185), optimize (sql/Optimizer.java:61),
fragment, schedule, execute — is replaced here by Spark SQL's
parser/Catalyst/AQE pipeline.  ``Engine.sql`` is the equivalent of
``QueryRunner.execute``; the DataFrame API is a second, Spark-native
surface Presto never had.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from presto_spark import prepared as _prep
from presto_spark import show as _show
from presto_spark.functions.dialect import translate
from presto_spark.functions.registry import run_sql
from presto_spark.session_properties import set_session_property
from presto_spark.sources.catalog import TABLES, register_tables

_SET_SESSION_RE = re.compile(
    r"^\s*SET\s+SESSION\s+(\w+)\s*=\s*'?([^';]+)'?\s*;?\s*$", re.IGNORECASE
)


class Engine:
    """A query engine session: catalog + Presto-compat functions + SQL.

    Usage::

        eng = Engine(spark, sf_dir="/root/testdata/sf0.01")
        df = eng.sql("SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1")
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None, tables=TABLES):
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}
        self.prepared = _prep.PreparedStatements()
        if sf_dir is not None:
            self.tables = register_tables(spark, sf_dir, tables)

    def sql(self, query: str, dialect: str = "presto") -> DataFrame:
        """Run SQL against the registered catalog (Presto's entry point A).

        ``dialect='presto'`` applies the name-level Presto→Spark rewrite
        (functions/dialect.py) before parsing; pass ``'spark'`` to skip.

        ``SET SESSION <prop> = <value>`` statements are routed through
        the session-property façade (session_properties.py — reference:
        SystemSessionProperties.java), mirroring Presto's session
        tuning surface.  PREPARE / EXECUTE [USING ...] / DEALLOCATE
        PREPARE / DESCRIBE INPUT|OUTPUT go through the per-engine
        statement registry (prepared.py — the protocol every Presto
        client driver speaks, SqlBase.g4:168-172).  Other statements go
        to Spark SQL.  Each text handed to Spark first registers the
        compat shims it calls (functions/registry.py).
        """
        m = _SET_SESSION_RE.match(query)
        if m:
            set_session_property(self.spark, m.group(1).lower(), m.group(2))
            return self.spark.createDataFrame([(True,)], "set_session boolean")
        shown = _show.route(
            self.spark, query,
            translate_fn=translate if dialect == "presto" else None)
        if shown is not None:
            return shown
        routed = self._statement(query, dialect)
        if routed is not None:
            return routed
        if dialect == "presto":
            query = translate(query)
        return run_sql(self.spark, query)

    def _statement(self, query: str, dialect: str) -> DataFrame | None:
        """Route prepared-statement protocol statements; None = not one."""
        q = query.strip().rstrip(";")
        m = _prep.PREPARE_RE.match(q)
        if m:
            self.prepared.prepare(m.group(1), m.group(2))
            return self.spark.createDataFrame([(True,)], "prepare boolean")
        m = _prep.DEALLOCATE_RE.match(q)
        if m:
            self.prepared.deallocate(m.group(1))
            return self.spark.createDataFrame([(True,)], "deallocate boolean")
        m = _prep.DESCRIBE_INPUT_RE.match(q)
        if m:
            rows = self.prepared.describe_input_rows(m.group(1))
            return self.spark.createDataFrame(
                rows or [], "Position int, Type string")
        m = _prep.DESCRIBE_OUTPUT_RE.match(q)
        if m:
            # Plan (never run) the statement with NULL-bound parameters
            # to resolve the output schema — Spark's sql() is lazy, so
            # .schema costs analysis only.  Output shape mirrors
            # DescribeOutput's rewrite columns; catalog/schema/table
            # provenance and per-column alias tracking need the
            # reference's Analysis object — pinned blank/true here.
            stmt = self.prepared.get(m.group(1))
            n = len(_prep.param_positions(stmt))
            text = _prep.substitute(stmt, ["NULL"] * n)
            if dialect == "presto":
                text = translate(text)
            schema = run_sql(self.spark, text).schema
            rows = [
                (f.name, "", "", "", _prep.presto_type_name(f.dataType), 0, True)
                for f in schema.fields
            ]
            return self.spark.createDataFrame(
                rows,
                "`Column Name` string, Catalog string, Schema string, "
                "`Table` string, Type string, `Type Size` int, "
                "Aliased boolean",
            )
        m = _prep.EXECUTE_RE.match(q)
        if m:
            # Substitution hardening (VERDICT r5 #10): the prepared
            # statement and each USING argument are dialect-translated
            # SEPARATELY and then spliced — the final text goes
            # straight to Spark with no further rewrite pass, so
            # adversarial parameter content (quotes, '?', Presto
            # spellings inside string literals) can never be
            # re-interpreted downstream.  The '?' markers are swapped
            # for unique sentinel identifiers BEFORE translating the
            # statement: a dialect macro that expands one argument
            # into several occurrences (trim_array, array_top_n, …)
            # then duplicates the *sentinel*, and every copy receives
            # the same translated argument — the analyzed-Parameter
            # behavior of the reference (QueryPreparer.java).
            stmt = self.prepared.get(m.group(1))
            args = _prep.split_args(m.group(2)) if m.group(2) else []
            for a in args:
                _prep.reject_sentinel_shaped(a, "EXECUTE argument")
            text = _prep.substitute_sentinels(stmt, len(args))
            if dialect == "presto":
                text = translate(text)
                args = [translate(a) for a in args]
            # Single-pass splice: argument text is never rescanned, so
            # an argument containing quotes or sentinel-shaped text
            # cannot break out of its expression context (ADVICE r6).
            text = _prep.splice_sentinels(text, args)
            return run_sql(self.spark, text)
        return None

    def table(self, name: str) -> DataFrame:
        """DataFrame handle for a registered table (entry point B)."""
        return self.spark.table(name)

    def explain_str(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN surface (reference: operator/ExplainAnalyzeOperator.java)."""
        df = self.sql(query)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode
        )
