"""Metadata / introspection statements: SHOW FUNCTIONS, SHOW CATALOGS,
SHOW SCHEMAS, SHOW TABLES, SHOW COLUMNS, SHOW SESSION, SHOW STATS.

Reference grammar: presto-parser/.../SqlBase.g4:150-159 (SHOW family);
the reference rewrites these to queries over system tables
(presto-main-base/.../connector/system/, sql/rewrite/
ShowQueriesRewrite.java; SHOW STATS: sql/rewrite/ShowStatsRewrite.java).
Here they lower onto the engine's function registry
(functions/registry.py — the engine-side analog of
BuiltInTypeAndFunctionNamespaceManager.java:525), the Spark catalog,
the session-property façade, and a stats aggregation over the target
relation (temp views have no ANALYZE-persisted stats, so SHOW STATS
computes them with one aggregate pass — approx_count_distinct
/ null-fraction / min / max per column — the same quantities
ShowStatsRewrite reads from the metastore).

Output column names and shapes follow the reference exactly so tooling
written against Presto's SHOW output parses unchanged.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from presto_spark.functions.registry import run_sql, shims
from presto_spark.prepared import presto_type_name

SHOW_FUNCTIONS_RE = re.compile(
    r"^\s*SHOW\s+FUNCTIONS\s*(?:LIKE\s+'([^']*)')?\s*$", re.IGNORECASE)
SHOW_CATALOGS_RE = re.compile(
    r"^\s*SHOW\s+CATALOGS\s*(?:LIKE\s+'([^']*)')?\s*$", re.IGNORECASE)
SHOW_SCHEMAS_RE = re.compile(
    r"^\s*SHOW\s+SCHEMAS\s*(?:FROM\s+\w+)?\s*(?:LIKE\s+'([^']*)')?\s*$",
    re.IGNORECASE)
SHOW_TABLES_RE = re.compile(
    r"^\s*SHOW\s+TABLES\s*(?:FROM\s+\w+)?\s*(?:LIKE\s+'([^']*)')?\s*$",
    re.IGNORECASE)
SHOW_COLUMNS_RE = re.compile(
    r"^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([\w.]+)\s*$", re.IGNORECASE)
SHOW_SESSION_RE = re.compile(r"^\s*SHOW\s+SESSION\s*$", re.IGNORECASE)
SHOW_STATS_RE = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s+(?:([\w.]+)|\((.+)\))\s*$",
    re.IGNORECASE | re.DOTALL)

# Presto LIKE patterns: % any run, _ single char.
def _like_to_regex(pat: str) -> re.Pattern[str]:
    out = []
    for c in pat:
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
    return re.compile("^" + "".join(out) + "$", re.IGNORECASE)


# Presto spellings the dialect layer rewrites in-place rather than
# registering (Spark builtin collisions / grammar forms) — listed so
# SHOW FUNCTIONS reflects the full callable Presto surface.
_DIALECT_SPELLINGS: dict[str, tuple[str, str, str]] = {
    "approx_distinct": ("T [, double]", "bigint",
                        "dialect rewrite -> approx_count_distinct "
                        "(default standard error 0.023)"),
    "approx_percentile": ("double, double [, bigint]", "double",
                          "dialect rewrite -> percentile_approx"),
    "split": ("varchar, varchar [, bigint]", "array(varchar)",
              "dialect rewrite (Presto limit/delimiter semantics)"),
    "array_max_by": ("array(T), function", "T",
                     "dialect rewrite -> aggregate fold"),
    "array_min_by": ("array(T), function", "T",
                     "dialect rewrite -> aggregate fold"),
    "try": ("expression", "T", "dialect rewrite -> null-on-error"),
    "date_format": ("timestamp, varchar", "varchar",
                    "dialect rewrite (MySQL %-patterns; per-row tier "
                    "for column patterns)"),
    "format_datetime": ("timestamp, varchar", "varchar",
                        "dialect rewrite (Joda patterns)"),
    "date_parse": ("varchar, varchar", "timestamp",
                   "dialect rewrite (MySQL %-patterns)"),
    "parse_datetime": ("varchar, varchar", "timestamp",
                       "dialect rewrite (Joda patterns)"),
    "json_extract": ("varchar, varchar", "varchar",
                     "dialect rewrite (extended JSONPath tier for "
                     "recursive/filter paths)"),
    "json_extract_scalar": ("varchar, varchar", "varchar",
                            "dialect rewrite"),
    "json_size": ("varchar, varchar", "bigint", "dialect rewrite"),
}


def _presto_spell(spark_ddl_type: str) -> str:
    """Spark DDL type spelling → Presto type-signature spelling, via the
    parsed DataType (so nested array<>/map<> convert too).  Every
    registered shim's type spelling parses (tests/test_engine.py pins
    it), so a parse error is a registry bug and propagates."""
    return presto_type_name(T._parse_datatype_string(spark_ddl_type))


def _sig_arg_types(args_ddl: str) -> str:
    """'s STRING, sub STRING' → 'varchar, varchar'.

    Splits on top-level commas only — ARRAY<...>/MAP<...> commas nest
    inside angle brackets.
    """
    parts: list[str] = []
    depth = 0
    buf = ""
    for c in args_ddl:
        if c == "<":
            depth += 1
        elif c == ">":
            depth -= 1
        if c == "," and depth == 0:
            parts.append(buf)
            buf = ""
        else:
            buf += c
    if buf.strip():
        parts.append(buf)
    return ", ".join(
        _presto_spell(p.strip().split(None, 1)[1]) for p in parts if p.strip()
    )


def show_functions(spark: SparkSession, like: str | None) -> DataFrame:
    """SHOW FUNCTIONS — Presto shape: Function, Return Type, Argument
    Types, Function Type, Deterministic, Description
    (ShowQueriesRewrite.java; registry spec
    BuiltInTypeAndFunctionNamespaceManager.java:525)."""
    from presto_spark.functions.dialect import _SIMPLE_MAP

    rows: list[tuple[str, str, str, str, bool, str]] = []
    seen: set[str] = set()

    def add(name, ret, args, ftype, desc):
        if name in seen:
            return
        seen.add(name)
        rows.append((name, ret, args, ftype, True, desc))

    # Every shim, registered in this session or not: the registry
    # registers on demand, so the catalog lists only the ones used so
    # far.  "__" helpers and "_py" per-row plumbing are not user surface.
    table = shims()
    for name, s in table.items():
        if not (name.startswith("__") or name.endswith("_py")):
            add(name, _presto_spell(s.ret), _sig_arg_types(s.args),
                "scalar", s.cite)
    for name, target in _SIMPLE_MAP.items():
        add(name, "", "", "scalar", f"dialect rename -> {target}")
    for name, (args, ret, desc) in _DIALECT_SPELLINGS.items():
        add(name, ret, args, "scalar", desc)
    # Spark builtins round out the callable surface; the catalog exposes
    # name/description only (no typed signatures), mirrored as-is.
    for fn in spark.catalog.listFunctions():
        if fn.name not in table:
            add(fn.name, "", "", "scalar", fn.description or "")

    if like is not None:
        rx = _like_to_regex(like)
        rows = [r for r in rows if rx.match(r[0])]
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(
        rows,
        "Function string, `Return Type` string, `Argument Types` string, "
        "`Function Type` string, Deterministic boolean, Description string",
    )


def show_catalogs(spark: SparkSession, like: str | None) -> DataFrame:
    names = [c.name for c in spark.catalog.listCatalogs()]
    if like is not None:
        rx = _like_to_regex(like)
        names = [n for n in names if rx.match(n)]
    return spark.createDataFrame(
        [(n,) for n in sorted(names)], "Catalog string")


def show_schemas(spark: SparkSession, like: str | None) -> DataFrame:
    names = [d.name for d in spark.catalog.listDatabases()]
    if like is not None:
        rx = _like_to_regex(like)
        names = [n for n in names if rx.match(n)]
    return spark.createDataFrame(
        [(n,) for n in sorted(names)], "Schema string")


def show_tables(spark: SparkSession, like: str | None) -> DataFrame:
    names = [t.name for t in spark.catalog.listTables()]
    if like is not None:
        rx = _like_to_regex(like)
        names = [n for n in names if rx.match(n)]
    return spark.createDataFrame(
        [(n,) for n in sorted(names)], "`Table` string")


def show_columns(spark: SparkSession, table: str) -> DataFrame:
    """SHOW COLUMNS FROM t — Presto shape: Column, Type, Extra, Comment."""
    schema = spark.table(table).schema
    rows = [
        (f.name, presto_type_name(f.dataType), "",
         (f.metadata or {}).get("comment", ""))
        for f in schema.fields
    ]
    return spark.createDataFrame(
        rows, "Column string, Type string, Extra string, Comment string")


def show_session(spark: SparkSession) -> DataFrame:
    """SHOW SESSION — the session-property façade, Presto shape:
    Name, Value, Default, Type, Description
    (SystemSessionProperties.java surface)."""
    from presto_spark.session_properties import _MAPPING

    rows = []
    for name, (conf, _xlate) in sorted(_MAPPING.items()):
        rows.append((name, spark.conf.get(conf), "", "varchar",
                     f"maps to {conf}"))
    return spark.createDataFrame(
        rows,
        "Name string, Value string, `Default` string, Type string, "
        "Description string",
    )


_STATS_MINMAX_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
    T.TimestampNTZType, T.BooleanType,
)


def show_stats(spark: SparkSession, df: DataFrame) -> DataFrame:
    """SHOW STATS FOR t | (query) — Presto shape (ShowStatsRewrite.java):
    column_name, data_size, distinct_values_count, nulls_fraction,
    row_count, low_value, high_value; one row per column plus the
    row_count summary row (column_name NULL).

    Computed in ONE aggregate pass over the relation (partial-agg
    map-side combine; no per-column scans), since temp-view relations
    have no metastore stats to read.
    """
    aggs = [F.count(F.lit(1)).alias("_rc")]
    for i, f in enumerate(df.schema.fields):
        c = F.col(f.name)
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            aggs.append(F.sum(F.octet_length(c)).alias(f"sz_{i}"))
        else:
            aggs.append(F.lit(None).cast("long").alias(f"sz_{i}"))
        aggs.append(F.approx_count_distinct(c).alias(f"ndv_{i}"))
        aggs.append(F.avg(F.when(c.isNull(), 1.0).otherwise(0.0))
                    .alias(f"nf_{i}"))
        if isinstance(f.dataType, _STATS_MINMAX_TYPES):
            aggs.append(F.min(c).cast("string").alias(f"lo_{i}"))
            aggs.append(F.max(c).cast("string").alias(f"hi_{i}"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"lo_{i}"))
            aggs.append(F.lit(None).cast("string").alias(f"hi_{i}"))
    r = df.agg(*aggs).collect()[0]
    rows = []
    for i, f in enumerate(df.schema.fields):
        rows.append((
            f.name,
            float(r[f"sz_{i}"]) if r[f"sz_{i}"] is not None else None,
            float(r[f"ndv_{i}"]) if r[f"ndv_{i}"] is not None else None,
            float(r[f"nf_{i}"]) if r[f"nf_{i}"] is not None else None,
            None,
            r[f"lo_{i}"],
            r[f"hi_{i}"],
        ))
    rows.append((None, None, None, None, float(r["_rc"]), None, None))
    return spark.createDataFrame(
        rows,
        "column_name string, data_size double, "
        "distinct_values_count double, nulls_fraction double, "
        "row_count double, low_value string, high_value string",
    )


def route(spark: SparkSession, query: str,
          translate_fn=None) -> DataFrame | None:
    """Dispatch a SHOW statement; None when ``query`` is not one."""
    q = query.strip().rstrip(";")
    m = SHOW_FUNCTIONS_RE.match(q)
    if m:
        return show_functions(spark, m.group(1))
    m = SHOW_CATALOGS_RE.match(q)
    if m:
        return show_catalogs(spark, m.group(1))
    m = SHOW_SCHEMAS_RE.match(q)
    if m:
        return show_schemas(spark, m.group(1))
    m = SHOW_TABLES_RE.match(q)
    if m:
        return show_tables(spark, m.group(1))
    m = SHOW_COLUMNS_RE.match(q)
    if m:
        return show_columns(spark, m.group(1))
    m = SHOW_SESSION_RE.match(q)
    if m:
        return show_session(spark)
    m = SHOW_STATS_RE.match(q)
    if m:
        if m.group(1):
            target = spark.table(m.group(1))
        else:
            inner = m.group(2)
            if translate_fn is not None:
                inner = translate_fn(inner)
            target = run_sql(spark, inner)
        return show_stats(spark, target)
    return None
