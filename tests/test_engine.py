"""Engine facade tests: Presto-dialect SQL, SET SESSION, EXPLAIN."""

from __future__ import annotations

import pytest

from presto_spark.engine import Engine
from presto_spark.prepared import split_args
from presto_spark.session_properties import set_session_property
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, sf_dir=SF_DIR)


def test_presto_spellings_translate(eng):
    row = eng.sql(
        "SELECT approx_distinct(l_partkey) AS ad,"
        "       cardinality(array(1, 2, 3)) AS card,"
        "       arbitrary(l_returnflag) AS arb,"
        "       strpos('hello', 'll') AS pos "
        "FROM lineitem"
    ).collect()[0]
    assert row.card == 3 and row.pos == 3 and row.ad > 0


def test_presto_date_add_reshuffle(eng):
    row = eng.sql(
        "SELECT date_add('day', 3, TIMESTAMP '1995-01-01 00:00:00') AS d"
    ).collect()[0]
    assert str(row.d).startswith("1995-01-04")


def test_set_session_property_roundtrip(eng):
    eng.sql("SET SESSION hash_partition_count = 17")
    assert eng.spark.conf.get("spark.sql.shuffle.partitions") == "17"
    eng.sql("SET SESSION hash_partition_count = 16")


def test_set_session_join_distribution(eng):
    eng.sql("SET SESSION join_distribution_type = 'PARTITIONED'")
    assert eng.spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    eng.sql("SET SESSION join_distribution_type = 'AUTOMATIC'")


def test_unknown_session_property_raises(spark):
    with pytest.raises(ValueError, match="unsupported session property"):
        set_session_property(spark, "no_such_knob", "1")


def test_explain_surface(eng):
    plan = eng.explain_str("SELECT count(*) AS n FROM lineitem")
    assert "Physical Plan" in plan or "HashAggregate" in plan


def test_try_cast_rewrite(eng):
    row = eng.sql("SELECT TRY(CAST('abc' AS INTEGER)) AS x").collect()[0]
    assert row.x is None


def test_array_subscript_is_one_based_in_presto_dialect(eng):
    """Presto arr[1] = first element (ArraySubscriptOperator.java); the
    dialect rewrites column subscripts to 1-based element_at.  Scope:
    simple (dotted) identifiers — subscripting a function call result
    directly is not rewritten (documented; needs a parser, not regex).
    """
    row = eng.sql(
        "WITH t AS (SELECT array(10, 20, 30) AS arr) "
        "SELECT arr[1] AS first_elem, t.arr[3] AS last_elem FROM t"
    ).collect()[0]
    assert row.first_elem == 10
    assert row.last_elem == 30


# ---- SHOW metadata statements (SqlBase.g4:150-159;
# ShowQueriesRewrite.java, ShowStatsRewrite.java) ----

def test_show_functions_presto_shape(eng):
    df = eng.sql("SHOW FUNCTIONS")
    assert df.columns == ["Function", "Return Type", "Argument Types",
                          "Function Type", "Deterministic", "Description"]
    by_name = {r.Function: r for r in df.collect()}
    # registry shim with full Presto-spelled signature
    assert by_name["strpos"]["Return Type"] == "integer"
    assert by_name["strpos"]["Argument Types"] == "varchar, varchar"
    assert by_name["cosine_similarity"]["Argument Types"] == \
        "array(double), array(double)"
    # dialect-rewritten spelling and pandas shim both listed
    assert "approx_distinct" in by_name and "word_stem" in by_name
    # Spark builtins round out the surface
    assert "sum" in by_name and "transform" in by_name


def test_show_functions_every_registered_type_spells(eng):
    """_presto_spell has no fallback: every type spelling the SQL-UDF
    and bitwise shim registries declare must parse to a DataType."""
    from presto_spark.functions.dialect import BITWISE_UDFS
    from presto_spark.functions.registry import _SQL_UDFS
    from presto_spark.show import _presto_spell, _sig_arg_types

    specs = [(args, ret) for args, ret, *_ in _SQL_UDFS.values()]
    specs += [(args, ret) for args, ret, _ in BITWISE_UDFS.values()]
    assert specs
    for args, ret in specs:
        assert _presto_spell(ret)
        _sig_arg_types(args)


def test_show_functions_like_filter(eng):
    names = [r.Function for r in
             eng.sql("SHOW FUNCTIONS LIKE 'approx%'").collect()]
    assert "approx_distinct" in names
    assert all(n.startswith("approx") for n in names)


def test_show_catalogs_schemas_tables(eng):
    cats = [r.Catalog for r in eng.sql("SHOW CATALOGS").collect()]
    assert "spark_catalog" in cats
    schemas = [r.Schema for r in eng.sql("SHOW SCHEMAS").collect()]
    assert "default" in schemas
    tabs = [r["Table"] for r in eng.sql("SHOW TABLES").collect()]
    assert "lineitem" in tabs and "orders" in tabs


def test_show_columns_presto_shape(eng):
    df = eng.sql("SHOW COLUMNS FROM orders")
    assert df.columns == ["Column", "Type", "Extra", "Comment"]
    types = {r.Column: r.Type for r in df.collect()}
    assert types["o_orderkey"] == "bigint"
    assert types["o_orderpriority"] == "varchar"
    assert types["o_totalprice"] == "double"


def test_show_session_lists_properties(eng):
    df = eng.sql("SHOW SESSION")
    assert df.columns == ["Name", "Value", "Default", "Type", "Description"]
    names = [r.Name for r in df.collect()]
    assert "hash_partition_count" in names
    assert "join_distribution_type" in names


def test_show_stats_table_and_query(eng):
    df = eng.sql("SHOW STATS FOR nation")
    assert df.columns == [
        "column_name", "data_size", "distinct_values_count",
        "nulls_fraction", "row_count", "low_value", "high_value"]
    rows = {r.column_name: r for r in df.collect()}
    assert rows[None].row_count == 25.0  # summary row
    assert rows["n_nationkey"].low_value == "0"
    assert rows["n_nationkey"].high_value == "24"
    assert rows["n_nationkey"].nulls_fraction == 0.0
    assert rows["n_name"].data_size is not None  # varchar: data size
    assert rows["n_name"].low_value is None
    # query form computes over the subquery result
    q = eng.sql("SHOW STATS FOR (SELECT n_regionkey FROM nation "
                "WHERE n_regionkey < 2)")
    qr = {r.column_name: r for r in q.collect()}
    assert qr[None].row_count == 10.0
    assert qr["n_regionkey"].high_value == "1"


# ---- prepared statements (SqlBase.g4:168-172; PrepareTask.java,
# QueryPreparer.java parameter substitution) ----

def test_prepare_execute_roundtrip_typed_params(eng):
    eng.sql(
        "PREPARE q_prio FROM "
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "WHERE o_totalprice < ? AND o_orderdate >= ? "
        "  AND o_orderstatus <> ? "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    rows = eng.sql(
        "EXECUTE q_prio USING DECIMAL '150000.00', "
        "TIMESTAMP '1995-01-01 00:00:00', 'X'"
    ).collect()
    assert rows and all(r.n > 0 for r in rows)
    # re-EXECUTE with different bindings reuses the statement
    rows2 = eng.sql(
        "EXECUTE q_prio USING DECIMAL '50000.00', "
        "TIMESTAMP '1997-01-01 00:00:00', 'X'"
    ).collect()
    assert sum(r.n for r in rows2) < sum(r.n for r in rows)


def test_prepare_param_in_string_literal_is_text(eng):
    eng.sql("PREPARE q_lit FROM SELECT 'a?b' AS s, ? AS x")
    rows = eng.sql("EXECUTE q_lit USING 7").collect()
    assert rows[0].s == "a?b" and rows[0].x == 7


def test_prepare_param_in_comment_or_backtick_is_text(eng):
    """A '?' in a block comment or a backtick identifier is text, not
    a parameter (the statement used to expect 2 parameters)."""
    eng.sql("PREPARE q_cmt FROM SELECT /* why? */ n_nationkey AS `a?` "
            "FROM nation WHERE n_nationkey = ?")
    rows = eng.sql("EXECUTE q_cmt USING 3").collect()
    assert [r["a?"] for r in rows] == [3]


def test_execute_quoted_identifier_argument_is_one(eng):
    """A comma inside a quoted identifier does not split the USING
    list."""
    assert split_args('"x,y", 2') == ['"x,y"', "2"]
    eng.sql('PREPARE q_qid FROM SELECT ? AS v FROM (SELECT 7 AS "x,y")')
    assert eng.sql('EXECUTE q_qid USING "x,y"').collect()[0].v == 7


def test_execute_adversarial_param_text(eng):
    """Hardened substitution (VERDICT r5 #10): statement and arguments
    are dialect-translated SEPARATELY and then spliced, with no rewrite
    pass over the combined text — quotes, '?', and comment markers
    inside a parameter can never be re-interpreted downstream."""
    eng.sql("PREPARE q_adv FROM SELECT ? AS a, ? AS b")
    rows = eng.sql(
        "EXECUTE q_adv USING 'it''s a ? mark', 'x -- not a comment'"
    ).collect()
    assert rows[0].a == "it's a ? mark"
    assert rows[0].b == "x -- not a comment"


def test_execute_param_presto_expression_translated(eng):
    """A Presto-dialect expression argument is translated as a fragment
    before splicing (cardinality → size)."""
    eng.sql("PREPARE q_expr FROM SELECT ? AS n")
    rows = eng.sql("EXECUTE q_expr USING cardinality(ARRAY[1,2,3])").collect()
    assert rows[0].n == 3


def test_execute_wrong_arity_raises(eng):
    eng.sql("PREPARE q_two FROM SELECT ? + ? AS s")
    with pytest.raises(ValueError, match="expects 2 parameters"):
        eng.sql("EXECUTE q_two USING 1")


def test_describe_input_positions(eng):
    eng.sql(
        "PREPARE q_di FROM SELECT * FROM nation "
        "WHERE n_regionkey = ? AND n_name < ?"
    )
    rows = eng.sql("DESCRIBE INPUT q_di").collect()
    assert [(r.Position, r.Type) for r in rows] == [
        (0, "unknown"), (1, "unknown")]


def test_describe_output_schema(eng):
    eng.sql(
        "PREPARE q_do FROM SELECT o_orderkey, o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = ?"
    )
    rows = eng.sql("DESCRIBE OUTPUT q_do").collect()
    got = {r["Column Name"]: r.Type for r in rows}
    assert got["o_orderkey"] == "bigint"
    assert got["o_totalprice"] == "double"
    assert got["o_orderpriority"] == "varchar"
    # o_orderdate is TIMESTAMP_NTZ in the driver parquet → Presto
    # spelling "timestamp"
    assert got["o_orderdate"] == "timestamp"


def test_deallocate_removes_statement(eng):
    eng.sql("PREPARE q_gone FROM SELECT 1 AS one")
    assert eng.sql("EXECUTE q_gone").collect()[0].one == 1
    eng.sql("DEALLOCATE PREPARE q_gone")
    with pytest.raises(KeyError, match="not found"):
        eng.sql("EXECUTE q_gone")


def test_subscript_rewrite_spark_dialect_untouched(eng):
    """dialect='spark' keeps Spark's native 0-based subscript."""
    row = eng.sql(
        "WITH t AS (SELECT array(10, 20, 30) AS arr) "
        "SELECT arr[1] AS second_elem FROM t",
        dialect="spark",
    ).collect()[0]
    assert row.second_elem == 20


def test_execute_macro_duplicated_parameter(eng):
    """A dialect macro that expands its argument into several
    occurrences (array_top_n -> slice+sort) must bind ONE user
    argument to every copy — the sentinel substitution regression
    pin (code-review r6)."""
    eng.sql("PREPARE q_dup FROM SELECT array_top_n(?, 2) AS t")
    rows = eng.sql("EXECUTE q_dup USING ARRAY[3, 9, 1, 7]").collect()
    assert rows[0].t == [9, 7]


def test_execute_sentinel_shaped_argument_rejected(eng):
    """ADVICE r6 (high): an argument whose VALUE contains a sentinel
    spelling is rejected up front — the old sequential str.replace
    loop would have substituted the second argument inside the first
    argument's string literal.  (The splice itself is also single-pass
    now, so even without this guard inserted text is never rescanned —
    see splice_sentinels.)"""
    eng.sql("PREPARE q_stx FROM SELECT ? AS a, ? AS b")
    with pytest.raises(ValueError, match="reserved token"):
        eng.sql("EXECUTE q_stx USING '__ps_param_1__', 'plain'")


def test_splice_sentinels_single_pass_unit():
    """Unit pin for the single-pass property: an argument containing a
    later sentinel spelling is spliced verbatim, never re-substituted."""
    from presto_spark import prepared as _prep
    out = _prep.splice_sentinels(
        "SELECT __ps_param_0__ AS a, __ps_param_1__ AS b",
        ["'__ps_param_1__'", "'plain'"])
    assert out == "SELECT ('__ps_param_1__') AS a, ('plain') AS b"


def test_prepare_sentinel_shaped_statement_rejected(eng):
    """Pre-existing sentinel-shaped text in a prepared statement is
    rejected up front instead of being clobbered by the splice."""
    eng.sql("PREPARE q_res FROM SELECT '__ps_param_0__' AS s, ? AS x")
    with pytest.raises(ValueError, match="reserved token"):
        eng.sql("EXECUTE q_res USING 1")


def test_corpus_row_restores_shared_catalog(spark):
    """corpus_product_golden registers the corpus fixture views (a
    25-row spec nation, etc.) while building its per-case plans; the
    shared-session catalog must come back to the sf-dir parquet views
    afterwards or every later nation/region query in the same session
    reads fixture data (round-10 regression: 43 red diffcheck rows)."""
    from presto_spark.queries import REGISTRY

    REGISTRY["corpus_product_golden"].spark(
        spark, "/root/testdata/sf0.001").collect()
    first = spark.sql(
        "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 1"
    ).collect()[0].n_name
    assert first == "NATION_0"
