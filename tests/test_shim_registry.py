"""The on-demand compat-shim registrar (functions/registry.py).

A shim registers when SQL text that calls it is about to run — the
text a registry row, ``Engine.sql`` or ``run_sql`` hands to Spark —
together with the shims its body calls.  ``prepare`` registers tables
only.  Every check runs on a fresh ``newSession()``: temp functions are
per session, so a shared session would hide a missing registration
behind whatever an earlier test registered.
"""

import gc

import pytest

from presto_spark.functions.registry import register_functions, shims
from presto_spark.queries import REGISTRY
from presto_spark.queries.base import prepare
from tests.conftest import SF_DIR, register_every_shim

# The rows that call shims outside sql_query text: F.expr spellings,
# the dialect suites, the corpus replay, and the color tier whose
# bodies call the __hsb_* helpers.
CENSUS_ROWS = [
    "fn_color_bar_golden",
    "ml_learn_classify_golden",
    "fn_datetime_format_suite",
    "fn_jsonpath_suite",
    "presto_dialect_try_and_generics",
    "presto_dialect_scalar_breadth",
    "corpus_product_golden",
]


def _catalog_shims(spark) -> set[str]:
    return {f.name for f in spark.catalog.listFunctions()} & shims().keys()


def test_text_without_shims_registers_nothing(spark):
    s = spark.newSession()
    assert register_functions(
        s, "SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1"
    ) == []
    assert _catalog_shims(s) == set()


def test_names_in_literals_and_comments_register_nothing(spark):
    """Only a name(...) in code calls a shim: one in a literal or a
    comment used to register color and its __hsb_* helpers."""
    s = spark.newSession()
    assert register_functions(s, "SELECT 'color(1)' AS c -- bar(") == []
    assert _catalog_shims(s) == set()


def test_dependencies_register_first(spark):
    s = spark.newSession()
    got = register_functions(
        s, "SELECT color_interp(0.5, rgb(255, 0, 0), rgb(0, 255, 0))")
    assert got == ["__hsb_h", "__hsb_s", "__hsb_v", "__hsb_pack",
                   "rgb", "color_interp"]
    assert _catalog_shims(s) == set(got)


def test_second_call_registers_nothing(spark):
    s = spark.newSession()
    text = "SELECT strpos('abc', 'c') AS v, normal_cdf(0, 1, 0) AS n"
    assert register_functions(s, text) == ["strpos", "erf_shim",
                                           "normal_cdf"]
    assert register_functions(s, text) == []
    assert s.sql(text).collect()[0].v == 3


def test_table_order_puts_dependencies_first():
    order = {name: i for i, name in enumerate(shims())}
    for name, s in shims().items():
        assert all(order[dep] < order[name] for dep in s.calls), name


def test_prepare_registers_no_shims(spark):
    s = spark.newSession()
    prepare(s, SF_DIR)
    assert _catalog_shims(s) == set()
    assert s.sql("SELECT count(*) AS n FROM nation").collect()[0].n == 25


@pytest.mark.parametrize("name", CENSUS_ROWS)
def test_census_row_builds_on_fresh_session(spark, name):
    rows = REGISTRY[name].spark(spark.newSession(), SF_DIR).collect()
    assert rows


def test_show_functions_independent_of_registration(spark):
    from presto_spark import Engine

    def listed(s):
        return [tuple(r) for r in Engine(s).sql("SHOW FUNCTIONS").collect()]

    fresh = listed(spark.newSession())
    full = spark.newSession()
    assert register_every_shim(full) == list(shims())
    assert listed(full) == fresh
    names = {r[0] for r in fresh}
    assert "st_area" in names and "color_interp" in names
    assert "poly_hash" in names and "hmac_sha256" in names


def test_prepare_memo_survives_session_address_reuse(spark):
    """The sf_dir memo is a session attribute.  Keyed on id(spark), a
    new session that reused a collected session's address skipped
    register_tables and could not see the tables."""
    for _ in range(40):
        s = spark.newSession()
        prepare(s, SF_DIR)
        assert s.sql("SELECT count(*) AS n FROM nation").collect()[0].n == 25
        del s
        gc.collect()
