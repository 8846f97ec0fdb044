"""Unit tests for the Presto-compat function layer.

Native-vs-shim parity cases that are FP-order dependent (and therefore
excluded from the hash-exact oracle queries) are asserted here with
tolerance — mirroring how the reference tests approximate aggregations
(presto-main-base/src/test/.../aggregation/).
"""

import math

import pytest
from pyspark.sql import functions as F

from presto_spark.functions.dialect import translate
from presto_spark.functions.registry import run_sql
from presto_spark.queries.base import prepare
from tests.conftest import SF_DIR, register_every_shim


@pytest.fixture(scope="module", autouse=True)
def _prep(spark):
    # the tests below call shims through raw spark.sql text
    prepare(spark, SF_DIR)
    register_every_shim(spark)


def one(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0].v


def test_dialect_translate_renames():
    # approx_distinct carries Presto's default 2.3% standard error
    # (ApproximateCountDistinctAggregation.java DEFAULT_STANDARD_ERROR);
    # an explicit error maps onto Spark's rsd 1:1.
    assert translate("SELECT approx_distinct(x) FROM t") == \
        "SELECT approx_count_distinct(x, 0.023) FROM t"
    assert translate("SELECT approx_distinct(x, 0.01) FROM t") == \
        "SELECT approx_count_distinct(x, 0.01) FROM t"
    assert translate("SELECT cardinality(arr), ARBITRARY(y) FROM t") == \
        "SELECT size(arr), any_value(y) FROM t"


def test_dialect_split_literal_delimiter():
    """Presto split delimiters are LITERALS (StringFunctions.java);
    Spark's split takes a regex — metachar delimiters get \\Q...\\E
    quoting, regexp_split keeps regex semantics via its -1 marker."""
    assert translate("SELECT split(s, '.')") == \
        r"SELECT split(s, '\\Q.\\E')"
    assert translate("SELECT split(s, '||', 2)") == \
        r"SELECT split(s, '\\Q||\\E', 2)"
    assert translate("SELECT split(s, '_')") == "SELECT split(s, '_')"
    assert translate("SELECT regexp_split(s, '[0-9]')") == \
        "SELECT split((s), ('[0-9]'), -1)"
    for s in ("SELECT split(s, '.')", "SELECT regexp_split(s, '[0-9]')"):
        t = translate(s)
        assert translate(t) == t


def test_dialect_translate_date_functions():
    assert translate("date_add('day', 3, ts)") == "timestampadd(DAY, 3, ts)"
    assert translate("date_diff('hour', a, b)") == "timestampdiff(HOUR, a, b)"
    # Spark's own 2-arg date_add untouched
    assert translate("date_add(d, 3)") == "date_add(d, 3)"


def test_dialect_try_cast():
    assert translate("TRY(CAST(x AS INTEGER))") == "(TRY_CAST(x AS INTEGER))"


def test_dialect_type_positions():
    # Presto generic-type spellings in CAST targets (SqlBase.g4 type
    # rules) must become Spark angle-bracket types — and must NOT be
    # eaten by the 2-arg map() constructor macro (ADVICE r2).
    assert translate("CAST(x AS MAP(VARCHAR, BIGINT))") == \
        "CAST(x AS MAP<STRING, BIGINT>)"
    assert translate("CAST(x AS ARRAY(ROW(a VARCHAR, b DOUBLE)))") == \
        "CAST(x AS ARRAY<STRUCT<a: STRING, b: DOUBLE>>)"
    # expression-position map() still rewrites
    assert translate("map(ARRAY['a'], ARRAY[1])") == \
        "map_from_arrays((array('a')), (array(1)))"


def test_dialect_array_literals():
    # Presto ARRAY[...] constructor (SqlBase.g4 primaryExpression) →
    # array(...); subscripts keep their brackets, strings untouched.
    assert translate("ARRAY[1, 2, 3]") == "array(1, 2, 3)"
    assert translate("ARRAY[ARRAY[1], ARRAY[2]]") == \
        "array(array(1), array(2))"
    assert translate("ARRAY['a[1]', ']']") == "array('a[1]', ']')"
    assert translate("m['k']") == "m['k']"


def test_dialect_brackets_in_try_and_macros():
    # '['/']' must count as nesting in the call/operator splitters
    # (ADVICE r2): subscript arithmetic stays inside the subscript, and
    # commas inside ARRAY[...] literals are not argument separators.
    assert translate("TRY(arr[idx-1])") == "(arr[idx-1])"
    assert translate("TRY(a[1] + b[2])") == \
        "try_add(element_at(a, 1), element_at(b, 2))"
    assert translate("remove_nulls(ARRAY[1, 2, NULL])") == \
        "filter((array(1, 2, NULL)), _ps_x -> _ps_x IS NOT NULL)"


def test_dialect_type_positions_run(spark):
    # end-to-end through the engine: the cast target parses and executes
    row = spark.sql(translate(
        "SELECT CAST(map(ARRAY['a'], ARRAY[1]) AS MAP(VARCHAR, BIGINT)) AS m"
    )).collect()[0]
    assert row.m == {"a": 1}


def test_strpos_semantics(spark):
    # Presto strpos: 1-based, 0 when absent (StringFunctions.java)
    assert one(spark, "strpos('hello', 'l')") == 3
    assert one(spark, "strpos('hello', 'zz')") == 0


def test_hamming_distance(spark):
    assert one(spark, "hamming_distance('karolin', 'kathrin')") == 3
    with pytest.raises(Exception):
        spark.sql("SELECT hamming_distance('ab', 'abc') AS v").collect()


def test_day_of_week_iso(spark):
    # 2024-01-01 is a Monday → ISO dow 1 (DateTimeFunctions.java)
    assert one(spark, "day_of_week(TIMESTAMP_NTZ '2024-01-01 10:00:00')") == 1
    assert one(spark, "day_of_week(TIMESTAMP_NTZ '2024-01-07 10:00:00')") == 7


def test_time_shims(spark):
    # TIME modeled as BIGINT millis-of-day (TimeType.java, SURVEY §1.2)
    assert one(spark, "time_of(9, 5, 3)") == 9 * 3600000 + 5 * 60000 + 3000
    assert one(spark, "format_time(time_of(9, 5, 3))") == "09:05:03"
    assert one(spark, "format_time(0L)") == "00:00:00"
    assert one(spark, "hour_of_time(86399999L)") == 23
    assert one(spark, "minute_of_time(86399999L)") == 59
    assert one(spark, "second_of_time(86399999L)") == 59
    ms = one(spark,
             "time_from_timestamp(TIMESTAMP_NTZ '2024-01-01 12:34:56.789')")
    assert ms == 12 * 3600000 + 34 * 60000 + 56789


def test_to_unixtime_fractional(spark):
    v = one(spark, "to_unixtime(TIMESTAMP_NTZ '2024-01-01 00:00:01.5')")
    assert abs(v - 1704067201.5) < 1e-6


def test_cosine_similarity(spark):
    v = one(spark, "cosine_similarity(array(1D, 0D), array(0D, 1D))")
    assert abs(v) < 1e-12
    v = one(spark, "cosine_similarity(array(1D, 2D), array(1D, 2D))")
    assert abs(v - 1.0) < 1e-12


def test_to_from_base(spark):
    assert one(spark, "to_base(255, 16)") == "ff"
    assert one(spark, "from_base('ff', 16)") == 255


def test_array_cum_sum(spark):
    assert one(spark, "array_cum_sum(array(1D, 2D, 3D))") == [1.0, 3.0, 6.0]


def test_array_ngrams(spark):
    v = one(spark, "array_ngrams(array('a','b','c'), 2)")
    assert v == [["a", "b"], ["b", "c"]]


def test_combinations(spark):
    """ArrayCombinationsFunction.java — the reference doc's own vectors
    (array.rst:197-207) plus the colex enumeration order, degenerate
    arms, and null propagation.  combinations() is generic in T, so it
    is a dialect macro (no monomorphic SQL UDF spelling) — every call
    routes through translate."""
    def tr(expr):
        return spark.sql(translate(f"SELECT {expr} AS v")).collect()[0].v

    assert tr("combinations(array('foo','bar','boo'), 2)") == [
        ["foo", "bar"], ["foo", "boo"], ["bar", "boo"]]
    assert tr("combinations(array(1,2,3,4,5), 3)") == [
        [1, 2, 3], [1, 2, 4], [1, 3, 4], [2, 3, 4], [1, 2, 5],
        [1, 3, 5], [2, 3, 5], [1, 4, 5], [2, 4, 5], [3, 4, 5]]
    assert tr("combinations(array(1,2,2), 2)") == [
        [1, 2], [1, 2], [2, 2]]
    assert tr("combinations(array(1,2,3), 0)") == [[]]
    assert tr("combinations(array(1,2), 4)") == []
    assert tr("combinations(CAST(NULL AS ARRAY<INT>), 2)") is None
    assert tr("combinations(array(1,2,3), CAST(NULL AS INT))") is None
    # 4- and 5-element tiers: count and first/last (colex)
    c4 = tr("combinations(sequence(1, 6), 4)")
    assert len(c4) == 15 and c4[0] == [1, 2, 3, 4] and c4[-1] == [3, 4, 5, 6]
    c5 = tr("combinations(sequence(1, 7), 5)")
    assert len(c5) == 21 and c5[0] == [1, 2, 3, 4, 5]
    assert c5[-1] == [3, 4, 5, 6, 7]


def test_width_bucket_bins_overload(spark):
    """MathFunctions.java:1667 widthBucket(operand, bins): result =
    count of bins <= x; the 4-arg spelling stays on Spark's builtin
    (the macro is arity-gated)."""
    def tr(expr):
        return spark.sql(translate(f"SELECT {expr} AS v")).collect()[0].v

    assert tr("width_bucket(3.14, ARRAY[0.0, 2.0, 4.0])") == 2
    assert tr("width_bucket(-1.0, ARRAY[0.0, 2.0, 4.0])") == 0
    assert tr("width_bucket(9.0, ARRAY[0.0, 2.0, 4.0])") == 3
    assert tr("width_bucket(2.0, ARRAY[0.0, 2.0, 4.0])") == 2  # ties low
    assert tr("width_bucket(CAST(NULL AS DOUBLE), ARRAY[0.0])") is None
    assert tr("width_bucket(5.0, 0.0, 10.0, 5)") == 3  # builtin 4-arg
    for expr, msg in [
        ("width_bucket(1.0, CAST(ARRAY[] AS ARRAY<DOUBLE>))",
         "empty array"),
        ("width_bucket(1.0, ARRAY[2.0, 1.0])", "not sorted"),
        ("width_bucket(double('NaN'), ARRAY[1.0])", "cannot be NaN"),
    ]:
        with pytest.raises(Exception, match=msg):
            spark.sql(translate(f"SELECT {expr} AS v")).coalesce(1).collect()


def test_checksum_sql_spelling(spark):
    """ChecksumAggregationFunction.java: order-insensitive aggregate
    returned as 8-byte VARBINARY (engine composition: sum-mod-2^64 of
    xxhash64 — the operators/aggregates.py deviation, rendered to
    binary so to_hex(checksum(x)) works)."""
    def tr(sql):
        return spark.sql(translate(sql)).collect()[0].v

    a = tr("SELECT to_hex(checksum(x)) AS v FROM (VALUES (1),(2),(3)) t(x)")
    b = tr("SELECT to_hex(checksum(x)) AS v FROM (VALUES (3),(1),(2)) t(x)")
    assert a == b and len(a) == 16
    assert tr("SELECT checksum(x) IS NULL AS v "
              "FROM (SELECT 1 AS x WHERE false) t") is True
    # value pin: exactly sum-mod-2^64 of xxhash64, cross-checked in
    # Python (the 32-bit-halves recombination must be bit-identical)
    hashes = spark.sql(
        "SELECT xxhash64(x) AS h FROM (VALUES (1),(2),(3)) t(x)").collect()
    expect = sum(r.h % (1 << 64) for r in hashes) % (1 << 64)
    assert a == format(expect, "016X")
    # ANSI-proof: the halves never overflow BIGINT, so the aggregate
    # survives spark.sql.ansi.enabled=true where a plain sum(xxhash64)
    # throws ARITHMETIC_OVERFLOW (ADVICE r12)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert tr("SELECT to_hex(checksum(x)) AS v "
                  "FROM (VALUES (1),(2),(3)) t(x)") == a
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_normalize_form_keyword_and_from_unixtime_overloads(spark):
    """normalize(s, FORM) takes a bare keyword (SqlParser normalForm);
    from_unixtime's 2-/3-arg forms return the TSWTZ struct model
    (DateTimeFunctions.java fromUnixTime overloads)."""
    def tr(expr):
        return spark.sql(translate(f"SELECT {expr} AS v")).collect()[0].v

    assert tr("normalize('Å', NFC)") == "Å"   # Å angstrom→ring A
    assert tr("normalize('㎛', NFKC)") != "㎛"  # compat expands
    assert tr("normalize('x', 'NFC')") == "x"           # quoted passes
    assert tr("tz_to_iso8601(from_unixtime(7200, 1, 30))") == (
        "1970-01-01T03:30:00.000+01:30")
    assert tr("tz_to_iso8601(from_unixtime(7200, -5, -30))") == (
        "1969-12-31T20:30:00.000-05:30")
    # the zone is built from TOTAL minutes = hours*60 + minutes
    # (TimeZoneKey.getTimeZoneKeyForOffset / zoneIdForOffset — ADVICE
    # r12): mixed signs and minute overflow normalize
    assert tr("tz_to_iso8601(from_unixtime(0, 1, -30))") == (
        "1970-01-01T00:30:00.000+00:30")
    assert tr("tz_to_iso8601(from_unixtime(0, 0, 90))") == (
        "1970-01-01T01:30:00.000+01:30")
    import pytest as _pytest
    with _pytest.raises(Exception, match="Invalid offset minutes 900"):
        spark.sql(translate(
            "SELECT tz_to_iso8601(from_unixtime(0, 15, 0)) AS v"
        )).coalesce(1).collect()
    assert str(tr("from_unixtime(100.5)")) == "1970-01-01 00:01:40.500000"
    w = tr("tz_wall(from_unixtime(0, 'America/New_York'))")
    assert str(w) == "1969-12-31 19:00:00"
    from presto_spark.functions.dialect import translate as _t
    once = _t("SELECT from_unixtime(x, 1, 30) FROM t")
    assert _t(once) == once


def test_substr_zero_start_conformance(spark):
    """StringFunctions.java substr: start == 0 returns '' where Spark
    treats 0 as 1.  Literal non-zero starts pass through untouched;
    only literal-0 and non-literal starts are rewritten."""
    def tr(expr):
        return spark.sql(translate(f"SELECT {expr} AS v")).collect()[0].v

    assert tr("substr('Quadratically', 0)") == ""
    assert tr("substr('abc', 0, 2)") == ""
    assert tr("substring('abc', 0)") == ""
    assert tr("substr('Quadratically', 5)") == "ratically"
    assert tr("substring('abc', -2)") == "bc"
    row = spark.sql(translate(
        "SELECT substr('abc', x) AS v FROM (SELECT 0 AS x)"
    )).collect()[0]
    assert row.v == ""
    # literal non-zero start leaves the text untouched (no plan noise)
    from presto_spark.functions.dialect import translate as _t
    assert "CASE WHEN" not in _t("SELECT substr(s, 3) FROM t")
    once = _t("SELECT substr(s, n, 2) FROM t")
    assert _t(once) == once  # idempotent over the runtime guard


def test_strpos_strrpos_instance_and_truncate2(spark):
    """StringFunctions.java stringPositionFromStart/FromEnd (3-arg
    strpos/strrpos: Nth occurrence, overlapping counted, positive
    instance required) and MathFunctions.java:362 truncate(x, n)."""
    import math as _math

    def tr(expr):
        return spark.sql(translate(f"SELECT {expr} AS v")).collect()[0].v

    assert tr("strpos('foobarfoo', 'foo', 2)") == 7
    assert tr("strpos('foobarfoo', 'foo', 3)") == 0
    assert tr("strpos('aaa', 'aa', 2)") == 2  # overlapping occurrences
    assert tr("strpos('foobarfoo', '', 2)") == 1
    assert tr("strrpos('foobarfoo', 'foo', 2)") == 1
    assert tr("strrpos('aaa', 'aa', 2)") == 1
    assert tr("strrpos('foobarfoo', 'zzz', 1)") == 0
    assert tr("strpos('high', 'ig')") == 2  # 2-arg stays on the UDF
    assert tr("truncate(17.18, 1)") == 17.1
    assert tr("truncate(17.18, -1)") == 10.0
    assert tr("truncate(-17.18, 1)") == -17.1
    assert tr("truncate(17.18, 0)") == 17.0
    assert _math.isnan(tr("truncate(double('NaN'), 1)"))
    assert tr("truncate(3.7)") == 3.0  # 1-arg stays on the UDF
    with pytest.raises(Exception, match="positive number"):
        spark.sql(translate(
            "SELECT strpos('x', 'y', 0) AS v")).coalesce(1).collect()


def test_regexp_extract_presto_conformance(spark):
    """Re2JRegexpFunctions.regexpExtract[All]: the 2-arg forms return
    group 0, and regexp_extract is NULL (not '') when nothing matches.
    Remaining pin: a matched pattern whose requested group did not
    participate yields '' where Presto gives NULL (group participation
    is invisible to the RLIKE guard)."""
    def tr(expr):
        return spark.sql(translate(f"SELECT {expr} AS v")).collect()[0].v

    assert tr("regexp_extract('1a2b', '[0-9]+')") == "1"
    assert tr("regexp_extract('abc', '[0-9]+')") is None
    assert tr("regexp_extract('a7', '([a-z])([0-9])', 2)") == "7"
    assert tr("regexp_extract('zzz', '([a-z])([0-9])', 2)") is None
    assert tr("regexp_extract_all('1a2b', '[0-9]')") == ["1", "2"]
    assert tr("regexp_extract_all('xyz', '[0-9]')") == []
    assert tr("regexp_extract_all('a1b2', '([a-z])([0-9])', 2)") == [
        "1", "2"]
    # translate() idempotency over the guarded expansion
    from presto_spark.functions.dialect import translate as _t
    once = _t("SELECT regexp_extract(x, 'p', 1) FROM t")
    assert _t(once) == once


def test_bit_count_two_arg(spark):
    """BitwiseFunctions.java:44 bitCount(num, bits) — the reference
    doc's vectors (bitwise.rst); 1-arg stays on Spark's builtin."""
    def tr(expr):
        return spark.sql(translate(f"SELECT {expr} AS v")).collect()[0].v

    assert tr("bit_count(9, 64)") == 2
    assert tr("bit_count(9, 8)") == 2
    assert tr("bit_count(-7, 64)") == 62
    assert tr("bit_count(-7, 8)") == 6
    assert tr("bit_count(CAST(NULL AS BIGINT), 8)") is None
    for expr, msg in [
        ("bit_count(9, 1)", "between 2 and 64"),
        ("bit_count(9, 65)", "between 2 and 64"),
        ("bit_count(500, 8)", "can not be represented"),
        ("bit_count(-500, 8)", "can not be represented"),
    ]:
        with pytest.raises(Exception, match=msg):
            spark.sql(translate(f"SELECT {expr} AS v")).coalesce(1).collect()


def test_combinations_raises(spark):
    import pytest as _pytest
    from presto_spark.functions.dialect import translate
    for expr, msg in [
        ("combinations(array(1,2,3), -1)", "must not be negative"),
        ("combinations(array(1,2,3), 6)", "must not exceed 5"),
        # combinationCount's int multiplyExact overflows FIRST and has
        # its own message (ArrayCombinationsFunction.java:103) —
        # C(300,5)*5 ~ 9.8e10 > 2^31-1
        ("combinations(sequence(1, 300), 5)",
         "Number of combinations too large for array of size 300 "
         "and combination length 5"),
        # C(200,3)*3 ~ 3.9e6: below int overflow, above the 100k
        # MAX_RESULT_ELEMENTS gate
        ("combinations(sequence(1, 200), 3)", "exceed max size"),
    ]:
        with _pytest.raises(Exception, match=msg):
            spark.sql(translate(f"SELECT {expr} AS v")).coalesce(1).collect()


def test_native_stats_close_to_exact(spark):
    """Native single-pass stddev/corr agree with exact-decimal formulas
    within FP tolerance (the exact versions are the oracle-checked path)."""
    row = spark.sql("""
      SELECT stddev_samp(l_quantity) AS sd, corr(l_quantity, l_discount) AS c,
             var_pop(l_quantity) AS vp
      FROM lineitem
    """).collect()[0]
    exact = spark.sql(REGISTRY_SQL).collect()[0]
    assert math.isclose(row.sd, exact.stddev_samp_qty, rel_tol=1e-6)
    assert math.isclose(row.c, exact.corr_qd, rel_tol=1e-4)
    assert math.isclose(row.vp, exact.var_pop_qty, rel_tol=1e-6)


from presto_spark.queries import REGISTRY  # noqa: E402

REGISTRY_SQL = REGISTRY["agg_moment_stats_exact"].oracle


def test_ip_functions(spark):
    # IpPrefixFunctions.java — canonical-string IPv4 model
    assert one(spark, "ip_prefix('192.168.255.255', 9)") == "192.128.0.0/9"
    assert one(spark, "ip_prefix('1.2.3.4', 32)") == "1.2.3.4/32"
    assert one(spark, "ip_subnet_min('192.64.0.0/10')") == "192.64.0.0"
    assert one(spark, "ip_subnet_max('192.64.0.0/10')") == "192.127.255.255"
    assert one(spark, "is_subnet_of('192.64.0.0/10', '192.100.1.2')") is True
    assert one(spark, "is_subnet_of('192.64.0.0/10', '192.128.0.0')") is False


# ---- datetime-format dialect translators (DateTimeFunctions.java:71) ----

def test_mysql_pattern_translation():
    from presto_spark.functions.datetime_formats import (
        UnsupportedPatternError, mysql_to_java)
    import pytest as _pytest
    assert mysql_to_java('%Y-%m-%d %H:%i:%s') == 'yyyy-MM-dd HH:mm:ss'
    assert mysql_to_java('%M %e, %Y') == 'MMMM d, yyyy'
    # literal letters must be quoted for java.time
    assert mysql_to_java('on %W') == "'on 'EEEE"
    assert mysql_to_java('100%% done') == "'100% done'"
    with _pytest.raises(UnsupportedPatternError):
        mysql_to_java('%v')  # week-based: Spark rejects 'w'


def test_joda_pattern_translation():
    from presto_spark.functions.datetime_formats import joda_to_java
    assert joda_to_java('YYYY/MM/dd') == 'yyyy/MM/dd'
    assert joda_to_java("yyyy-MM-dd'T'HH:mm:ssZZ") == "yyyy-MM-dd'T'HH:mm:ssxxx"
    assert joda_to_java("'at' HH") == "'at' HH"


def test_dialect_datetime_rewrite_idempotent():
    from presto_spark.functions.dialect import translate
    s = "SELECT date_format(ts, '%Y-%m') , date_parse(s, '%Y'), " \
        "format_datetime(ts, 'YYYY'), date_format(ts, fmt_col) FROM t"
    t1 = translate(s)
    assert "date_format/*dt*/(ts, 'yyyy-MM')" in t1
    assert "to_timestamp/*dt*/(s, 'yyyy')" in t1
    # non-literal pattern → per-row Python renderer (MySQL semantics;
    # DateTimeFunctions.java evaluates patterns per row)
    assert "date_format_py(ts, fmt_col)" in t1
    assert translate(t1) == t1


def test_per_row_week_fields_match_literal_path():
    """%v/%x and Joda ww/xxxx must render in the per-row Python tier
    exactly as the literal concat-lowering does (ISO-8601 week
    numbering) — a column-valued pattern must not NULL where the same
    literal pattern succeeds."""
    import datetime

    from presto_spark.functions._datetime_pandas_udfs import (
        render_joda, render_mysql)

    d = datetime.datetime(2021, 1, 1, 12, 0, 0)  # ISO week 53 of 2020
    assert render_mysql(d, "%x-%v") == "2020-53"
    assert render_joda(d, "xxxx-'W'ww") == "2020-W53"
    d2 = datetime.datetime(2026, 1, 1)  # ISO week 1 of 2026
    assert render_mysql(d2, "%v/%x") == "01/2026"
    assert render_joda(d2, "w") == "1"


def test_jarowinkler_rounds_low_similarity_branch():
    """Presto rounds jaro_winkler to 2 decimals unconditionally
    (StringFunctions.java:838) — including results at or below the 0.7
    prefix-boost threshold."""
    from presto_spark.functions._text_pandas_udfs import _jaro_winkler

    v = _jaro_winkler("abc", "xbz")  # jaro = 0.5555... <= 0.7
    assert v == 0.56


def test_mysql_concat_form_literal_prefix_not_sniffed():
    """A pattern chunk whose literal text starts with 'cast('/'lpad('
    must be emitted as a QUOTED literal, not raw SQL — chunks are tagged
    structurally, not sniffed by prefix."""
    from presto_spark.functions.dialect import _mysql_concat_form

    e = _mysql_concat_form("ts", "cast(%v")
    assert e.startswith("concat('cast(', ")
    e2 = _mysql_concat_form("ts", "lpad(%x")
    assert e2.startswith("concat('lpad(', ")


# ---- extended JSONPath tier (JsonPath.java buildJayway fallback) ----

def test_jsonpath_evaluator():
    from presto_spark.functions.jsonpath import (
        JsonPathError, extract_json, extract_scalar, json_size)
    import pytest as _pytest
    doc = ('{"a":{"b":[{"x":1},{"x":2}],"c":{"x":3}},"k y":"v","arr":[1,2,3]}')
    assert extract_json(doc, '$..x') == '[1,2,3]'
    assert extract_json(doc, '$.a.b[?(@.x==2)]') == '[{"x":2}]'
    assert extract_json(doc, "$['k y']") == '"v"'
    assert extract_scalar(doc, "$['k y']") == 'v'
    assert extract_json(doc, '$.arr[-1]') == '3'
    assert extract_json(doc, '$.arr[0:2]') == '[1,2]'
    assert extract_json(doc, '$.a.*') == '[[{"x":1},{"x":2}],{"x":3}]'
    assert json_size(doc, '$.a') == 2
    assert json_size(doc, '$.arr') == 3
    assert json_size(doc, "$['k y']") == 0
    # definite no-match -> NULL; indefinite no-match -> []
    assert extract_json(doc, '$.zzz') is None
    assert extract_json(doc, '$..zzz') == '[]'
    # scalar on non-scalar / multi -> NULL (Presto jsonExtractScalar)
    assert extract_scalar(doc, '$.a') is None
    assert extract_scalar(doc, '$..x') is None
    # invalid JSON -> NULL (InvalidJsonException handling)
    assert extract_json('{oops', '$.a') is None
    with _pytest.raises(JsonPathError):
        extract_json(doc, 'a.b')  # must start with $


def test_dialect_jsonpath_routing():
    from presto_spark.functions.dialect import translate
    # extended literal paths -> python tier
    assert "json_extract_py" in translate("SELECT json_extract(j, '$..p')")
    assert "json_size_py" in translate("SELECT json_size(j, '$.a[?(@.x)]')")
    # simple literal paths stay JVM-side
    assert "json_extract(" in translate("SELECT json_extract(j, '$.a[0].b')")
    # non-literal (per-row) paths route to the python tier —
    # get_json_object requires a foldable path, so JVM-side would fail
    assert "json_extract_py(j, p)" in translate("SELECT json_extract(j, p)")


# ---- general TRY + polymorphic macro expansion (TryFunction.java,
# ArraySqlFunctions.java generics) ----

def test_dialect_general_try_rewrite():
    from presto_spark.functions.dialect import translate
    assert "try_divide(1, 0)" in translate("SELECT TRY(1/0)")
    assert "try_add(a, b * c)" in translate("SELECT TRY(a + b * c)")
    assert "try_subtract(a + b, c)" in translate("SELECT TRY(a + b - c)")
    # TRY(CAST) keeps the dedicated TRY_CAST rule
    assert "TRY_CAST(x AS INT" in translate("SELECT TRY(CAST(x AS INTEGER))")
    # non-arithmetic: unwraps (non-ANSI null semantics)
    assert translate("SELECT TRY(element_at(a, 9))") == \
        "SELECT (element_at(a, 9))"
    # unary minus is not a binary split point
    assert "try_add(a, -5)" in translate("SELECT TRY(a + -5)")


def test_dialect_macro_expansion_polymorphic():
    from presto_spark.functions.dialect import translate
    t = translate("SELECT remove_nulls(arr) FROM t")
    assert "filter((arr), _ps_x -> _ps_x IS NOT NULL)" in t
    t2 = translate("SELECT array_top_n(remove_nulls(a), 3)")
    assert "_MACROS" not in t2 and "remove_nulls" not in t2  # nested expanded
    assert translate(t2) == t2  # idempotent


def test_porter_stemmer_canonical_vocabulary():
    """Canonical cases from Porter's 1980 paper (the algorithm behind
    Lucene's PorterStemmer, WordStemFunction.java)."""
    from presto_spark.functions.porter import stem
    cases = {
        'caresses': 'caress', 'ponies': 'poni', 'ties': 'ti',
        'caress': 'caress', 'cats': 'cat', 'feed': 'feed',
        'agreed': 'agre', 'plastered': 'plaster', 'bled': 'bled',
        'motoring': 'motor', 'sing': 'sing', 'conflated': 'conflat',
        'troubled': 'troubl', 'sized': 'size', 'hopping': 'hop',
        'tanned': 'tan', 'falling': 'fall', 'hissing': 'hiss',
        'fizzed': 'fizz', 'failing': 'fail', 'filing': 'file',
        'happy': 'happi', 'sky': 'sky', 'relational': 'relat',
        'conditional': 'condit', 'rational': 'ration',
        'valenci': 'valenc', 'hesitanci': 'hesit', 'digitizer': 'digit',
        'conformabli': 'conform', 'radicalli': 'radic',
        'differentli': 'differ', 'vileli': 'vile',
        'analogousli': 'analog', 'vietnamization': 'vietnam',
        'predication': 'predic', 'operator': 'oper',
        'feudalism': 'feudal', 'decisiveness': 'decis',
        'hopefulness': 'hope', 'callousness': 'callous',
        'formaliti': 'formal', 'sensitiviti': 'sensit',
        'sensibiliti': 'sensibl', 'triplicate': 'triplic',
        'formative': 'form', 'formalize': 'formal',
        'electriciti': 'electr', 'electrical': 'electr',
        'hopeful': 'hope', 'goodness': 'good', 'revival': 'reviv',
        'allowance': 'allow', 'inference': 'infer',
        'airliner': 'airlin', 'gyroscopic': 'gyroscop',
        'adjustable': 'adjust', 'defensible': 'defens',
        'irritant': 'irrit', 'replacement': 'replac',
        'adjustment': 'adjust', 'dependent': 'depend',
        'adoption': 'adopt', 'communism': 'commun',
        'activate': 'activ', 'angulariti': 'angular',
        'homologous': 'homolog', 'effective': 'effect',
        'bowdlerize': 'bowdler', 'probate': 'probat', 'rate': 'rate',
        'cease': 'ceas', 'controll': 'control', 'roll': 'roll',
    }
    bad = {w: (stem(w), want) for w, want in cases.items() if stem(w) != want}
    assert not bad, bad


def test_incomplete_cdf_special_functions():
    """stats.py incomplete gamma/beta vs independent closed forms
    (MathFunctions.java CDF family)."""
    import math
    from presto_spark.functions import stats as S

    assert abs(S.chi_squared_cdf(2, 3.0) - (1 - math.exp(-1.5))) < 1e-12
    assert abs(S.gamma_cdf(3, 2.0, 7.0)
               - (1 - math.exp(-3.5) * (1 + 3.5 + 3.5 ** 2 / 2))) < 1e-12
    assert abs(S.poisson_cdf(2.0, 3)
               - math.exp(-2) * (1 + 2 + 2 + 4 / 3)) < 1e-12
    assert abs(S.binomial_cdf(20, 0.5, 8)
               - sum(math.comb(20, i) for i in range(9)) / 2 ** 20) < 1e-12
    assert abs(S.beta_cdf(2, 3, 0.4) - 0.5248) < 1e-12
    assert abs(S.f_cdf(2, 4, 1.5) - (1 - (4 / 7) ** 2)) < 1e-12
    assert abs(S.beta_cdf(5, 5, 0.5) - 0.5) < 1e-12
    # quantile round-trip
    for p in (0.05, 0.3, 0.7, 0.99):
        assert abs(S.betainc(2.5, 4.0, S.inverse_beta_cdf(2.5, 4.0, p)) - p) < 1e-10
    # domain edges
    assert S.beta_cdf(2, 3, -0.5) == 0.0 and S.beta_cdf(2, 3, 1.5) == 1.0
    assert math.isnan(S.chi_squared_cdf(-1, 2.0))


def test_dialect_from_clause_grammar():
    """UNNEST / TABLESAMPLE / limit-clause grammar lowering
    (SqlBase.g4:309-311,357-377; VERDICT r3 missing #1)."""
    from presto_spark.functions.dialect import translate
    t = translate("SELECT v FROM t CROSS JOIN UNNEST(arr) AS u(v)")
    assert ", LATERAL (SELECT try_element_at(arr, _ps_i) AS v" in t
    t = translate(
        "SELECT v, o FROM t CROSS JOIN UNNEST(arr) WITH ORDINALITY AS u(v, o)")
    assert "_ps_i AS o" in t
    t = translate("SELECT k, v FROM UNNEST(m) AS u(k, v)")
    assert "FROM (SELECT key AS k, value AS v FROM (SELECT explode(m))) u" in t
    t = translate("SELECT * FROM lineitem TABLESAMPLE BERNOULLI(12.5)")
    assert "TABLESAMPLE (12.5 PERCENT)" in t
    # string literals containing the keywords stay untouched
    s = "SELECT 'UNNEST(a) AS t(v)' AS a, 'TABLESAMPLE BERNOULLI(1)' AS b"
    assert translate(s) == s


def test_dialect_typed_literals_row_fetch():
    """Typed literals (SqlBase.g4 typeConstructor), ROW constructor
    (RowType.java), FETCH FIRST/OFFSET ROWS limit spellings."""
    from presto_spark.functions.dialect import translate
    assert translate("SELECT DECIMAL '1.50'") == \
        "SELECT CAST('1.50' AS DECIMAL(3, 2))"
    assert translate("SELECT DECIMAL '-123'") == \
        "SELECT CAST('-123' AS DECIMAL(3, 0))"
    assert translate("SELECT DOUBLE '2.5'") == "SELECT CAST('2.5' AS DOUBLE)"
    assert translate("SELECT REAL '2'") == "SELECT CAST('2' AS FLOAT)"
    assert translate("SELECT VARCHAR 'hi'") == "SELECT 'hi'"
    assert translate("SELECT ROW(1, 'a')") == "SELECT struct(1, 'a')"
    # type-position ROW is consumed first, not turned into struct()
    assert translate("SELECT CAST(ROW(1) AS ROW(x INTEGER))") == \
        "SELECT CAST(struct(1) AS STRUCT<x: INTEGER>)"
    assert translate("SELECT x FROM t FETCH FIRST 5 ROWS ONLY") == \
        "SELECT x FROM t LIMIT 5"
    assert translate("SELECT x FROM t OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY") \
        == "SELECT x FROM t LIMIT 3 OFFSET 2"
    assert translate("SELECT x FROM t OFFSET 4 ROWS") == \
        "SELECT x FROM t OFFSET 4"
    # literals carrying the spellings stay untouched
    s = "SELECT 'DECIMAL ''1.5''' AS a, 'FETCH FIRST 1 ROWS ONLY' AS b"
    assert translate(s) == s


def test_dialect_at_time_zone():
    """expr AT TIME ZONE 'z' (SqlBase.g4 AT_TIMEZONE) lowers onto the
    tswtz shim (the TIMESTAMP-WITH-TIME-ZONE struct — round 10; the
    round-4 at_timezone lowering lost the zone, so timezone_hour over
    an AT TIME ZONE result could not analyze); operand may be a typed
    literal, call, or column."""
    from presto_spark.functions.dialect import translate
    assert translate("SELECT ts AT TIME ZONE 'UTC' FROM t") == \
        "SELECT tswtz(ts, 'UTC') FROM t"
    assert translate(
        "SELECT TIMESTAMP '2020-01-01 12:00:00' AT TIME ZONE 'America/New_York'"
    ) == "SELECT tswtz(TIMESTAMP '2020-01-01 12:00:00', 'America/New_York')"
    assert translate("SELECT date_trunc('hour', ts) AT TIME ZONE zc FROM t") \
        == "SELECT tswtz(date_trunc('hour', ts), zc) FROM t"
    s = "SELECT 'AT TIME ZONE' AS lit"
    assert translate(s) == s


def test_dialect_double_quoted_identifiers():
    """Presto (and its own SQL formatter, which produced the
    reference's TPC-DS product-test texts) double-quotes identifiers
    AND function names; Spark wants backticks and bare function names
    (round 10, corpus tpcds tier)."""
    from presto_spark.functions.dialect import translate
    assert translate('SELECT "sum"("x") "total x" FROM "t"') == \
        'SELECT sum(`x`) `total x` FROM `t`'
    s = """SELECT '"not an ident"' AS s"""
    assert translate(s) == s
    assert translate('SELECT "a""b" FROM t') == 'SELECT `a"b` FROM t'


def test_dialect_rankish_window_conformance():
    """Presto accepts rank() over an unordered window (all rows are
    peers) and explicit frames on ranking/offset functions; Spark
    rejects both.  The rewrite inserts a constant ORDER BY (exactly
    the all-peers semantics) and strips the no-op frames (round 10,
    corpus window_functions tier)."""
    from presto_spark.functions.dialect import translate
    out = translate("SELECT rank() OVER (PARTITION BY p) FROM t")
    assert "ORDER BY 1" in out
    out = translate(
        "SELECT lag(x) OVER (ORDER BY y "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    assert "ROWS" not in out and "ORDER BY y" in out
    out = translate(
        "SELECT rank() OVER (ORDER BY x "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
    assert "RANGE" not in out
    # aggregate windows keep their (meaningful) frames and may stay
    # unordered
    s = "SELECT sum(x) OVER (PARTITION BY p) FROM t"
    assert translate(s) == s
    out = translate("SELECT sum(x) OVER (ORDER BY y "
                    "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    assert "ROWS BETWEEN 1 PRECEDING" in out


def test_dialect_default_nulls_last():
    """Presto sorts NULLS LAST regardless of direction when no
    directive is written (select.rst:588); Spark defaults NULLS FIRST
    on ASC.  Every directive-less sort item gets an explicit NULLS
    LAST; explicit directives are preserved (round 10)."""
    from presto_spark.functions.dialect import translate
    out = translate("SELECT a FROM t ORDER BY a DESC, b ASC NULLS FIRST, c")
    assert out == ("SELECT a FROM t ORDER BY a DESC NULLS LAST,"
                   " b ASC NULLS FIRST, c NULLS LAST")
    out = translate("SELECT max(a) OVER (ORDER BY b) FROM t LIMIT 3")
    assert "ORDER BY b NULLS LAST" in out and out.endswith("LIMIT 3")
    out = translate(
        "SELECT a FROM t ORDER BY CASE WHEN a > 1 THEN 1 ELSE 2 END DESC")
    assert out.endswith("END DESC NULLS LAST")


def test_dialect_kurtosis_is_unbiased(spark):
    """Presto kurtosis is the UNBIASED excess estimate
    (aggregate.rst:990); Spark's is the population estimate — the
    corpus golden aggregate/kurtosis.result distinguishes them.
    Cross-checked against the hand-computed value on the corpus
    datatype fixture's c_bigint column."""
    from presto_spark.engine import Engine
    eng = Engine(spark)
    vals = [12, 25, 964, 100, 100, 5252, 100, 8996, 100, 5748, 5748,
            5748, 5748, 5000, 6000]
    rows = ", ".join(f"({v})" for v in vals)
    got = eng.sql(
        f"SELECT kurtosis(v) AS k FROM (VALUES {rows}) AS t(v)"
    ).collect()[0].k
    assert abs(got - (-1.5738414148886837)) < 1e-9


def test_dialect_quantified_comparisons(spark):
    """expr op ANY/ALL/SOME (subquery) (SqlBase.g4 quantifiedComparison)
    — Spark has no quantified comparisons.  = ANY lowers to IN and
    <> ALL to NOT IN (semi/anti-joinable); ordered ops lower onto a
    min/max/count summary encoding Presto's exact three-valued result
    (round 10, semantic corpus)."""
    from presto_spark.engine import Engine
    eng = Engine(spark)
    rows = eng.sql("""
        SELECT 5 > ALL(SELECT x FROM (VALUES 1, 2) t(x))          AS t1,
               1 > ALL(SELECT x FROM (VALUES 1, 2) t(x))          AS f1,
               5 > ALL(SELECT x FROM (VALUES 1, 2) t(x) WHERE x > 9) AS empty_all,
               5 < ANY(SELECT x FROM (VALUES 1, 2) t(x) WHERE x > 9) AS empty_any,
               2 > ALL(SELECT x FROM (VALUES 1, NULL) t(x))       AS null_mix,
               0 > ALL(SELECT x FROM (VALUES 1, NULL) t(x))       AS false_dominates,
               2 = ALL(SELECT x FROM (VALUES 2, 2) t(x))          AS eq_all,
               2 = ALL(SELECT x FROM (VALUES 2, 3) t(x))          AS eq_all_f,
               2 <> ANY(SELECT x FROM (VALUES 2, 3) t(x))         AS ne_any,
               1 = ANY(SELECT x FROM (VALUES 1, 2) t(x))          AS in_form,
               4 <> ALL(SELECT x FROM (VALUES 1, 2) t(x))         AS not_in_form
    """).collect()[0]
    assert rows.t1 and not rows.f1
    assert rows.empty_all and not rows.empty_any
    assert rows.null_mix is None and rows.false_dominates is False
    assert rows.eq_all and not rows.eq_all_f
    assert rows.ne_any and rows.in_form and rows.not_in_form


def test_dialect_array_agg_presto_semantics(spark):
    """array_agg KEEPS null elements and returns NULL over an empty
    group/frame (ArrayAggregationFunction.java); Spark's collect_list
    drops nulls and returns [] — the struct-routing rewrite closes
    both (round 10, semantic corpus window tier)."""
    from presto_spark.engine import Engine
    eng = Engine(spark)
    r = eng.sql("SELECT array_agg(x) AS a FROM (VALUES 1, NULL, 2) t(x)"
                ).collect()[0]
    assert r.a == [1, None, 2]
    r = eng.sql("SELECT array_agg(x) AS a FROM (VALUES 1) t(x) WHERE x > 5"
                ).collect()[0]
    assert r.a is None
    rows = eng.sql(
        "SELECT a, array_agg(a) OVER(ORDER BY a "
        "ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS w "
        "FROM (VALUES 1, 2) t(a) ORDER BY a").collect()
    assert rows[0].w is None and rows[1].w == [1]


def test_dialect_agg_spellings(spark):
    """SQL spellings for the aggregate tier the engine also ships as
    DataFrame operators: map_agg / set_agg / set_union / reduce_agg /
    min(x,n) / max(x,n) / count() / apply (round 10)."""
    from presto_spark.engine import Engine
    eng = Engine(spark)
    r = eng.sql("""
        SELECT map_agg(k, v) AS m,
               set_agg(k) AS s,
               reduce_agg(k, 0, (a, b) -> a + b, (a, b) -> a + b) AS r,
               min(k, 2) AS mn2,
               max(k, 2) AS mx2,
               count() AS c
        FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) t(k, v)
    """).collect()[0]
    assert r.m == {1: "a", 2: "b"} and sorted(r.s) == [1, 2]
    assert r.r == 5 and r.mn2 == [1, 2] and r.mx2 == [2, 2] and r.c == 3
    r = eng.sql("SELECT set_union(x) AS u FROM "
                "(VALUES ARRAY[1,2], ARRAY[2,3]) t(x)").collect()[0]
    assert sorted(r.u) == [1, 2, 3]
    r = eng.sql("SELECT apply(5, x -> x * x) AS a").collect()[0]
    assert r.a == 25
    r = eng.sql("SELECT 1.0 IN (VALUES (1), (2))").collect()[0][0]
    assert r is True
    r = eng.sql("SELECT U&'text\\000Amore'").collect()[0][0]
    assert r == "text\nmore"


def test_dialect_try_never_splits_under_comparison():
    """TRY(1 / x != 1000) must unwrap whole — splitting the arithmetic
    under a top-level comparison produced try_divide(1, x != 1000)
    (round-10 semantic-corpus catch)."""
    from presto_spark.functions.dialect import translate
    out = translate("SELECT TRY(1 / (b-a) != 1000) FROM t")
    assert "try_divide" not in out
    out = translate("SELECT TRY(1 / (b-a)) FROM t")
    assert "try_divide(1, (b-a))" in out


def test_dialect_contains_repeat_are_array_semantics():
    """Presto `contains`/`repeat` are ARRAY functions (ArrayContains /
    RepeatFunction) whose names collide with string builtins in Spark —
    the dialect path resolves them to Presto semantics."""
    from presto_spark.functions.dialect import translate
    assert translate("SELECT contains(arr, 3)") == \
        "SELECT array_contains((arr), (3))"
    assert translate("SELECT repeat(x, 4)") == \
        "SELECT array_repeat((x), (4))"
    s = "SELECT 'contains(a, b)' AS lit"
    assert translate(s) == s


def test_dialect_approx_percentile_weighted_arity(spark):
    """Presto 3-arg approx_percentile(x, w, pct) is WEIGHTED
    (ApproximateLongPercentileAggregations.java) — a bare rename onto
    percentile_approx would read the weight as the accuracy argument.
    The weighted forms lower to Spark's exact percentile(x, pct, w)."""
    from presto_spark.functions.dialect import translate
    assert translate("SELECT approx_percentile(x, 0.5) FROM t") == \
        "SELECT percentile_approx(x, 0.5) FROM t"
    assert translate("SELECT approx_percentile(x, w, 0.5) FROM t") == \
        "SELECT percentile(x, 0.5, w) FROM t"
    assert translate("SELECT approx_percentile(x, w, 0.5, 0.01) FROM t") == \
        "SELECT percentile(x, 0.5, w) FROM t"
    # end-to-end: weight 3 on value 10 shifts the median to 10
    (row,) = spark.sql(translate(
        "SELECT approx_percentile(v, w, 0.5) AS p FROM "
        "(VALUES (1, 1), (10, 3), (2, 1)) AS t(v, w)")).collect()
    assert row.p == 10.0


def test_dialect_array_minmax_by(spark):
    """array_max_by/array_min_by(arr, x -> key) (ArraySqlFunctions.java)
    expand to an aggregate() fold with textual lambda substitution."""
    from presto_spark.functions.dialect import translate
    t = translate("SELECT array_max_by(a, x -> length(x))")
    assert t.startswith("SELECT aggregate((a), element_at((a), 1),")
    (row,) = spark.sql(translate(
        "SELECT array_max_by(ARRAY['ab', 'abcd', 'c'], x -> length(x)) AS mx,"
        "       array_min_by(ARRAY['ab', 'abcd', 'c'], x -> length(x)) AS mn"
    )).collect()
    assert row.mx == "abcd" and row.mn == "c"
    # param name must not capture inside string literals or other idents
    (row,) = spark.sql(translate(
        "SELECT array_max_by(ARRAY[1, 5, 3], v -> v) AS mx")).collect()
    assert row.mx == 5


def test_dialect_mysql_iso_week_concat_lowering(spark):
    """MySQL %v/%x (ISO week / week-year) are Presto-supported but have
    no Spark pattern letters — date_format lowers to a concat of
    date_format chunks + weekofyear/year_of_week expressions."""
    from presto_spark.functions.dialect import translate
    t = translate("SELECT date_format(ts, '%x-W%v') FROM t")
    assert "year_of_week(ts)" in t and "weekofyear(ts)" in t
    (row,) = spark.sql(translate(
        "SELECT date_format(TIMESTAMP '2020-12-31 00:00:00', '%x-W%v') AS v"
    )).collect()
    assert row.v == "2020-W53"  # Dec 31 2020 falls in ISO week 53 of 2020
    (row,) = spark.sql(translate(
        "SELECT date_format(TIMESTAMP '2024-12-30 00:00:00', '%x-W%v') AS v"
    )).collect()
    assert row.v == "2025-W01"  # Dec 30 2024 is Monday of ISO 2025-W01


def test_dialect_joda_week_concat_lowering(spark):
    """Joda ww/xxxx (weekOfWeekyear / weekyear) lower to the same
    concat form as the MySQL ISO-week fields, including quoted literal
    text inside the pattern."""
    from presto_spark.functions.dialect import translate
    (row,) = spark.sql(translate(
        "SELECT format_datetime(TIMESTAMP '2020-12-31 00:00:00', "
        "'xxxx-''W''ww') AS v")).collect()
    assert row.v == "2020-W53"
    (row,) = spark.sql(translate(
        "SELECT format_datetime(TIMESTAMP '2024-12-30 00:00:00', "
        "'xxxx/ww') AS v")).collect()
    assert row.v == "2025/01"


def test_teradata_format_conversion():
    """DateFormatParser.java element grammar → Java patterns: padded
    fields for the format direction, 1-2-digit fields for parsing;
    unrecognized letter runs raise (DateFormatParser.java:100-104)."""
    import pytest

    from presto_spark.functions.teradata import teradata_format_to_java

    assert teradata_format_to_java("yyyy/mm/dd hh24:mi:ss", "format") == \
        "yyyy'/'MM'/'dd' 'HH':'mm':'ss"
    assert teradata_format_to_java("yyyy/mm/dd hh24:mi:ss", "parse") == \
        "yyyy'/'M'/'d' 'H':'m':'s"
    assert teradata_format_to_java("YYYY-MM-DD", "format") == \
        "yyyy'-'MM'-'dd"  # case-insensitive tokens
    with pytest.raises(ValueError):
        teradata_format_to_java("yyyy-mon-dd", "format")


def test_teradata_functions_end_to_end(spark):
    """TeradataDateFunctions.java:85-130 semantics via the Engine:
    zero-padded to_char, 1-digit-tolerant parsing, yy pivot at 2000,
    index/char2hexint (TeradataStringFunctions.java:40,109)."""
    import datetime

    from presto_spark.engine import Engine

    eng = Engine(spark)
    row = eng.sql(
        "SELECT to_char(TIMESTAMP '1988-04-08 02:03:04', "
        "               'yyyy/mm/dd hh24:mi:ss') AS a, "
        "       to_timestamp('1988/4/8 2:3:4', "
        "                    'yyyy/mm/dd hh24:mi:ss') AS b, "
        "       to_date('88/4/8', 'yy/mm/dd') AS c, "
        "       index('chocolate', 'late') AS d, "
        "       index('chocolate', 'zz') AS e, "
        "       char2hexint('abc') AS f"
    ).collect()[0]
    assert row.a == "1988/04/08 02:03:04"
    assert row.b == datetime.datetime(1988, 4, 8, 2, 3, 4)
    assert row.c == datetime.date(2088, 4, 8)  # yy pivots at 2000
    assert (row.d, row.e) == (6, 0)
    assert row.f == "006100620063"
    # 'hh' is HOUR_OF_AMPM (0-11, reference TeradataDateFunctions):
    # midnight prints 00 (not clock-hour 12), and '0' parses (ADVICE r5).
    row2 = eng.sql(
        "SELECT to_char(TIMESTAMP '1988-04-08 00:03:04', 'hh:mi') AS g, "
        "       to_timestamp('1988/4/8 0:3', 'yyyy/mm/dd hh:mi') AS h"
    ).collect()[0]
    assert row2.g == "00:03"
    assert row2.h == datetime.datetime(1988, 4, 8, 0, 3, 0)
    # Column-valued format: per-row path (TeradataDateFunctions compiles
    # the format per value — a non-literal format is legal Presto SQL).
    row3 = eng.sql(
        "SELECT to_char(TIMESTAMP '1988-04-08 14:03:04', f) AS a, "
        "       CAST(to_date(v, f2) AS STRING) AS b, "
        "       to_timestamp(v3, f3) AS c "
        "FROM (SELECT 'yyyy/mm/dd hh24:mi' AS f, '88-12-31' AS v, "
        "             'yy-mm-dd' AS f2, '1988/4/8 2:3' AS v3, "
        "             'yyyy/mm/dd hh:mi' AS f3)"
    ).collect()[0]
    assert row3.a == "1988/04/08 14:03"
    assert row3.b == "2088-12-31"
    assert row3.c == datetime.datetime(1988, 4, 8, 2, 3, 0)


# ---- binary tail (HmacFunctions.java, VarbinaryFunctions.java:250-307;
# functions/_binary_pandas_udfs.py) ----

def test_binary_tail_reference_vectors(spark):
    """Byte-for-byte parity with the reference's test vectors
    (TestVarbinaryFunctions.java:348-349, :475-477)."""
    row = run_sql(
        spark,
        "SELECT upper(hex(hmac_md5(encode('hashme','UTF-8'), "
        "encode('key','UTF-8')))) AS h, "
        "upper(hex(murmur3_x64_128(encode('hashme','UTF-8')))) AS m, "
        "upper(hex(to_ieee754_64(cast(0.5 AS DOUBLE)))) AS e, "
        "from_ieee754_64(to_ieee754_64(cast(-2.5 AS DOUBLE))) AS rt"
    ).collect()[0]
    assert row.h == "0A26EBEB0E7B65F528D96F7BC631BC8F"
    assert row.m == "93192FE805BE23041C8318F67EC4F2BC"
    assert row.e == "3FE0000000000000"
    assert row.rt == -2.5


def test_from_ieee754_wrong_length_raises(spark):
    with pytest.raises(Exception, match="exactly 8 bytes"):
        run_sql(
            spark, "SELECT from_ieee754_64(encode('abc', 'UTF-8'))").collect()


def test_map_lambda_predicates_through_engine(spark):
    """any/all/no keys/values match (presto-sql-helpers
    MapSqlFunctions) lower onto map_keys/map_values + exists/forall."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    row = eng.sql(
        "SELECT any_keys_match(map(ARRAY['ab', 'cde'], ARRAY[1, 2]), "
        "  k -> length(k) > 2) AS akm, "
        "all_keys_match(map(ARRAY['ab', 'cde'], ARRAY[1, 2]), "
        "  k -> length(k) > 1) AS alkm, "
        "no_keys_match(map(ARRAY['ab', 'cde'], ARRAY[1, 2]), "
        "  k -> k = 'zz') AS nkm, "
        "any_values_match(map(ARRAY['a'], ARRAY[7]), x -> x = 7) AS avm, "
        "no_values_match(map(ARRAY['a'], ARRAY[7]), x -> x > 10) AS nvm"
    ).collect()[0]
    assert (row.akm, row.alkm, row.nkm, row.avm, row.nvm) == (
        True, True, True, True, True)


def test_secure_random_range(spark):
    from presto_spark.engine import Engine

    eng = Engine(spark)
    rows = eng.sql(
        "SELECT secure_rand() AS r, secure_random(5.0, 9.0) AS rr, "
        "secure_random(9.0, 5.0) AS bad"
    ).collect()[0]
    assert 0.0 <= rows.r < 1.0
    assert 5.0 <= rows.rr < 9.0
    assert rows.bad is None


def test_spooky_and_base32_vectors(spark):
    """SpookyHash V2 + base32 against the reference's own vectors
    (TestVarbinaryFunctions.java:146-163, :385-388)."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    row = eng.sql(
        "SELECT upper(hex(spooky_hash_v2_64(encode('hello', 'UTF-8')))) AS s64, "
        "upper(hex(spooky_hash_v2_32(encode('', 'UTF-8')))) AS s32, "
        "to_base32(encode('hello world', 'UTF-8')) AS b32, "
        "decode(from_base32('MFRGG==='), 'UTF-8') AS b32d"
    ).collect()[0]
    assert row.s64 == "3768826AD382E6CA"
    assert row.s32 == "6BF50919"
    assert row.b32 == "NBSWY3DPEB3W64TMMQ======"
    assert row.b32d == "abc"


def test_ip_prefix_collapse_edge_cases(spark):
    from presto_spark.engine import Engine

    eng = Engine(spark)
    row = eng.sql(
        "SELECT ip_prefix_collapse(array('1.2.3.4/32', '1.2.3.5/32')) AS a, "
        "ip_prefix_collapse(array('255.255.255.255/32')) AS b, "
        "ip_prefix_collapse(array('0.0.0.0/1', '128.0.0.0/1')) AS c"
    ).collect()[0]
    assert row.a == ["1.2.3.4/31"]
    assert row.b == ["255.255.255.255/32"]
    assert row.c == ["0.0.0.0/0"]


def test_bitwise_shift_doc_examples(spark):
    """The exact worked examples from bitwise.rst."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    r = eng.sql(
        "SELECT bitwise_left_shift(7, 2) AS a, "
        "bitwise_right_shift(7, 2) AS b, "
        "bitwise_right_shift_arithmetic(-8, 2) AS c, "
        "bitwise_arithmetic_shift_right(-8, 2) AS d, "
        "bitwise_shift_left(7, 2, 4) AS e, "
        "bitwise_shift_left(7, 2, 64) AS f, "
        "bitwise_logical_shift_right(7, 2, 4) AS g, "
        "bitwise_logical_shift_right(-8, 2, 5) AS h, "
        "bitwise_arithmetic_shift_right(8, -1) AS neg"
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (28, 1, -2, -2)
    assert (r.e, r.f, r.g, r.h) == (12, 28, 1, 6)
    assert r.neg is None


def test_bitwise_shift_bits63_register(spark):
    """bits=63 must use the two's-complement mask, where pow(2, 63)
    overflows BIGINT (code-review r6)."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    r = eng.sql(
        "SELECT bitwise_shift_left(4611686018427387904, 1, 63) AS a, "
        "bitwise_logical_shift_right(-1, 1, 63) AS b"
    ).collect()[0]
    assert r.a == 0
    assert r.b == 4611686018427387903  # (2^63-1) >> 1


def test_bitwise_shift_64_saturates(spark):
    """shift >= 64 saturates (0, or sign for the arithmetic form) —
    Spark's builtins mask the shift mod 64; the reference does not
    (BitwiseFunctions.java:184,247,306; ADVICE r6)."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    r = eng.sql(
        "SELECT bitwise_left_shift(1, 64) AS a, "
        "bitwise_left_shift(1, 70) AS a2, "
        "bitwise_right_shift(-1, 64) AS b, "
        "bitwise_right_shift_arithmetic(12, 64) AS c_pos, "
        "bitwise_right_shift_arithmetic(-45, 64) AS c_neg, "
        "bitwise_left_shift(3, 63) AS edge"
    ).collect()[0]
    assert (r.a, r.a2, r.b) == (0, 0, 0)
    assert (r.c_pos, r.c_neg) == (0, -1)
    assert r.edge == -9223372036854775808  # 63 still shifts (1<<63 wraps)


def test_is_private_ip_full_reserved_list(spark):
    """Every range of the reference's privatePrefixes list
    (IpPrefixFunctions.java:64-90), one member + one near-miss each
    where boundaries are interesting (ADVICE r6 listed the ranges the
    old regex missed)."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    private = [
        "0.255.9.9", "10.1.2.3", "100.64.0.1", "100.127.255.255",
        "127.0.0.1", "169.254.10.10", "172.16.0.0", "172.31.255.255",
        "192.0.0.7", "192.0.2.88", "192.88.99.1", "192.168.50.6",
        "198.18.4.4", "198.19.255.255", "198.51.100.9", "203.0.113.20",
        "240.0.0.1", "255.255.255.255",
        "::", "::1", "64:ff9b:1::5", "100::2", "2001:2:0:aa::1",
        "2001:db8::9", "2001:0:12::f", "2001:1ff::e", "5f00::3",
        "fe80::1", "fe9f::2", "febf::3", "fc00::4", "fdff::5",
    ]
    public = [
        "1.2.3.4", "8.8.8.8", "100.128.0.0", "172.32.0.1", "172.15.9.9",
        "192.0.1.1", "192.0.3.0", "192.88.100.0", "192.169.0.0",
        "198.17.255.255", "198.20.0.0", "198.51.101.0", "203.0.114.0",
        "239.255.255.255", "2001:200::1", "2001:4860::8888", "5f01::1",
        "fec0::1", "fe00::1", "fb00::1", "64:ff9b:2::1", "101::1",
    ]
    vals = ", ".join(f"('{a}', true)" for a in private)
    vals += ", " + ", ".join(f"('{a}', false)" for a in public)
    rows = eng.sql(
        f"SELECT ip, expected, is_private_ip(ip) AS got "
        f"FROM (VALUES {vals}) AS t(ip, expected)"
    ).collect()
    bad = [(r.ip, r.expected, r.got) for r in rows if r.got != r.expected]
    assert not bad, bad
    assert eng.sql("SELECT is_private_ip(NULL) AS n").collect()[0].n is None


def test_fnv1_family_reference_vectors(spark):
    """fnv1/fnv1a 32/64 against the reference's own goldens
    (TestVarbinaryFunctions.java:415-435, FnvHash.java); crc32 is the
    Spark builtin with identical semantics."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    r = eng.sql(
        "SELECT fnv1_32(from_hex('19')) AS a, "
        "fnv1_32(from_hex('F5')) AS b, "
        "fnv1_32(from_hex('0919')) AS c, "
        "fnv1_32(from_hex('232706FC6BF50919')) AS d, "
        "fnv1_64(from_hex('232706FC6BF50919')) AS e, "
        "fnv1a_32(from_hex('0919')) AS f, "
        "fnv1a_32(from_hex('F50919')) AS g, "
        "fnv1a_64(from_hex('232706FC6BF50919')) AS h, "
        "fnv1_64(from_hex('')) AS empty64"
    ).collect()[0]
    assert r.a == 0x050C5D06 and r.b == 0x050C5DEA
    assert r.c == 0x087689BB and r.d == 0x9F2263F3 - (1 << 32)
    assert r.e == 0x4A65FF96675A9F33
    assert r.f == 0x34881807 and r.g == 0xEB80C366 - (1 << 32)
    assert r.h == 0x68ADDC0B0FEBAC5F
    assert r.empty64 == 0xCBF29CE484222325 - (1 << 64)


def test_color_bar_tier(spark):
    """ColorFunctions.java tier (functions/color.py): parse/pack,
    HSB interpolation reference vectors (red→green midpoint is
    yellow), ANSI escape assembly, bar clamping."""
    r = run_sql(spark, """
      SELECT color('#abc') AS hex3,
             color('CYAN') AS cyan,
             color_interp(0.25, rgb(255,0,0), rgb(0,255,0)) AS quarter,
             color_interp(-5.0, rgb(10,20,30), rgb(200,100,50)) AS clamp_lo,
             color_interp(9.0, rgb(10,20,30), rgb(200,100,50)) AS clamp_hi,
             replace(bar(0.999, 2), chr(27), 'E') AS bar_trunc,
             length(replace(bar(0.0, 7), chr(27), '')) AS bar_empty_len
    """).collect()[0]
    # #abc -> aa bb cc
    assert r.hex3 == 0xAABBCC
    assert r.cyan == -7  # index 6 -> -(6+1)
    # quarter red->green: h=1/12, h6=0.5 sector 0, t=0.5 -> g=128
    assert r.quarter == (255 << 16) + (128 << 8)
    assert r.clamp_lo == (10 << 16) + (20 << 8) + 30
    assert r.clamp_hi == (200 << 16) + (100 << 8) + 50
    # (int)(0.999*2) = 1 block, one space pad
    assert r.bar_trunc.count("█") == 1 and r.bar_trunc.endswith(" ")
    assert r.bar_empty_len == len("[0m") + 7


def test_color_presto_spellings_via_engine(spark):
    """The Presto overload spellings route through the dialect layer:
    3/5-arg color -> color_interp/color_scaled, 1-arg render ->
    render_bool, 4-arg bar -> bar_colored."""
    from presto_spark.engine import Engine

    eng = Engine(spark)
    r = eng.sql("""
      SELECT color(0.5, rgb(255,0,0), rgb(0,255,0)) AS mid,
             color(75.0, 50.0, 100.0, rgb(255,0,0), rgb(0,255,0)) AS sc,
             color('#0f0') AS plain,
             replace(render(true), chr(27), 'E') AS rb,
             replace(render('hi', color('blue')), chr(27), 'E') AS rs,
             replace(bar(1.0, 3, rgb(0,0,255), rgb(255,0,255)),
                     chr(27), 'E') AS bl
    """).collect()[0]
    assert r.mid == 16776960  # yellow
    assert r.sc == 16776960   # fraction 0.5 after rescale
    assert r.plain == 65280
    assert r.rb == "E[38;5;2m✓E[0m"
    assert r.rs == "E[38;5;4mhiE[0m"
    # full bar: 3 gradient blocks (blue 21 → 129 → magenta 201), no pad
    assert r.bl == "E[38;5;21m█E[38;5;129m█E[38;5;201m█E[0m"


def test_luhn_check_and_bitwise_agg_spellings(spark):
    # luhn_check: Spark 4 builtin, semantics per the public Presto docs
    # (Luhn mod-10; pinned deviation: false instead of raise on
    # non-digit input — registry.py note).
    assert one(spark, "luhn_check('79927398713')") is True
    assert one(spark, "luhn_check('79927398714')") is False
    assert one(spark, "luhn_check('')") is False
    assert one(spark, "luhn_check(CAST(NULL AS STRING))") is None
    # bitwise_{and,or,xor}_agg → Spark bit_and/bit_or/bit_xor (docs
    # aggregate.rst; identical NULL-skipping semantics).
    sql = translate(
        "SELECT bitwise_and_agg(x) a, bitwise_or_agg(x) o, "
        "bitwise_xor_agg(x) x3 FROM (VALUES 7, 12, CAST(NULL AS BIGINT)) t(x)")
    row = spark.sql(sql).collect()[0]
    assert (row.a, row.o, row.x3) == (7 & 12, 7 | 12, 7 ^ 12)


def test_classification_sql_spellings(spark):
    """classification_{precision,recall,miss_rate,fall_out,thresholds}
    SQL-aggregate spellings (PrecisionRecallAggregation.java two-
    histogram state + results iterator; the five Classification*
    Aggregation.java outputs) — checked against an independent Python
    re-derivation of the reference's bucket walk, 3- and 4-arg forms."""
    rows = [(i % 3, (i * 7) % 2 == 0, ((i * 13) % 101) / 100.0,
             1.0 + (i % 4)) for i in range(200)]
    spark.createDataFrame(
        rows, "g INT, o BOOLEAN, p DOUBLE, w DOUBLE"
    ).createOrReplaceTempView("cls_t")
    got = {r.g: r for r in spark.sql(translate("""
        SELECT g,
               classification_thresholds(5, o, p) AS thr,
               classification_precision(5, o, p) AS prec,
               classification_recall(5, o, p) AS rec,
               classification_miss_rate(5, o, p) AS miss,
               classification_fall_out(5, o, p) AS fall,
               classification_recall(5, o, p, w) AS rec_w
        FROM cls_t GROUP BY g ORDER BY g""")).collect()}

    def oracle(sub, b=5, weighted=False):
        tw, fw = [0.0] * b, [0.0] * b
        for (_, o, p, w) in sub:
            w = w if weighted else 1.0
            j = min(int(b * min(p, 0.99999999999)), b - 1)
            (tw if o else fw)[j] += w
        tt, tf = sum(tw), sum(fw)
        rt = rf = 0.0
        out = {"thr": [], "prec": [], "rec": [], "miss": [], "fall": []}
        for j in range(b):
            if not tt - rt > 0:
                break
            out["thr"].append(j * 1.0 / b)
            out["prec"].append((tt - rt) / ((tt - rt) + (tf - rf)))
            out["rec"].append((tt - rt) / tt)
            out["miss"].append(rt / tt)
            out["fall"].append((tf - rf) / tf if tf > 0 else None)
            rt += tw[j]
            rf += fw[j]
        return out

    for g in (0, 1, 2):
        sub = [r for r in rows if r[0] == g]
        exp, expw = oracle(sub), oracle(sub, weighted=True)
        r = got[g]
        assert list(r.thr) == exp["thr"]
        assert list(r.prec) == exp["prec"]
        assert list(r.rec) == exp["rec"]
        assert list(r.miss) == exp["miss"]
        assert list(r.fall) == exp["fall"]
        assert list(r.rec_w) == expw["rec"]


def test_classification_sql_spelling_contracts(spark):
    """Validation parity for the classification_* spellings: reference
    messages for bad pred/weight/bucketCount; non-literal bucket count
    is a translate-time error (the reference requires it constant);
    a group with zero true weight emits the empty array."""
    spark.createDataFrame(
        [(1, True, 0.5, 1.0)], "g INT, o BOOLEAN, p DOUBLE, w DOUBLE"
    ).createOrReplaceTempView("cls_t2")
    for expr, msg in [
        ("classification_recall(5, o, p + 9)",
         "Prediction value must be between 0.0 and 1.0"),
        ("classification_recall(5, o, p, -w)",
         "Weights must be non-negative"),
        ("classification_recall(1, o, p)",
         "bucketCount must be at least 2: 1"),
        # NaN passes both range comparisons (false), so it needs its
        # own arm — the reference's histogram add rejects it
        ("classification_recall(5, o, p + double('NaN'))",
         "value must be within range: NaN"),
    ]:
        with pytest.raises(Exception, match=msg):
            spark.sql(translate(
                f"SELECT {expr} AS v FROM cls_t2")).coalesce(1).collect()
    with pytest.raises(ValueError, match="integer\\s+literal"):
        translate("SELECT classification_recall(g, o, p) FROM cls_t2")
    empty = spark.sql(translate(
        "SELECT classification_recall(5, o, p) AS v "
        "FROM cls_t2 WHERE p > 2")).collect()[0].v
    assert list(empty) == []
    once = translate("SELECT classification_recall(5, o, p) AS v FROM t")
    assert translate(once) == once
    # bucketCount < 2 is a translate-time error (ADVICE r13: the old
    # bare raise_error() expansion failed ANALYSIS under GROUP BY with
    # Spark's not-an-aggregate message instead of the reference's) —
    # both the global and the GROUP BY forms surface the same message
    for q in ("SELECT classification_recall(1, o, p) FROM cls_t2",
              "SELECT g, classification_recall(1, o, p) "
              "FROM cls_t2 GROUP BY g"):
        with pytest.raises(ValueError,
                           match="bucketCount must be at least 2: 1"):
            translate(q)
