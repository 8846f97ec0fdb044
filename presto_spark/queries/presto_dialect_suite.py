"""End-to-end Presto-dialect queries through the Engine.sql translate path.

These queries are written in PRESTO spellings (date_add('unit', n, ts),
approx_distinct, arbitrary, cardinality, 1-based subscripts, TRY(CAST))
and run through functions/dialect.py translate() — proving the dialect
layer on whole queries, not just unit tests.  The DuckDB oracle is
written directly in DuckDB's dialect.
"""

from pyspark.sql import SparkSession

from presto_spark.functions.dialect import translate
from presto_spark.functions.registry import run_sql
from presto_spark.queries.base import prepare, register


def _presto_sql(name, presto_text, duck_text, doc, tags):
    def fn(spark: SparkSession, sf_dir: str):
        prepare(spark, sf_dir)
        return run_sql(spark, translate(presto_text))

    fn.__name__ = name
    register(name, oracle=duck_text, doc=doc, tags=tags)(fn)
    return fn


_presto_sql(
    "presto_dialect_revenue_window",
    # --- Presto dialect ---
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CASE WHEN abs(approx_distinct(o_custkey) - count(DISTINCT o_custkey))
                     <= 0.10 * count(DISTINCT o_custkey)
                THEN true ELSE false END AS approx_ok,
           count(DISTINCT o_custkey) AS exact_customers,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= date_add('month', 6, TIMESTAMP '1995-01-01 00:00:00')
      AND o_orderdate < date_add('year', 2, TIMESTAMP '1995-07-01 00:00:00')
    GROUP BY o_orderpriority
    HAVING count(*) > 10
    ORDER BY o_orderpriority
    """,
    # --- DuckDB oracle (approx column pinned as its envelope boolean) ---
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           true AS approx_ok,
           count(DISTINCT o_custkey) AS exact_customers,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' + INTERVAL 6 MONTH
      AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00' + INTERVAL 2 YEAR
    GROUP BY o_orderpriority
    HAVING count(*) > 10
    ORDER BY o_orderpriority
    """,
    doc="Presto-spelled aggregation (date_add unit spelling, "
        "approx_distinct) through Engine's translate path; the approx "
        "column asserts a 10% envelope in-query (2 sigma at Spark's "
        "default 5% rsd), exact columns hash.",
    tags=("dialect",),
)


_presto_sql(
    "presto_dialect_array_ops",
    # --- Presto dialect: 1-based subscripts, cardinality, TRY(CAST) ---
    """
    WITH t AS (
      SELECT n_nationkey,
             split(n_name, '_') AS parts
      FROM nation
    )
    SELECT n_nationkey,
           parts[1] AS prefix,
           parts[2] AS num_text,
           TRY(CAST(parts[2] AS INTEGER)) AS num,
           cardinality(parts) AS n_parts
    FROM t
    ORDER BY n_nationkey
    """,
    """
    WITH t AS (
      SELECT n_nationkey, string_split(n_name, '_') AS parts
      FROM nation
    )
    SELECT n_nationkey,
           parts[1] AS prefix,
           parts[2] AS num_text,
           TRY_CAST(parts[2] AS INTEGER) AS num,
           len(parts) AS n_parts
    FROM t
    ORDER BY n_nationkey
    """,
    doc="Presto array semantics end-to-end: 1-based subscript -> "
        "element_at rewrite, cardinality -> size, TRY(CAST) -> "
        "TRY_CAST. DuckDB lists are natively 1-based — same values.",
    tags=("dialect",),
)


_presto_sql(
    "fn_datetime_format_suite",
    # --- Presto dialect: MySQL %-patterns (date_format/date_parse) and
    #     Joda patterns (format_datetime/parse_datetime) ---
    """
    SELECT o_orderkey,
           date_format(o_orderdate, '%Y-%m-%d %H:%i:%s') AS mysql_full,
           date_format(o_orderdate, '%d/%m/%y') AS mysql_dmy,
           date_format(o_orderdate, '%M %e, %Y') AS mysql_named,
           date_format(o_orderdate, 'on %W at %T') AS mysql_literal_text,
           date_format(o_orderdate, '%j') AS mysql_doy,
           date_format(o_orderdate, '%h %p') AS mysql_12h,
           date_parse('1995-07-15 10:30:00', '%Y-%m-%d %H:%i:%s')
             AS mysql_parsed,
           format_datetime(o_orderdate, 'YYYY/MM/dd') AS joda_era_year,
           format_datetime(o_orderdate, 'yyyy-MM-dd HH:mm') AS joda_plain,
           parse_datetime('2001-3-4', 'yyyy-M-d') AS joda_parsed,
           date_format(o_orderdate,
                       CASE WHEN o_orderkey % 2 = 0
                            THEN '%Y-%m-%d' ELSE '%d/%m/%Y' END)
             AS per_row_mysql,
           format_datetime(o_orderdate,
                           CASE WHEN o_orderkey % 2 = 0
                                THEN 'yyyy-MM' ELSE 'dd.MM.yyyy' END)
             AS per_row_joda,
           date_parse('1995-07-15 10:30:00',
                      CASE WHEN o_orderkey >= 0
                           THEN '%Y-%m-%d %H:%i:%s' ELSE '%Y' END)
             AS per_row_parsed,
           date_format(o_orderdate, '%x-W%v') AS iso_week
    FROM orders WHERE o_orderkey <= 40
    ORDER BY o_orderkey
    """,
    # --- DuckDB oracle (strftime/strptime %-dialect) ---
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS mysql_full,
           strftime(o_orderdate, '%d/%m/%y') AS mysql_dmy,
           strftime(o_orderdate, '%B %-d, %Y') AS mysql_named,
           strftime(o_orderdate, 'on %A at %H:%M:%S') AS mysql_literal_text,
           strftime(o_orderdate, '%j') AS mysql_doy,
           strftime(o_orderdate, '%I %p') AS mysql_12h,
           strptime('1995-07-15 10:30:00', '%Y-%m-%d %H:%M:%S')
             AS mysql_parsed,
           strftime(o_orderdate, '%Y/%m/%d') AS joda_era_year,
           strftime(o_orderdate, '%Y-%m-%d %H:%M') AS joda_plain,
           TIMESTAMP '2001-03-04 00:00:00' AS joda_parsed,
           CASE WHEN o_orderkey % 2 = 0
                THEN strftime(o_orderdate, '%Y-%m-%d')
                ELSE strftime(o_orderdate, '%d/%m/%Y') END AS per_row_mysql,
           CASE WHEN o_orderkey % 2 = 0
                THEN strftime(o_orderdate, '%Y-%m')
                ELSE strftime(o_orderdate, '%d.%m.%Y') END AS per_row_joda,
           TIMESTAMP '1995-07-15 10:30:00' AS per_row_parsed,
           strftime(o_orderdate, '%G-W%V') AS iso_week
    FROM orders WHERE o_orderkey <= 40
    ORDER BY o_orderkey
    """,
    doc="Datetime format-dialect layer (DateTimeFunctions.java dateFormat/"
        "dateParse use MySQL %-patterns, formatDatetime/parseDatetime use "
        "Joda): literal patterns are translated to java.time by "
        "functions/datetime_formats.py, incl. quoting of literal text and "
        "the Joda year-of-era Y -> y fix; oracle is DuckDB strftime/strptime.",
    tags=("dialect", "datetime"),
)


_JDOC = ('{"store":{"book":[{"author":"a1","price":8.95,"tags":["x","y"]},'
         '{"author":"a2","price":12.99},{"author":"a3","price":5.0}],'
         '"bicycle":{"price":19.95}},"reg date":"2020-01-02","n":7}')

_presto_sql(
    "fn_jsonpath_suite",
    # --- Presto dialect: extended JSONPath (Jayway fallback tier,
    #     JsonPath.java buildJayway) routed to the Arrow python tier by
    #     the dialect layer; simple paths stay on JVM get_json_object ---
    f"""
    SELECT n_nationkey,
           json_extract('{_JDOC}', '$..price') AS all_prices,
           json_extract('{_JDOC}', '$.store.book[?(@.price<10)].author')
             AS cheap_authors,
           json_extract('{_JDOC}', '$[''reg date'']') AS bracket_name,
           json_extract_scalar('{_JDOC}', '$[''reg date'']') AS bracket_scalar,
           json_extract('{_JDOC}', '$.store.book[-1].author') AS neg_index,
           json_extract('{_JDOC}', '$.store.book[0:2].price') AS sliced,
           json_extract('{_JDOC}', '$.store.book[*].author') AS jvm_wildcard,
           json_size('{_JDOC}', '$.store.*') AS store_size,
           json_extract_scalar('{_JDOC}', '$..author') AS scalar_on_multi,
           json_extract('{_JDOC}', '$..zzz') AS empty_descent,
           json_extract('{_JDOC}', '$.missing') AS missing_field,
           json_extract_scalar('{_JDOC}',
               CASE WHEN n_nationkey = 0 THEN '$.n'
                    ELSE '$[''reg date'']' END) AS per_row_path
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    # --- DuckDB oracle: hand-computed goldens (the reference pins the
    #     same cases in TestJsonExtract.java) ---
    """
    SELECT n_nationkey,
           '[8.95,12.99,5.0,19.95]' AS all_prices,
           '["a1","a3"]' AS cheap_authors,
           '"2020-01-02"' AS bracket_name,
           '2020-01-02' AS bracket_scalar,
           '"a3"' AS neg_index,
           '[8.95,12.99]' AS sliced,
           '["a1","a2","a3"]' AS jvm_wildcard,
           2 AS store_size,
           CAST(NULL AS VARCHAR) AS scalar_on_multi,
           '[]' AS empty_descent,
           CAST(NULL AS VARCHAR) AS missing_field,
           CASE WHEN n_nationkey = 0 THEN '7'
                ELSE '2020-01-02' END AS per_row_path
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    doc="Extended JSONPath tier (JsonPath.java:156 build — Presto "
        "tokenizer fast path, Jayway fallback for descent/filters/"
        "bracket names/negative-index/slices): dialect layer routes "
        "literal extended paths to functions/_json_pandas_udfs.py, "
        "[*] and dotted paths stay JVM-side. Goldens hand-computed "
        "(reference pins: TestJsonExtract.java).",
    tags=("dialect", "json"),
)


_presto_sql(
    "presto_dialect_try_and_generics",
    # --- Presto dialect: general TRY(expr) + polymorphic array macros ---
    """
    SELECT n_nationkey,
           TRY(1/0) AS div_zero,
           TRY(9223372036854775807 + 1) AS add_overflow,
           TRY(n_nationkey * 9223372036854775807) AS mul_overflow,
           TRY(CAST('abc' AS INTEGER)) AS bad_cast,
           TRY(n_nationkey + 1) AS ok_add,
           to_json(remove_nulls(array(1.5, NULL, 2.5))) AS rn_double,
           to_json(array_top_n(array(1.5, 3.5, 2.5), 2)) AS topn_double,
           to_json(trim_array(array('a', 'b', 'c'), 1)) AS trim_str,
           to_json(array_split_into_chunks(array(1.5, 2.5, 3.5), 2))
             AS chunks_double,
           round(cosine_similarity_map(map('a', 1.0, 'b', 2.0),
                                       map('a', 2.0, 'c', 1.0)), 6) AS cos_map
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    # --- DuckDB oracle: hand-computed (TRY semantics: NULL on div-zero/
    #     overflow/bad-cast — TryFunction.java) ---
    """
    SELECT n_nationkey,
           CAST(NULL AS DOUBLE) AS div_zero,
           CAST(NULL AS BIGINT) AS add_overflow,
           CASE n_nationkey WHEN 0 THEN 0
                WHEN 1 THEN 9223372036854775807
                ELSE NULL END AS mul_overflow,
           CAST(NULL AS INTEGER) AS bad_cast,
           n_nationkey + 1 AS ok_add,
           '[1.5,2.5]' AS rn_double,
           '[3.5,2.5]' AS topn_double,
           '["a","b"]' AS trim_str,
           '[[1.5,2.5],[3.5]]' AS chunks_double,
           CAST(0.4 AS DOUBLE) AS cos_map
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    doc="General TRY(expr) rewrite (TryFunction.java): top-level binary "
        "arithmetic lowers to Spark try_add/try_subtract/try_multiply/"
        "try_divide/try_mod (NULL on overflow and div-zero), other "
        "expressions unwrap under the engine's non-ANSI NULL semantics. "
        "Plus polymorphic macro expansion of the monomorphic array shims "
        "(remove_nulls/array_top_n/trim_array/array_split_into_chunks "
        "over DOUBLE/STRING arrays) and the MAP<VARCHAR,DOUBLE> "
        "cosine_similarity overload (MathFunctions.java).",
    tags=("dialect", "functions"),
)


_presto_sql(
    "presto_dialect_session_misc",
    # --- Presto dialect: typeof + session functions (TypeOfFunction.java,
    #     SessionFunctions.java) ---
    """
    SELECT n_nationkey,
           typeof(CAST(1 AS INTEGER)) AS t_int,
           typeof(CAST(1 AS BIGINT)) AS t_bigint,
           typeof('x') AS t_varchar,
           typeof(CAST(1.5 AS DECIMAL(3,2))) AS t_decimal,
           typeof(CAST(NULL AS DOUBLE)) AS t_double,
           typeof(array(CAST(1 AS INTEGER), CAST(2 AS INTEGER))) AS t_array,
           length(current_user()) > 0 AS has_user,
           uuid() RLIKE
             '^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$'
             AS uuid_shape
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    # --- DuckDB oracle: Presto type-name spellings as goldens ---
    """
    SELECT n_nationkey,
           'integer' AS t_int,
           'bigint' AS t_bigint,
           'varchar' AS t_varchar,
           'decimal(3,2)' AS t_decimal,
           'double' AS t_double,
           'array(integer)' AS t_array,
           true AS has_user,
           true AS uuid_shape
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    doc="typeof with Presto type-name spelling (TypeOfFunction.java — "
        "dialect macro maps Spark names: int→integer, string→varchar, "
        "<>→()), current_user (SessionFunctions.java, envelope: "
        "non-empty) and uuid() shape (UuidType.java canonical form).",
    tags=("dialect",),
)


_presto_sql(
    "presto_dialect_scalar_breadth",
    # --- Presto dialect: lambda-predicate arrays, map constructor,
    #     string similarity, data sizes, t/inverse CDFs ---
    """
    SELECT n_nationkey,
           all_match(array(2, 4, 6), x -> x % 2 = 0) AS am,
           any_match(array(1, 2), x -> x > 1) AS anym,
           none_match(array(1, 2), x -> x > 5) AS nm,
           find_first(array(3, 8, 5), x -> x > 4) AS ff,
           element_at(map_subset(map('a', 1, 'b', 2, 'c', 3),
                                 array('a', 'c')), 'c') AS subset_c,
           cardinality(map_subset(map('a', 1, 'b', 2, 'c', 3),
                                  array('a', 'c'))) AS subset_n,
           element_at(map(array('x', 'y'), array(1, 2)), 'y') AS map2_y,
           cardinality(zip(array(1, 2), array('a', 'b'))) AS zip_len,
           to_json(ngrams(array('a', 'b', 'c'), 2)) AS bigrams,
           strrpos('ababab', 'ab') AS rpos,
           strrpos('abc', 'z') AS rpos_miss,
           longest_common_prefix('prestodb', 'prestissimo') AS lcp,
           to_json(element_at(split_to_multimap('a=1,b=2,a=3', ',', '='), 'a'))
             AS multi_a,
           length(normalize('e\u0301')) AS nfc_len,
           normalize('Ａｂｃ', 'NFKC') AS nfkc,
           round(jarowinkler_similarity('MARTHA', 'MARHTA'), 6) AS jw1,
           round(jarowinkler_similarity('DWAYNE', 'DUANE'), 6) AS jw2,
           dot_product(array(1.0, 2.0), array(3.0, 4.0)) AS dotp,
           l2_squared(array(1.0, 2.0), array(3.0, 4.0)) AS l2sq,
           to_json(array_normalize(array(3.0, 4.0), 2.0)) AS anorm,
           CAST(parse_presto_data_size('2.3MB') AS BIGINT) AS dsize,
           date('2020-05-05') AS d,
           millisecond(TIMESTAMP '2001-08-22 03:04:05.321') AS ms,
           CAST(from_iso8601_timestamp('2020-01-01T10:00:00+05:30')
                AS STRING) AS iso_ts,
           round(t_cdf(1.0, 1.0), 8) AS tc,
           round(inverse_t_cdf(1.0, 0.75), 6) AS itc,
           round(chi_squared_cdf(3.0, inverse_chi_squared_cdf(3.0, 0.8)), 6)
             AS chi2_rt,
           CAST(inverse_poisson_cdf(4.0, 0.9) AS INT) AS ipois,
           CAST(inverse_binomial_cdf(20.0, 0.5, 0.6) AS INT) AS ibinom
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    # --- DuckDB oracle: hand goldens (canonical Jaro-Winkler pairs,
    #     Presto doc example for parse_presto_data_size, t(1) = Cauchy) ---
    """
    SELECT n_nationkey,
           true AS am, true AS anym, true AS nm,
           8 AS ff,
           3 AS subset_c, 2 AS subset_n,
           2 AS map2_y,
           2 AS zip_len,
           '[["a","b"],["b","c"]]' AS bigrams,
           CAST(5 AS BIGINT) AS rpos, CAST(0 AS BIGINT) AS rpos_miss,
           'prest' AS lcp,
           '["1","3"]' AS multi_a,
           1 AS nfc_len,
           'Abc' AS nfkc,
           CAST(round(jaro_winkler_similarity('MARTHA', 'MARHTA'), 2)
                AS DOUBLE) AS jw1,
           CAST(round(jaro_winkler_similarity('DWAYNE', 'DUANE'), 2)
                AS DOUBLE) AS jw2,
           CAST(11.0 AS DOUBLE) AS dotp,
           CAST(8.0 AS DOUBLE) AS l2sq,
           '[0.6,0.8]' AS anorm,
           CAST(2411724 AS BIGINT) AS dsize,
           DATE '2020-05-05' AS d,
           321 AS ms,
           '2020-01-01 04:30:00' AS iso_ts,
           CAST(0.75 AS DOUBLE) AS tc,
           CAST(1.0 AS DOUBLE) AS itc,
           CAST(0.8 AS DOUBLE) AS chi2_rt,
           7 AS ipois,
           11 AS ibinom
    FROM nation WHERE n_nationkey < 3
    ORDER BY n_nationkey
    """,
    doc="Scalar-function breadth batch: lambda-predicate array functions "
        "(all/any/none_match, find_first — dialect macros over forall/"
        "exists), map_subset and the two-array MAP constructor, zip/"
        "ngrams/regexp_split renames, strrpos/longest_common_prefix/"
        "split_to_multimap/normalize (NFC default + NFKC) string shims, "
        "jarowinkler_similarity (DuckDB builtin rounded to Presto's "
        "2-decimal contract as oracle), dot_product/"
        "l2_squared/array_normalize vector math, parse_presto_data_size "
        "(doc example golden), date()/millisecond/from_iso8601_timestamp, "
        "and the t/inverse CDF tier with closed-form/published goldens.",
    tags=("dialect", "functions"),
)


_presto_sql(
    "presto_dialect_unnest_ordinality",
    # --- Presto dialect: FROM-clause UNNEST grammar (SqlBase.g4:357-377)
    #     through translate()'s LATERAL lowering — correlated array unnest
    #     with 1-based ordinality, plus a standalone multi-array zip that
    #     pads the shorter input with NULLs (UnnestOperator.java). ---
    """
    SELECT n_name, t.part, t.pos
    FROM nation CROSS JOIN UNNEST(split(n_name, '_'))
         WITH ORDINALITY AS t(part, pos)
    WHERE n_nationkey < 5
    UNION ALL
    SELECT 'zip', CAST(z.y AS VARCHAR), z.x
    FROM UNNEST(ARRAY[1, 2, 3], ARRAY['a', 'b']) AS z(x, y)
    ORDER BY n_name, pos, part NULLS LAST
    """,
    # --- DuckDB oracle: lateral unnest + generate_subscripts ---
    """
    SELECT n_name, u.part, u.pos
    FROM nation, LATERAL (
      SELECT unnest(string_split(n_name, '_')) AS part,
             generate_subscripts(string_split(n_name, '_'), 1) AS pos) u
    WHERE n_nationkey < 5
    UNION ALL
    SELECT 'zip', CAST(y AS VARCHAR), x
    FROM (VALUES (1, 'a'), (2, 'b'), (3, NULL)) AS z(x, y)
    ORDER BY n_name, pos, part NULLS LAST
    """,
    doc="Raw Presto UNNEST grammar: CROSS JOIN UNNEST(arr) WITH "
        "ORDINALITY (correlated, 1-based) and standalone 2-array zip "
        "UNNEST with NULL padding, lowered to LATERAL element_at over an "
        "index spine by functions/dialect.py _rewrite_unnest.",
    tags=("dialect",),
)


_presto_sql(
    "presto_dialect_tablesample",
    # --- Presto dialect: TABLESAMPLE BERNOULLI (SqlBase.g4:357-361) ---
    """
    SELECT CASE WHEN CAST(c AS DOUBLE) / CAST(t AS DOUBLE)
                     BETWEEN 0.35 AND 0.65 THEN true ELSE false END
             AS sample_ok
    FROM (SELECT (SELECT count(*) FROM lineitem TABLESAMPLE BERNOULLI(50)) AS c,
                 (SELECT count(*) FROM lineitem) AS t) x
    """,
    # Sampling is nondeterministic — the contract is the envelope (same
    # protocol as the approx_distinct envelope queries).
    "SELECT true AS sample_ok",
    doc="Raw Presto TABLESAMPLE BERNOULLI(50) through translate() -> "
        "Spark TABLESAMPLE (50 PERCENT) (ImplementBernoulliSampleAsFilter"
        ".java semantics: independent per-row coin flips); asserted as a "
        "many-sigma fraction envelope, not an exact count.",
    tags=("dialect",),
)


_presto_sql(
    "presto_dialect_grouping_sets",
    # --- Presto dialect: bare-column GROUPING SETS spelling + grouping()
    #     (SqlBase.g4:309-311; GroupIdOperator.java) — parses identically
    #     in Spark; translate() must pass it through untouched. ---
    """
    SELECT n_regionkey, count(*) AS n_nations,
           grouping(n_regionkey) AS g
    FROM nation
    GROUP BY GROUPING SETS (n_regionkey, ())
    ORDER BY g, n_regionkey NULLS LAST
    """,
    """
    SELECT n_regionkey, count(*) AS n_nations,
           grouping(n_regionkey) AS g
    FROM nation
    GROUP BY GROUPING SETS (n_regionkey, ())
    ORDER BY g, n_regionkey NULLS LAST
    """,
    doc="Presto GROUPING SETS raw-SQL spelling (bare column + empty set) "
        "with the grouping() marker — same text runs on Spark and DuckDB; "
        "pins that translate() leaves the clause intact.",
    tags=("dialect",),
)


@register(
    "presto_dialect_prepared_execute",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_totalprice < 150000.00
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="PREPARE / EXECUTE ... USING round-trip through the Engine's "
        "statement registry (prepared.py; SqlBase.g4:168-172, "
        "PrepareTask.java, QueryPreparer.java parameter substitution): "
        "typed DECIMAL and TIMESTAMP bindings substitute the positional "
        "? parameters, then the normal dialect translate path runs the "
        "bound statement.",
    tags=("dialect",),
)
def presto_dialect_prepared_execute(spark, sf_dir):
    from presto_spark.engine import Engine

    prepare(spark, sf_dir)
    eng = Engine(spark)
    eng.sql(
        "PREPARE q_reg_prio FROM "
        "SELECT o_orderpriority, count(*) AS n, "
        "       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)"
        "         AS revenue "
        "FROM orders "
        "WHERE o_totalprice < ? AND o_orderdate >= ? "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    return eng.sql(
        "EXECUTE q_reg_prio USING DECIMAL '150000.00', "
        "TIMESTAMP '1995-01-01 00:00:00'"
    )


_GROUPS_FRAMES_SQL = """
    WITH m AS (
      SELECT l_suppkey, month(l_shipdate) AS mo,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_suppkey <= 5
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_suppkey, month(l_shipdate)
    )
    SELECT l_suppkey, mo,
      round(sum(qty) OVER (PARTITION BY l_suppkey ORDER BY mo
                           GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2)
        AS w_1_1,
      round(sum(qty) OVER (PARTITION BY l_suppkey ORDER BY mo
                           GROUPS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
        AS w_2_0,
      round(sum(qty) OVER (ORDER BY mo
                           GROUPS BETWEEN CURRENT ROW
                                      AND UNBOUNDED FOLLOWING), 2)
        AS w_tail,
      round(avg(qty) OVER (PARTITION BY l_suppkey ORDER BY mo
                           GROUPS 1 PRECEDING), 2) AS w_single
    FROM m
    ORDER BY l_suppkey, mo
"""

_presto_sql(
    "presto_dialect_groups_frames",
    _GROUPS_FRAMES_SQL,
    # DuckDB's build lacks GROUPS mode, so the oracle spells the
    # dense_rank + RANGE-over-rank lowering explicitly (independent
    # execution of the same frame algebra; the GROUPS-vs-ROWS peer
    # semantics themselves are pinned by
    # tests/test_relational.py::test_groups_frame_translate_matches_operator
    # against hand-computed tied-key expectations).
    """
    WITH m AS (
      SELECT l_suppkey, month(l_shipdate) AS mo,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_suppkey <= 5
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_suppkey, month(l_shipdate)
    ),
    g AS (
      SELECT *,
             dense_rank() OVER (PARTITION BY l_suppkey ORDER BY mo)
               AS dr_part,
             dense_rank() OVER (ORDER BY mo) AS dr_all
      FROM m
    )
    SELECT l_suppkey, mo,
      round(sum(qty) OVER (PARTITION BY l_suppkey ORDER BY dr_part
                           RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2)
        AS w_1_1,
      round(sum(qty) OVER (PARTITION BY l_suppkey ORDER BY dr_part
                           RANGE BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
        AS w_2_0,
      round(sum(qty) OVER (ORDER BY dr_all
                           RANGE BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING), 2)
        AS w_tail,
      round(avg(qty) OVER (PARTITION BY l_suppkey ORDER BY dr_part
                           RANGE 1 PRECEDING), 2) AS w_single
    FROM g
    ORDER BY l_suppkey, mo
    """,
    doc="GROUPS window frames (WindowNode.java:323-330; Spark has only "
        "ROWS/RANGE) through translate()'s general emulation: each "
        "GROUPS frame becomes RANGE over an injected dense_rank peer-"
        "group number, computed once per (partition, order) signature "
        "in a wrapped subquery. Four frame-offset combinations — "
        "bounded both sides, bounded-preceding, current-to-unbounded, "
        "single-bound shorthand — including an unpartitioned window "
        "whose order key TIES across suppliers (peer-group semantics, "
        "where GROUPS differs from ROWS).",
    tags=("dialect",),
)


_presto_sql(
    "presto_dialect_teradata_fns",
    # --- Presto dialect (teradata plugin spellings) ---
    """
    SELECT o_orderkey,
           to_char(CAST(o_orderdate AS TIMESTAMP),
                   'yyyy/mm/dd hh24:mi:ss') AS td_char,
           CAST(to_date(to_char(CAST(o_orderdate AS TIMESTAMP),
                                'yyyy/mm/dd'),
                        'yyyy/mm/dd') AS VARCHAR) AS td_roundtrip,
           CAST(to_timestamp(to_char(CAST(o_orderdate AS TIMESTAMP),
                                     'dd.mm.yyyy hh24:mi'),
                             'dd.mm.yyyy hh24:mi') AS VARCHAR) AS td_ts,
           index(o_orderpriority, 'E') AS td_idx,
           char2hexint(o_orderpriority) AS td_hex
    FROM orders WHERE o_orderkey <= 80 ORDER BY o_orderkey
    """,
    # --- DuckDB oracle ---
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS TIMESTAMP),
                    '%Y/%m/%d %H:%M:%S') AS td_char,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS td_roundtrip,
           CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR) AS td_ts,
           CAST(strpos(o_orderpriority, 'E') AS BIGINT) AS td_idx,
           upper(list_aggregate(list_transform(
             regexp_split_to_array(o_orderpriority, ''),
             c -> lpad(to_hex(unicode(c)), 4, '0')),
             'string_agg', '')) AS td_hex
    FROM orders WHERE o_orderkey <= 80 ORDER BY o_orderkey
    """,
    doc="Teradata plugin functions through translate() "
        "(presto-teradata-functions/: TeradataDateFunctions.java "
        "to_char/to_date/to_timestamp with the DateFormatParser.java "
        "element grammar, TeradataStringFunctions.java index/"
        "char2hexint). Formats compile to Java patterns at translate "
        "time (zero-padded format fields, 1-2-digit parse fields); "
        "parse round-trips prove both directions. DuckDB independently "
        "renders via strftime/C formats and per-codepoint UTF-16BE hex.",
    tags=("dialect", "functions", "teradata"),
)


_presto_sql(
    "presto_dialect_sql_invoked_suite3",
    # --- Presto dialect ---
    """
    WITH t AS (
      SELECT n_nationkey,
             ARRAY[(lower(n_name), n_nationkey + 0),
                   (upper(n_name), n_nationkey + 1),
                   (lower(n_name), n_nationkey + 2)] AS entries,
             ARRAY[n_regionkey, n_nationkey, n_regionkey + 10] AS arr
      FROM nation
    )
    SELECT n_nationkey,
           array_join(array_sort(transform(
               map_entries(multimap_from_entries(entries)),
               e -> concat(e.key, '=', array_join(transform(e.value,
                           x -> cast(x AS VARCHAR)), '+')))), ',') AS mm_str,
           find_first_index(arr, x -> x > n_nationkey) AS ffi,
           find_first_index(arr, x -> x > 1000) AS ffi_none,
           key_sampling_percent(cast(n_nationkey AS VARCHAR)) >= 0.0
             AND key_sampling_percent(cast(n_nationkey AS VARCHAR)) < 1.0
             AS ksp_ok
    FROM t
    ORDER BY n_nationkey
    """,
    # --- DuckDB oracle (independent derivation: first-seen key
    # grouping replayed with list_sort over distinct keys in entry
    # order; find_first_index as the min matching position) ---
    """
    WITH t AS (
      SELECT n_nationkey,
             [struct_pack(k := lower(n_name), v := n_nationkey + 0),
              struct_pack(k := upper(n_name), v := n_nationkey + 1),
              struct_pack(k := lower(n_name), v := n_nationkey + 2)] AS entries,
             [n_regionkey, n_nationkey, n_regionkey + 10] AS arr
      FROM nation
    ),
    ks AS (
      SELECT n_nationkey,
             list_distinct(list_transform(entries, e -> e.k)) AS dk
      FROM t
    )
    SELECT t.n_nationkey,
           array_to_string(list_sort(list_transform(ks.dk,
             kk -> concat(kk, '=', array_to_string(
               list_transform(list_filter(t.entries, e -> e.k = kk),
                              e -> CAST(e.v AS VARCHAR)), '+')))), ',')
             AS mm_str,
           (SELECT min(i) FROM unnest(generate_series(1, len(t.arr))) s(i)
            WHERE t.arr[i] > t.n_nationkey) AS ffi,
           CAST(NULL AS BIGINT) AS ffi_none,
           true AS ksp_ok
    FROM t JOIN ks ON ks.n_nationkey = t.n_nationkey
    ORDER BY t.n_nationkey
    """,
    doc="SQL-invoked plugin tail: multimap_from_entries "
        "(MultimapFromEntriesFunction.java; entry strings sorted — "
        "map order is unasserted), "
        "find_first_index (NULL when no match), key_sampling_percent "
        "(SimpleSamplingPercent.java, hash-bucket range property) — "
        "Presto ROW literals and lambdas through translate().",
    tags=("functions", "dialect"),
)


_presto_sql(
    "presto_dialect_semantics_suite",
    # --- Presto dialect (round 10 — the rewrites the reference's own
    # AbstractTestQueries semantic corpus forced: quantified
    # comparisons with exact three-valued results, null-keeping
    # array_agg with NULL on empty groups/frames, the aggregate SQL
    # spellings, apply(), IN (VALUES), U&'' literals, count(),
    # min/max top-n, unbiased kurtosis; tests/test_semantic_corpus.py
    # replays the full ~1530-case corpus) ---
    """
    SELECT
      5 > ALL(SELECT x FROM (VALUES 1, 2) t(x))                 AS q_all_t,
      1 > ALL(SELECT x FROM (VALUES 1, 2) t(x))                 AS q_all_f,
      5 > ALL(SELECT x FROM (VALUES 1, 2) t(x) WHERE x > 9)     AS q_all_empty,
      5 < ANY(SELECT x FROM (VALUES 1, 2) t(x) WHERE x > 9)     AS q_any_empty,
      2 > ALL(SELECT x FROM (VALUES 1, NULL) t(x)) IS NULL      AS q_all_nullmix,
      0 > ALL(SELECT x FROM (VALUES 1, NULL) t(x))              AS q_all_false_dom,
      2 = ALL(SELECT x FROM (VALUES 2, 2) t(x))                 AS q_eq_all,
      2 <> ANY(SELECT x FROM (VALUES 2, 3) t(x))                AS q_ne_any,
      1 = ANY(SELECT x FROM (VALUES 1, 2) t(x))                 AS q_in,
      4 <> ALL(SELECT x FROM (VALUES 1, 2) t(x))                AS q_not_in,
      (SELECT array_join(transform(array_agg(x),
                e -> coalesce(cast(e AS varchar), 'NULL')), ',')
       FROM (VALUES 1, NULL, 2) t(x))                           AS agg_keeps_nulls,
      (SELECT array_agg(x) FROM (VALUES 1) t(x) WHERE x > 5)
        IS NULL                                                 AS agg_empty_null,
      (SELECT map_agg(k, v)[2] FROM (VALUES (1,'a'),(2,'b')) t(k,v)) AS map_agg_at,
      (SELECT array_join(transform(array_sort(set_agg(x)),
                e -> coalesce(cast(e AS varchar), 'NULL')), ',')
       FROM (VALUES 1,2,2) t(x))                                AS set_agg_v,
      (SELECT array_join(transform(array_sort(set_union(a)),
                e -> coalesce(cast(e AS varchar), 'NULL')), ',')
       FROM (VALUES ARRAY[1,2], ARRAY[2,3]) t(a))               AS set_union_v,
      CAST((SELECT reduce_agg(x, 0, (s, v) -> s + v, (s1, s2) -> s1 + s2)
       FROM (VALUES 1,2,3) t(x)) AS BIGINT)                     AS reduce_agg_v,
      (SELECT array_join(transform(min(x, 2),
                e -> coalesce(cast(e AS varchar), 'NULL')), ',')
       FROM (VALUES 3,1,2) t(x))                                AS min_n,
      (SELECT array_join(transform(max(x, 2),
                e -> coalesce(cast(e AS varchar), 'NULL')), ',')
       FROM (VALUES 3,1,2) t(x))                                AS max_n,
      (SELECT count() FROM (VALUES 1,2) t(x))                   AS count_bare,
      apply(5, x -> x * x)                                      AS apply_v,
      1.0 IN (VALUES (1), (2))                                  AS in_values,
      U&'text\\000Amore'                                        AS u_literal,
      (SELECT c FROM (SELECT cast(null as bigint) AS c UNION ALL SELECT 1)
       ORDER BY 1 ASC LIMIT 1)                                  AS nulls_last_default
    """,
    # --- DuckDB oracle: identical three-valued quantified semantics
    # are native in DuckDB; aggregate spellings are replayed with
    # DuckDB's own equivalents ---
    """
    SELECT
      5 > ALL(SELECT x FROM (VALUES (1), (2)) t(x))                 AS q_all_t,
      1 > ALL(SELECT x FROM (VALUES (1), (2)) t(x))                 AS q_all_f,
      5 > ALL(SELECT x FROM (VALUES (1), (2)) t(x) WHERE x > 9)     AS q_all_empty,
      5 < ANY(SELECT x FROM (VALUES (1), (2)) t(x) WHERE x > 9)     AS q_any_empty,
      (2 > ALL(SELECT x FROM (VALUES (1), (NULL)) t(x))) IS NULL    AS q_all_nullmix,
      0 > ALL(SELECT x FROM (VALUES (1), (NULL)) t(x))              AS q_all_false_dom,
      2 = ALL(SELECT x FROM (VALUES (2), (2)) t(x))                 AS q_eq_all,
      2 <> ANY(SELECT x FROM (VALUES (2), (3)) t(x))                AS q_ne_any,
      1 = ANY(SELECT x FROM (VALUES (1), (2)) t(x))                 AS q_in,
      4 <> ALL(SELECT x FROM (VALUES (1), (2)) t(x))                AS q_not_in,
      (SELECT array_to_string(list_transform(array_agg(x),
                e -> coalesce(CAST(e AS VARCHAR), 'NULL')), ',')
       FROM (VALUES (1), (NULL), (2)) t(x))                         AS agg_keeps_nulls,
      (SELECT array_agg(x) FROM (VALUES (1)) t(x) WHERE x > 5)
        IS NULL                                                     AS agg_empty_null,
      (SELECT (map_from_entries(list(struct_pack(k := k, v := v)))[2])[1]
       FROM (VALUES (1,'a'),(2,'b')) t(k,v))                        AS map_agg_at,
      (SELECT array_to_string(list_transform(
                list_sort(list_distinct(list(x))),
                e -> coalesce(CAST(e AS VARCHAR), 'NULL')), ',')
       FROM (VALUES (1),(2),(2)) t(x))                              AS set_agg_v,
      (SELECT array_to_string(list_transform(
                list_sort(list_distinct(flatten(list(a)))),
                e -> coalesce(CAST(e AS VARCHAR), 'NULL')), ',')
       FROM (VALUES ([1,2]), ([2,3])) t(a))                         AS set_union_v,
      (SELECT CAST(sum(x) AS BIGINT) FROM (VALUES (1),(2),(3)) t(x)) AS reduce_agg_v,
      (SELECT array_to_string(list_transform(
                list_sort(list(x))[1:2],
                e -> coalesce(CAST(e AS VARCHAR), 'NULL')), ',')
       FROM (VALUES (3),(1),(2)) t(x))                              AS min_n,
      (SELECT array_to_string(list_transform(
                list_sort(list(x), 'DESC')[1:2],
                e -> coalesce(CAST(e AS VARCHAR), 'NULL')), ',')
       FROM (VALUES (3),(1),(2)) t(x))                              AS max_n,
      (SELECT count(*) FROM (VALUES (1),(2)) t(x))                  AS count_bare,
      25                                                            AS apply_v,
      1.0 IN (SELECT * FROM (VALUES (1), (2)))                      AS in_values,
      'text' || chr(10) || 'more'                                   AS u_literal,
      (SELECT c FROM (SELECT cast(null as bigint) AS c UNION ALL SELECT 1)
       ORDER BY 1 ASC NULLS LAST LIMIT 1)                           AS nulls_last_default
    """,
    doc="Presto semantics tier forced by the reference's own "
        "AbstractTestQueries corpus (round 10): quantified comparisons "
        "(three-valued ALL/ANY incl. empty-set and null-mix edges — "
        "the = ANY / <> ALL forms lower to IN/NOT IN semi-joins, the "
        "ordered forms to one min/max/count summary subquery), "
        "null-keeping array_agg with NULL on empty groups, map_agg/"
        "set_agg/set_union/reduce_agg/min-n/max-n/count() spellings, "
        "apply() lambda evaluation, IN (VALUES ...), U&'' unicode "
        "literals, and the NULLS LAST ordering default "
        "(select.rst:588).  DuckDB replays quantified comparisons "
        "natively and the aggregates via its list functions.",
    tags=("dialect", "functions"),
)
