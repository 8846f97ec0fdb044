"""Presto-compatibility scalar function layer.

Presto ships ~650 ``@ScalarFunction`` registrations (reference:
presto-main-base/.../operator/scalar/ — 164 files, registered in
presto-main-base/.../metadata/BuiltInTypeAndFunctionNamespaceManager.java:525).
Spark already provides most of them natively; this module fills the gaps
with **SQL UDFs** (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``,
Spark 4) so the shims stay JVM-side inside Catalyst/whole-stage-codegen —
never Python row UDFs.  Functions whose Presto name collides with a Spark
builtin of different semantics are handled by the dialect rewriter
(see dialect.py) because Spark refuses to shadow builtins.

Each entry cites the Presto source it reproduces.  All bodies are pure
column expressions → they inline into codegen and scale like builtins;
the few functions no expression can reach are Arrow-batched pandas
UDFs (``_PY_UDFS``).

Registration is on demand, the way Presto resolves a function when a
query names it (FunctionAndTypeManager at analysis time): ``shims()``
is the one table of every shim, and ``register_functions`` is given the
SQL text a query will run, registers the shims that text calls plus
the shims their bodies call, and records them on the session object.
No session pays for the whole library up front, and a body that is
never called never slows the analysis of unrelated queries.
"""

from __future__ import annotations

import functools
import importlib
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from presto_spark.functions.dialect import BITWISE_UDFS


def _ip2long(ip: str) -> str:
    """Inline dotted-quad→uint32 arithmetic (no UDF call — SQL-UDF
    bodies cannot be inlined inside HOF lambdas)."""
    return (f"(((CAST(element_at(split({ip}, '\\\\.'), 1) AS BIGINT) * 256 "
            f"+ CAST(element_at(split({ip}, '\\\\.'), 2) AS BIGINT)) * 256 "
            f"+ CAST(element_at(split({ip}, '\\\\.'), 3) AS BIGINT)) * 256 "
            f"+ CAST(element_at(split({ip}, '\\\\.'), 4) AS BIGINT))")


def _long2ip(l: str) -> str:
    """Inline uint32→dotted-quad arithmetic (same lambda-scope reason)."""
    return (f"concat(CAST((({l}) div 16777216) % 256 AS STRING), '.', "
            f"CAST((({l}) div 65536) % 256 AS STRING), '.', "
            f"CAST((({l}) div 256) % 256 AS STRING), '.', "
            f"CAST(({l}) % 256 AS STRING))")


def _cidr_cover(lo: str, hi: str) -> str:
    """Greedy range→CIDR cover as a 64-step fold (≤62 blocks can ever
    be emitted for a /32-granular IPv4 range), fully inlined so it can
    sit inside another HOF lambda."""
    blk = ("least(CASE WHEN acc.cur = 0 THEN 4294967296 "
           "ELSE acc.cur & -acc.cur END, "
           f"CAST(pow(2, floor(log2(({hi}) - acc.cur + 1))) AS BIGINT))")
    return f"""aggregate(
             sequence(1, 64),
             named_struct('cur', ({lo}),
                          'out', CAST(array() AS ARRAY<STRING>)),
             (acc, i) -> CASE WHEN acc.cur > ({hi}) THEN acc ELSE
               named_struct(
                 'cur', acc.cur + {blk},
                 'out', concat(acc.out, array(concat(
                   {_long2ip("acc.cur")}, '/',
                   CAST(32 - CAST(round(log2({blk})) AS INT)
                        AS STRING)))))
               END,
             acc -> acc.out)"""


# The reference's complete reserved list (IpPrefixFunctions.java:64-90
# privatePrefixes) — IPv4 entries become numeric range checks on the
# parsed dotted quad (exact), IPv6 entries a regex alternation over the
# canonical lowercase compressed text form (the engine's string IP
# model; ADVICE r6 listed the nine IPv4 + six IPv6 ranges the old
# regex missed).
_PRIVATE_V4_PREFIXES = [
    ("0.0.0.0", 8), ("10.0.0.0", 8), ("100.64.0.0", 10), ("127.0.0.0", 8),
    ("169.254.0.0", 16), ("172.16.0.0", 12), ("192.0.0.0", 24),
    ("192.0.2.0", 24), ("192.88.99.0", 24), ("192.168.0.0", 16),
    ("198.18.0.0", 15), ("198.51.100.0", 24), ("203.0.113.0", 24),
    ("240.0.0.0", 4),
]


def _private_v4_predicate(num: str) -> str:
    parts = []
    for ip, n in _PRIVATE_V4_PREFIXES:
        a, b, c, d = (int(x) for x in ip.split("."))
        lo = ((a * 256 + b) * 256 + c) * 256 + d
        hi = lo + (1 << (32 - n)) - 1
        parts.append(f"({num}) BETWEEN {lo} AND {hi}")
    return "(" + "\n               OR ".join(parts) + ")"


# ::/127, 64:ff9b:1::/48, 100::/64, 2001:2::/48, 2001:db8::/32,
# 2001::/23 (second group 0x000-0x1ff), 5f00::/16, fe80::/10
# (fe80-febf), fc00::/7 (fc00-fdff) — anchored alternation over the
# canonical compressed lowercase spelling.
# A valid IPv4 octet (0-255).  Plain text, substituted into an
# f-string template — braces here must be the FINAL regex braces.
_V4_OCTET_RE = "(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})"

_PRIVATE_V6_RE = (
    "^(::1?$"
    "|64:ff9b:1:"
    "|100:(0:0:0:|:)"
    "|2001:2:"
    "|2001:db8:"
    "|2001:([0-9a-f]{1,2}|1[0-9a-f]{2}):"
    "|2001::"
    "|5f00:"
    "|fe[89ab][0-9a-f]:"
    "|f[cd][0-9a-f]{2}:)"
)


# name -> (arg signature, return type, body expression, reference citation)
_SQL_UDFS: dict[str, tuple[str, str, str, str]] = {
    # ---- string (reference: operator/scalar/StringFunctions.java:62) ----
    "strpos": (
        "s STRING, sub STRING", "INT", "instr(s, sub)",
        "StringFunctions.java stringPosition (1-based, 0 if absent)"),
    # NOTE: chr / levenshtein / split_part / regexp_like etc. exist as
    # Spark builtins with Presto-compatible semantics — no shim needed.
    "codepoint": ("s STRING", "INT", "ascii(s)", "StringFunctions.java codepoint"),
    "hamming_distance": (
        "a STRING, b STRING", "BIGINT",
        """CASE WHEN length(a) != length(b)
                THEN raise_error('hamming_distance: equal length required')
                ELSE aggregate(zip_with(split(a, ''), split(b, ''),
                                        (x, y) -> IF(x = y, 0L, 1L)),
                               0L, (acc, v) -> acc + v) END""",
        "StringFunctions.java hammingDistance (fails on unequal length)"),
    "levenshtein_distance": (
        "a STRING, b STRING", "INT", "levenshtein(a, b)",
        "StringFunctions.java levenshteinDistance"),
    # NOTE: luhn_check(string) → boolean (public Presto docs
    # string.rst; absent from this reference snapshot) is a Spark 4
    # builtin with matching core semantics (Luhn mod-10 over digit
    # strings, NULL → NULL).  Pinned deviation: Spark returns false on
    # non-digit input where the published docs raise — same class as
    # the CHAR(n) pad-compare pin.  Exercised by the fn_misc
    # conformance tier (tests/test_functions.py).
    "from_utf8": ("b BINARY", "STRING", "decode(b, 'UTF-8')",
                  "StringFunctions.java fromUtf8"),
    "to_utf8": ("s STRING", "BINARY", "encode(s, 'UTF-8')",
                "StringFunctions.java toUtf8"),
    "starts_with": ("s STRING, p STRING", "BOOLEAN", "startswith(s, p)",
                    "StringFunctions.java startsWith"),
    "ends_with": ("s STRING, p STRING", "BOOLEAN", "endswith(s, p)",
                  "StringFunctions.java endsWith"),
    # ---- Teradata plugin strings (presto-teradata-functions/
    #      TeradataStringFunctions.java) ----
    "index": (
        "s STRING, sub STRING", "BIGINT", "CAST(instr(s, sub) AS BIGINT)",
        "TeradataStringFunctions.java:40 index (1-based, 0 if absent)"),
    "char2hexint": (
        "s STRING", "STRING", "hex(encode(s, 'UTF-16BE'))",
        "TeradataStringFunctions.java:109 char2hexint (uppercase "
        "UTF-16BE hex)"),
    # ---- geospatial scalar (presto-geospatial-toolkit/
    #      SphericalGeographyUtils.java:82-107; R = 6371.01 km) ----
    "great_circle_distance": (
        "lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE", "DOUBLE",
        """CASE WHEN abs(lat1) <= 90 AND abs(lat2) <= 90
                 AND abs(lon1) <= 180 AND abs(lon2) <= 180 THEN
             atan2(sqrt(pow(cos(radians(lat2))
                            * sin(radians(lon1) - radians(lon2)), 2)
                        + pow(cos(radians(lat1)) * sin(radians(lat2))
                              - sin(radians(lat1)) * cos(radians(lat2))
                                * cos(radians(lon1) - radians(lon2)), 2)),
                   sin(radians(lat1)) * sin(radians(lat2))
                   + cos(radians(lat1)) * cos(radians(lat2))
                     * cos(radians(lon1) - radians(lon2))) * 6371.01
           END""",
        "SphericalGeographyUtils.java:82-107 greatCircleDistance (km)"),
    # ---- math (reference: operator/scalar/MathFunctions.java:80) ----
    "truncate": (
        "x DOUBLE", "DOUBLE", "sign(x) * floor(abs(x))",
        "MathFunctions.java truncate (toward zero)"),
    "is_finite": ("x DOUBLE", "BOOLEAN", "NOT (isnan(x) OR abs(x) = double('Infinity'))",
                  "MathFunctions.java isFinite"),
    "is_infinite": ("x DOUBLE", "BOOLEAN", "abs(x) = double('Infinity')",
                    "MathFunctions.java isInfinite"),
    "is_nan": ("x DOUBLE", "BOOLEAN", "isnan(x)", "MathFunctions.java isNaN"),
    "infinity": ("", "DOUBLE", "double('Infinity')", "MathFunctions.java infinity"),
    "nan": ("", "DOUBLE", "double('NaN')", "MathFunctions.java nan"),
    "to_base": ("x BIGINT, radix INT", "STRING", "lower(conv(cast(x AS STRING), 10, radix))",
                "MathFunctions.java toBase (lowercase digits)"),
    "from_base": ("s STRING, radix INT", "BIGINT", "cast(conv(s, radix, 10) AS BIGINT)",
                  "MathFunctions.java fromBase"),
    "cosine_similarity": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
        """aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
           / (sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v))
              * sqrt(aggregate(b, 0D, (acc, v) -> acc + v * v)))""",
        "MathFunctions.java cosineSimilarity (array form; Presto also has map form)"),
    # Sparse-vector (map) overload — Presto overloads the same name; SQL
    # UDFs are monomorphic so the map form registers with a _map suffix.
    "cosine_similarity_map": (
        "m1 MAP<STRING,DOUBLE>, m2 MAP<STRING,DOUBLE>", "DOUBLE",
        """aggregate(map_values(map_zip_with(m1, m2,
                       (k, x, y) -> coalesce(x, 0D) * coalesce(y, 0D))),
                     0D, (acc, v) -> acc + v)
           / (sqrt(aggregate(map_values(m1), 0D, (acc, v) -> acc + v * v))
              * sqrt(aggregate(map_values(m2), 0D, (acc, v) -> acc + v * v)))""",
        "MathFunctions.java cosineSimilarity (MAP<VARCHAR,DOUBLE> form)"),
    # ---- date/time (reference: operator/scalar/DateTimeFunctions.java:71) ----
    # Presto day_of_week: ISO, Monday=1..Sunday=7; Spark weekday: Monday=0.
    "day_of_week": ("t TIMESTAMP_NTZ", "INT", "weekday(t) + 1",
                    "DateTimeFunctions.java dayOfWeekFromTimestamp (ISO)"),
    "dow": ("t TIMESTAMP_NTZ", "INT", "weekday(t) + 1", "DateTimeFunctions.java dow"),
    "day_of_year": ("t TIMESTAMP_NTZ", "INT", "dayofyear(t)",
                    "DateTimeFunctions.java dayOfYearFromTimestamp"),
    "doy": ("t TIMESTAMP_NTZ", "INT", "dayofyear(t)", "DateTimeFunctions.java doy"),
    "day_of_month": ("t TIMESTAMP_NTZ", "INT", "day(t)", "DateTimeFunctions.java"),
    "week": ("t TIMESTAMP_NTZ", "INT", "weekofyear(t)",
             "DateTimeFunctions.java weekFromTimestamp (ISO week)"),
    "week_of_year": ("t TIMESTAMP_NTZ", "INT", "weekofyear(t)", "DateTimeFunctions.java"),
    # ISO week-year = calendar year of the ISO week's Thursday (Spark rejects
    # the week-based 'YYYY' pattern letter since 3.0).
    "year_of_week": (
        "t TIMESTAMP_NTZ", "INT",
        "year(date_add(cast(t AS DATE), 3 - weekday(cast(t AS DATE))))",
        "DateTimeFunctions.java yearOfWeekFromTimestamp (ISO week-year)"),
    "yow": (
        "t TIMESTAMP_NTZ", "INT",
        "year(date_add(cast(t AS DATE), 3 - weekday(cast(t AS DATE))))",
        "DateTimeFunctions.java yow"),
    "to_unixtime": (
        "t TIMESTAMP_NTZ", "DOUBLE",
        "cast(unix_micros(to_utc_timestamp(t, 'UTC')) AS DOUBLE) / 1e6",
        "DateTimeFunctions.java toUnixTime (returns DOUBLE seconds)"),
    "last_day_of_month": ("t TIMESTAMP_NTZ", "DATE", "last_day(cast(t AS DATE))",
                          "DateTimeFunctions.java lastDayOfMonth"),
    "format_datetime": (
        "t TIMESTAMP_NTZ, f STRING", "STRING", "date_format(t, f)",
        "DateTimeFunctions.java formatDatetime (Joda pattern ≈ java.time; "
        "known deltas on exotic pattern letters)"),
    # ---- JSON (reference: operator/scalar/JsonFunctions.java:64) ----
    # Presto returns NULL when the path lands on an object/array; only true
    # scalars (string/number/bool) come back as text.  get_json_object
    # strips quotes from string matches, so a leading '['/'{' alone cannot
    # distinguish "matched an object" from "matched a string that starts
    # with a brace" — probe parse-validity too (json_array_length /
    # json_object_keys return NULL on non-JSON text), so '{"a":"{x"}' at
    # $.a correctly yields '{x'.  Residual deviation (pinned in
    # tests/test_semantics.py): a string value whose text IS valid JSON
    # (e.g. "{}") still NULLs — unresolvable after quote-stripping.
    "json_extract_scalar": (
        "j STRING, p STRING", "STRING",
        """CASE WHEN get_json_object(j, p) LIKE '[%'
                  AND json_array_length(get_json_object(j, p)) IS NOT NULL
                THEN NULL
                WHEN get_json_object(j, p) LIKE '{%'
                  AND json_object_keys(get_json_object(j, p)) IS NOT NULL
                THEN NULL
                ELSE get_json_object(j, p) END""",
        "JsonFunctions.java jsonExtractScalar — NULL on non-scalar match"),
    "json_extract": (
        "j STRING, p STRING", "STRING", "get_json_object(j, p)",
        "JsonExtract.java — returns JSON-encoded text"),
    "json_parse": ("s STRING", "STRING", "s",
                   "JsonFunctions.java jsonParse — JSON modeled as STRING"),
    "json_format": ("j STRING", "STRING", "j", "JsonFunctions.java jsonFormat"),
    "json_size": (
        "j STRING, p STRING", "INT",
        """CASE WHEN get_json_object(j, p) IS NULL THEN NULL
                WHEN get_json_object(j, p) LIKE '[%' THEN json_array_length(get_json_object(j, p))
                WHEN get_json_object(j, p) LIKE '{%' THEN size(json_object_keys(get_json_object(j, p)))
                ELSE 0 END""",
        "JsonFunctions.java jsonSize"),
    # ---- binary (reference: operator/scalar/VarbinaryFunctions.java) ----
    "to_hex": ("b BINARY", "STRING", "upper(hex(b))", "VarbinaryFunctions.java toHexVarchar"),
    "from_hex": ("s STRING", "BINARY", "unhex(s)", "VarbinaryFunctions.java fromHexVarchar"),
    "to_big_endian_64": ("x BIGINT", "BINARY",
                         "unhex(lpad(hex(x), 16, '0'))",
                         "VarbinaryFunctions.java toBigEndian64"),
    # ---- URL (reference: operator/scalar/UrlFunctions.java:42) ----
    "url_extract_host": ("u STRING", "STRING", "parse_url(u, 'HOST')",
                         "UrlFunctions.java urlExtractHost"),
    "url_extract_path": ("u STRING", "STRING", "parse_url(u, 'PATH')",
                         "UrlFunctions.java urlExtractPath"),
    "url_extract_query": ("u STRING", "STRING", "parse_url(u, 'QUERY')",
                          "UrlFunctions.java urlExtractQuery"),
    "url_extract_fragment": ("u STRING", "STRING", "parse_url(u, 'REF')",
                             "UrlFunctions.java urlExtractFragment"),
    "url_extract_protocol": ("u STRING", "STRING", "parse_url(u, 'PROTOCOL')",
                             "UrlFunctions.java urlExtractProtocol"),
    "url_extract_port": (
        "u STRING", "BIGINT",
        "cast(nullif(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#:]+:([0-9]+)', 1), '') AS BIGINT)",
        "UrlFunctions.java urlExtractPort"),
    "url_extract_parameter": ("u STRING, name STRING", "STRING",
                              "parse_url(u, 'QUERY', name)",
                              "UrlFunctions.java urlExtractParameter"),
    # NOTE: url_encode / url_decode / typeof are Spark builtins with
    # Presto-compatible semantics — no shim needed.
    "bit_count_64": ("x BIGINT", "INT", "bit_count(x)", "BitwiseFunctions.java bitCount"),
    "array_average": (
        "a ARRAY<DOUBLE>", "DOUBLE",
        """CASE WHEN size(filter(a, x -> x IS NOT NULL)) = 0 THEN NULL
           ELSE aggregate(filter(a, x -> x IS NOT NULL), 0D, (acc, v) -> acc + v)
                / size(filter(a, x -> x IS NOT NULL)) END""",
        "ArrayAverageFunction.java (null elements ignored)"),
    "array_sum": (
        "a ARRAY<DOUBLE>", "DOUBLE",
        "aggregate(filter(a, x -> x IS NOT NULL), 0D, (acc, v) -> acc + v)",
        "ArraySumFunction.java"),
    "array_normalize": (
        "a ARRAY<DOUBLE>, p DOUBLE", "ARRAY<DOUBLE>",
        """CASE WHEN aggregate(a, 0D, (acc, v) -> acc + power(abs(v), p)) = 0D
                THEN a
           ELSE transform(a, x -> x / power(
                  aggregate(a, 0D, (acc, v) -> acc + power(abs(v), p)),
                  1.0D / p)) END""",
        "ArrayNormalizeFunction.java (p-norm; zero vector passes through)"),
    "dot_product": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)",
        "MathFunctions.java dotProduct"),
    "l2_squared": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
        """aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
                     0D, (acc, v) -> acc + v)""",
        "MathFunctions.java l2Squared (squared Euclidean distance)"),
    "parse_presto_data_size": (
        "s STRING", "DECIMAL(38,0)",
        """CAST(floor(CAST(regexp_extract(s, '^\\\\s*([0-9]*\\\\.?[0-9]+)([A-Za-z]+)\\\\s*$', 1)
                     AS DOUBLE)
                * CASE regexp_extract(s, '^\\\\s*([0-9]*\\\\.?[0-9]+)([A-Za-z]+)\\\\s*$', 2)
                    WHEN 'B' THEN 1.0D
                    WHEN 'kB' THEN 1024.0D
                    WHEN 'MB' THEN 1048576.0D
                    WHEN 'GB' THEN 1073741824.0D
                    WHEN 'TB' THEN 1099511627776.0D
                    WHEN 'PB' THEN 1125899906842624.0D
                    WHEN 'EB' THEN 1152921504606846976.0D
                  END) AS DECIMAL(38,0))""",
        "DataSizeFunctions.java parsePrestoDataSize (truncates toward "
        "zero: '2.3MB' → 2411724, matching the reference doc example)"),
    "array_cum_sum": (
        "a ARRAY<DOUBLE>", "ARRAY<DOUBLE>",
        """aggregate(a, array(0D),
                     (acc, v) -> array_append(acc, element_at(acc, -1) + v),
                     acc -> slice(acc, 2, size(a)))""",
        "ArrayCumSumFunction.java"),
    "array_has_duplicates": (
        "a ARRAY<STRING>", "BOOLEAN", "size(a) != size(array_distinct(a))",
        "ArrayHasDuplicatesFunction.java"),
    # Sorted-adjacent spelling: O(n log n), no per-key filter pass.
    "array_duplicates": (
        "a ARRAY<STRING>", "ARRAY<STRING>",
        """CASE WHEN size(a) < 2 THEN array()
           ELSE array_distinct(transform(
               filter(sequence(2, size(array_sort(a))),
                      i -> element_at(array_sort(a), i) <=>
                           element_at(array_sort(a), i - 1)),
               i -> element_at(array_sort(a), i))) END""",
        "ArrayDuplicatesFunction.java"),
    "array_ngrams": (
        "a ARRAY<STRING>, n INT", "ARRAY<ARRAY<STRING>>",
        """CASE WHEN size(a) < n THEN array(a)
           ELSE transform(sequence(1, size(a) - n + 1), i -> slice(a, i, n)) END""",
        "ArrayNgramsFunction.java (ngrams)"),
    "trim_array": ("a ARRAY<STRING>, n INT", "ARRAY<STRING>",
                   "slice(a, 1, size(a) - n)",
                   "ArrayTrimFunction.java"),
    # ---- SQL-invoked function plugin parity (reference: presto-sql-helpers/
    # presto-sql-invoked-functions-plugin/.../ArraySqlFunctions.java,
    # MapSqlFunctions.java, MapNormalizeFunction.java,
    # StringSqlFunctions.java).  SQL UDFs are monomorphic, so each shim
    # picks a representative element type (BIGINT arrays / STRING→BIGINT
    # maps); lambda-parameter overloads are handled by dialect.py rules
    # instead (SQL UDF parameters cannot be functions).  Order matters:
    # later shims call earlier ones (Spark resolves at registration).
    "remove_nulls": (
        "a ARRAY<BIGINT>", "ARRAY<BIGINT>",
        "filter(a, x -> x IS NOT NULL)",
        "ArraySqlFunctions.java removeNulls"),
    "multimap_from_entries": (
        "entries ARRAY<STRUCT<k: STRING, v: BIGINT>>",
        "MAP<STRING, ARRAY<BIGINT>>",
        """map_from_arrays(
             array_distinct(transform(entries, e -> e.k)),
             transform(array_distinct(transform(entries, e -> e.k)),
                       kk -> transform(filter(entries, e -> e.k <=> kk),
                                       e -> e.v)))""",
        "MultimapFromEntriesFunction.java (first-seen key order; "
        "O(k²) over one row's entry array)"),
    "key_sampling_percent": (
        "input STRING", "DOUBLE",
        "pmod(xxhash64(CAST(input AS BINARY)), 100) / 100.0",
        "presto-sql-helpers SimpleSamplingPercent.java (hash-keyed "
        "sampling bucket in [0,1); hash is engine-specific — Spark "
        "xxhash64 vs the reference's ieee754-reinterpreted xxhash — "
        "pinned payload deviation, uniform-bucket semantics match)"),
    # secure_rand/secure_random (MathFunctions.java secureRandom): the
    # reference draws from SecureRandom; Spark's rand() is the engine
    # PRNG — cryptographic-source parity is a pinned deviation, the
    # [lower, upper) contract holds.
    "secure_rand": ("", "DOUBLE", "rand()",
                    "MathFunctions.java secureRand"),
    "secure_random": (
        "lower DOUBLE, upper DOUBLE", "DOUBLE",
        "CASE WHEN lower < upper THEN lower + rand() * (upper - lower) END",
        "MathFunctions.java secureRandom(lower, upper) — NULL when "
        "lower >= upper (expression-level checkCondition)"),
    # ---- binary codecs tail (VarbinaryFunctions.java) ----
    "to_base64url": (
        "b BINARY", "STRING", "translate(base64(b), '+/', '-_')",
        "VarbinaryFunctions.java toBase64Url (RFC 4648 §5, padded — "
        "same alphabet swap over the standard encoder)"),
    "from_base64url": (
        "s STRING", "BINARY", "unbase64(translate(s, '-_', '+/'))",
        "VarbinaryFunctions.java fromBase64Url"),
    "to_big_endian_32": (
        "x INT", "BINARY",
        "unhex(lpad(hex(CAST(x AS BIGINT) & 4294967295), 8, '0'))",
        "VarbinaryFunctions.java toBigEndian32 (two's-complement "
        "big-endian 4 bytes)"),
    "from_big_endian_32": (
        "b BINARY", "INT",
        """CASE WHEN length(b) = 4 THEN
             CAST(CAST(conv(hex(b), 16, 10) AS BIGINT)
                  - (CASE WHEN CAST(conv(hex(b), 16, 10) AS BIGINT)
                          >= 2147483648 THEN 4294967296 ELSE 0 END) AS INT)
           END""",
        "VarbinaryFunctions.java fromBigEndian32 — NULL on wrong "
        "length (expression-level checkCondition)"),
    "from_big_endian_64": (
        "b BINARY", "BIGINT",
        # conv(hex, 16, 10) parses the 16 hex digits as the SIGNED
        # 64-bit pattern when the high bit is set (conv wraps at 2^64).
        "CASE WHEN length(b) = 8 THEN CAST(conv(hex(b), 16, -10) AS BIGINT)"
        " END",
        "VarbinaryFunctions.java fromBigEndian64"),
    # ---- math/json/interval tail ----
    "inverse_cauchy_cdf": (
        "median DOUBLE, scale DOUBLE, p DOUBLE", "DOUBLE",
        """CASE WHEN scale > 0 AND p >= 0 AND p <= 1
                THEN median + scale * tan(pi() * (p - 0.5)) END""",
        "MathFunctions.java inverseCauchyCdf"),
    "to_milliseconds": (
        "iv INTERVAL DAY TO SECOND", "BIGINT",
        """CAST((extract(DAY FROM iv) * 86400
                 + extract(HOUR FROM iv) * 3600
                 + extract(MINUTE FROM iv) * 60) * 1000
                + round(extract(SECOND FROM iv) * 1000) AS BIGINT)""",
        "DateTimeFunctions.java toMilliseconds (interval day-second → "
        "ms; field extraction keeps sub-second precision — Spark has "
        "no interval/interval division)"),
    "is_json_scalar": (
        "j STRING", "BOOLEAN",
        r"""j IS NOT NULL AND j rlike
           '^\\s*("([^"\\\\]|\\\\.)*"|-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?|true|false|null)\\s*$'""",
        "JsonFunctions.java isJsonScalar (scalar-grammar check; "
        "arbitrary-nesting validity is the json_parse tier)"),
    "json_array_get": (
        "j STRING, i BIGINT", "STRING",
        """get_json_object(j, concat('$[',
             CASE WHEN i >= 0 THEN i
                  ELSE json_array_length(j) + i END, ']'))""",
        "JsonFunctions.java jsonArrayGet (negative index from the "
        "end; scalars come back unquoted — get_json_object convention, "
        "pinned deviation from the reference's json-typed return)"),
    "json_array_contains": (
        "j STRING, v STRING", "BOOLEAN",
        """exists(from_json(j, 'array<string>'), x -> x = v)""",
        "JsonFunctions.java jsonArrayContains (monomorphic SQL-UDF "
        "shim: values compared through their string forms)"),
    "is_private_ip": (
        "ip STRING", "BOOLEAN",
        f"""CASE
             WHEN ip IS NULL THEN NULL
             WHEN ip rlike
               '^{_V4_OCTET_RE}(\\\\.{_V4_OCTET_RE}){{3}}$'
             THEN {_private_v4_predicate(_ip2long("ip"))}
             ELSE lower(ip) rlike '{_PRIVATE_V6_RE}'
           END""",
        "IpPrefixFunctions.java isPrivateIp privatePrefixes:64-90 — "
        "all 14 IPv4 ranges as exact numeric range checks over VALID "
        "dotted quads only (octets 0-255 — ADVICE r7: the old "
        "[0-9]{1,3} arm folded '10.0.0.999' into the numeric check), "
        "the 9 IPv6 ranges as an anchored alternation over the "
        "canonical compressed text form (pinned: the engine's IP "
        "model is the canonical string, not a parsed IPADDRESS — "
        "malformed input answers false here where the reference "
        "fails the IPADDRESS cast)"),
    "array_sort_desc": (
        "a ARRAY<BIGINT>", "ARRAY<BIGINT>",
        """concat(reverse(array_sort(filter(a, x -> x IS NOT NULL))),
                  filter(a, x -> x IS NULL))""",
        "ArraySqlFunctions.java arraySortDesc (nulls appended last)"),
    "array_top_n": (
        "a ARRAY<BIGINT>, n INT", "ARRAY<BIGINT>",
        """IF(n < 0, raise_error('Parameter n to ARRAY_TOP_N is negative'),
              slice(array_sort_desc(a), 1, n))""",
        "ArraySqlFunctions.java arrayTopN (descending, nulls last)"),
    # O(n·k) over one ROW's array — bounded by row width, not data size
    # (the aggregate-shaped analogs are operators/aggregates.py
    # histogram/histogram_table, which are run-count / two-level).
    "array_frequency": (
        "a ARRAY<STRING>", "MAP<STRING, INT>",
        """map_from_entries(transform(
               array_distinct(filter(a, x -> x IS NOT NULL)),
               k -> struct(k AS key,
                           CAST(size(filter(a, y -> y = k)) AS INT) AS value)))""",
        "ArraySqlFunctions.java arrayFrequency (nulls ignored)"),
    "array_least_frequent": (
        "a ARRAY<STRING>, n INT", "ARRAY<STRING>",
        """IF(n < 0, raise_error('n must be greater than or equal to 0'),
           CASE WHEN size(filter(a, x -> x IS NOT NULL)) = 0 THEN NULL
           ELSE transform(
                  slice(array_sort(transform(
                          array_distinct(filter(a, x -> x IS NOT NULL)),
                          k -> struct(size(filter(a, y -> y = k)) AS c,
                                      k AS k))), 1, n),
                  s -> s.k) END)""",
        "ArraySqlFunctions.java arrayNLeastFrequent (count asc, element asc)"),
    "array_split_into_chunks": (
        "a ARRAY<BIGINT>, sz INT", "ARRAY<ARRAY<BIGINT>>",
        """IF(sz <= 0, raise_error('Invalid slice size. Size must be greater than zero.'),
              transform(sequence(1, size(a), sz), x -> slice(a, x, sz)))""",
        "ArraySqlFunctions.java arraySplitIntoChunks"),
    "array_transpose": (
        "a ARRAY<ARRAY<BIGINT>>", "ARRAY<ARRAY<BIGINT>>",
        """IF(size(a) = 0, a,
           IF(exists(a, r -> size(r) != size(element_at(a, 1))),
              raise_error('All rows must have the same length for matrix transpose'),
              transform(sequence(1, size(element_at(a, 1))),
                        x -> transform(a, y -> element_at(y, x)))))""",
        "ArraySqlFunctions.java arrayTranspose"),
    "map_key_exists": (
        "m MAP<STRING, BIGINT>, k STRING", "BOOLEAN",
        "array_contains(map_keys(m), k)",
        "MapSqlFunctions.java mapKeysExists"),
    "map_remove_null_values": (
        "m MAP<STRING, BIGINT>", "MAP<STRING, BIGINT>",
        "map_filter(m, (k, v) -> v IS NOT NULL)",
        "MapSqlFunctions.java mapRemoveNulls"),
    "map_top_n": (
        "m MAP<STRING, BIGINT>, n INT", "MAP<STRING, BIGINT>",
        """IF(n < 0, raise_error('n must be greater than or equal to 0'),
           map_from_entries(slice(concat(
             array_sort(map_entries(map_filter(m, (k, v) -> v IS NOT NULL)),
               (x, y) -> CASE WHEN x.value < y.value THEN 1
                              WHEN x.value > y.value THEN -1
                              WHEN x.key < y.key THEN 1
                              WHEN x.key > y.key THEN -1 ELSE 0 END),
             array_sort(map_entries(map_filter(m, (k, v) -> v IS NULL)),
               (x, y) -> CASE WHEN x.key < y.key THEN 1
                              WHEN x.key > y.key THEN -1 ELSE 0 END)
           ), 1, n)))""",
        "MapSqlFunctions.java mapTopN (value desc, key desc ties; "
        "null-valued entries last, key desc)"),
    "map_keys_by_top_n_values": (
        "m MAP<STRING, BIGINT>, n INT", "ARRAY<STRING>",
        "map_keys(map_top_n(m, n))",
        "MapSqlFunctions.java mapKeysByTopNValues"),
    "map_top_n_keys": (
        "m MAP<STRING, BIGINT>, n INT", "ARRAY<STRING>",
        """IF(n < 0, raise_error('n must be greater than or equal to 0'),
              slice(reverse(array_sort(map_keys(m))), 1, n))""",
        "MapSqlFunctions.java mapTopNKeys (key desc)"),
    "map_top_n_values": (
        "m MAP<STRING, BIGINT>, n INT", "ARRAY<BIGINT>",
        """IF(n < 0, raise_error('n must be greater than or equal to 0'),
              slice(array_sort_desc(map_values(m)), 1, n))""",
        "MapSqlFunctions.java mapTopNValues (value desc, nulls last)"),
    "map_normalize": (
        "m MAP<STRING, DOUBLE>", "MAP<STRING, DOUBLE>",
        """transform_values(m, (k, v) -> v /
               aggregate(map_values(m), 0D, (acc, x) -> acc + coalesce(x, 0D)))""",
        "MapNormalizeFunction.java (value / sum of non-null values)"),
    "map_int_keys_to_array": (
        "m MAP<INT, STRING>", "ARRAY<STRING>",
        """IF(array_max(map_keys(m)) > 10000,
              raise_error('Max key value must be <= 10k for map_int_keys_to_array function'),
           IF(array_min(map_keys(m)) <= 0,
              raise_error('Only positive keys allowed in map_int_keys_to_array function'),
              transform(sequence(1, array_max(map_keys(m))),
                        k -> element_at(m, CAST(k AS INT)))))""",
        "MapSqlFunctions.java mapIntKeysToArray (1..max, NULL gaps)"),
    "array_to_map_int_keys": (
        "a ARRAY<STRING>", "MAP<INT, STRING>",
        """IF(size(a) > 10000,
              raise_error('Max number of elements must be <= 10k for array_to_map_int_keys function'),
              map_from_entries(filter(
                transform(sequence(1, size(a)),
                          i -> struct(CAST(i AS INT) AS key,
                                      element_at(a, i) AS value)),
                e -> e.value IS NOT NULL)))""",
        "MapSqlFunctions.java arrayToMapIntKeys (index→value, nulls dropped)"),
    "replace_first": (
        "s STRING, search STRING, repl STRING", "STRING",
        """IF(repl IS NULL, NULL,
           IF(instr(s, search) = 0, s,
              concat(substring(s, 1, instr(s, search) - 1), repl,
                     substring(s, instr(s, search) + length(search)))))""",
        "StringSqlFunctions.java replaceFirst"),
    "trail": (
        "s STRING, n INT", "STRING",
        "reverse(substring(reverse(s), 1, n))",
        "StringSqlFunctions.java trail (last N characters)"),
    "strrpos": (
        "s STRING, sub STRING", "BIGINT",
        """CASE WHEN instr(s, sub) = 0 THEN 0
                ELSE length(s) - length(sub)
                     - instr(reverse(s), reverse(sub)) + 2 END""",
        "StringFunctions.java stringReversePosition (1-based, 0 if absent)"),
    "longest_common_prefix": (
        "s1 STRING, s2 STRING", "STRING",
        """CASE WHEN least(length(s1), length(s2)) = 0 THEN ''
           ELSE substring(s1, 1,
                  aggregate(sequence(1, least(length(s1), length(s2))), 0,
                            (acc, i) -> IF(acc = i - 1
                                           AND substring(s1, i, 1)
                                               = substring(s2, i, 1),
                                           i, acc))) END""",
        "StringFunctions.java longestCommonPrefix"),
    "split_to_multimap": (
        "s STRING, ed STRING, kd STRING", "MAP<STRING, ARRAY<STRING>>",
        """map_from_entries(transform(
               array_distinct(transform(
                   split(s, concat('\\\\Q', ed, '\\\\E')),
                   p -> split_part(p, kd, 1))),
               k -> struct(
                   k,
                   transform(
                       filter(split(s, concat('\\\\Q', ed, '\\\\E')),
                              p -> split_part(p, kd, 1) = k),
                       p -> split_part(p, kd, 2)))))""",
        "SplitToMultimapFunction.java — values grouped per unique key in "
        "encounter order"),
    "split_part_reverse": (
        "s STRING, d STRING, idx BIGINT", "STRING",
        """element_at(split(s, concat('\\\\Q', d, '\\\\E')), CAST(idx AS INT))""",
        "StringSqlFunctions.java splitPartReverse (negative = from end; "
        "delimiter regex-quoted since Spark split takes a regex)"),
    # Simplified S-stemmer (Harman): -ies→-y, -es→-e, -s→'' with the
    # standard guards — the JVM-side fast tier.  Full Porter parity
    # (WordStemFunction.java → Lucene PorterStemmer) is ``word_stem``,
    # an Arrow-batched UDF over functions/porter.py registered below.
    "word_stem_simple": (
        "w STRING", "STRING",
        """CASE
             WHEN w RLIKE '.*[^ae]ies$' THEN concat(substring(w, 1, length(w) - 3), 'y')
             WHEN w RLIKE '.*[^aeo]es$' THEN substring(w, 1, length(w) - 1)
             WHEN w RLIKE '.*[^us]s$' AND NOT w RLIKE '.*ss$'
               THEN substring(w, 1, length(w) - 1)
             ELSE w END""",
        "WordStemFunction.java (S-stemmer approximation)"),
    # ---- TIME type shims (reference: presto-common/.../type/TimeType.java)
    # Spark has no TIME type (SURVEY §1.2): the engine models TIME as
    # BIGINT millis-of-day. These shims construct/extract/format it.
    "time_from_timestamp": (
        "t TIMESTAMP_NTZ", "BIGINT",
        """(hour(t) * 3600000L + minute(t) * 60000L + second(t) * 1000L
            + CAST(date_format(t, 'SSS') AS BIGINT))""",
        "TimeType.java — TIME modeled as millis-of-day"),
    "time_of": (
        "h INT, m INT, s INT", "BIGINT",
        "h * 3600000L + m * 60000L + s * 1000L",
        "TimeType.java constructor analog"),
    "hour_of_time": ("ms BIGINT", "INT", "CAST(ms div 3600000 AS INT)",
                     "DateTimeFunctions.java hourFromTime"),
    "minute_of_time": ("ms BIGINT", "INT", "CAST((ms div 60000) % 60 AS INT)",
                       "DateTimeFunctions.java minuteFromTime"),
    "second_of_time": ("ms BIGINT", "INT", "CAST((ms div 1000) % 60 AS INT)",
                       "DateTimeFunctions.java secondFromTime"),
    "format_time": (
        "ms BIGINT", "STRING",
        """concat(lpad(CAST(ms div 3600000 AS STRING), 2, '0'), ':',
                  lpad(CAST((ms div 60000) % 60 AS STRING), 2, '0'), ':',
                  lpad(CAST((ms div 1000) % 60 AS STRING), 2, '0'))""",
        "TimeType.java display form HH:mm:ss"),
    # ---- datetime misc (reference: operator/scalar/DateTimeFunctions.java)
    "to_iso8601": (
        "t TIMESTAMP_NTZ", "STRING",
        "date_format(t, \"yyyy-MM-dd'T'HH:mm:ss.SSS\")",
        "DateTimeFunctions.java toISO8601 (engine TIMESTAMP is zone-less, "
        "so no offset suffix — documented deviation)"),
    "from_iso8601_date": (
        "s STRING", "DATE", "to_date(s, 'yyyy-MM-dd')",
        "DateTimeFunctions.java fromISO8601Date"),
    "from_iso8601_timestamp": (
        "s STRING", "TIMESTAMP_NTZ", "CAST(to_timestamp(s) AS TIMESTAMP_NTZ)",
        "DateTimeFunctions.java fromISO8601Timestamp — offset-suffixed "
        "inputs normalize to the engine's UTC instant"),
    "millisecond": (
        "t TIMESTAMP_NTZ", "INT", "CAST(date_format(t, 'SSS') AS INT)",
        "DateTimeFunctions.java millisecondFromTimestamp"),
    "parse_duration": (
        "s STRING", "DOUBLE",
        """CAST(regexp_extract(s, '^\\\\s*([0-9]*\\\\.?[0-9]+)\\\\s*([a-z]+)\\\\s*$', 1)
               AS DOUBLE)
           * CASE regexp_extract(s, '^\\\\s*([0-9]*\\\\.?[0-9]+)\\\\s*([a-z]+)\\\\s*$', 2)
               WHEN 'ns' THEN 0.000001
               WHEN 'us' THEN 0.001
               WHEN 'ms' THEN 1.0
               WHEN 's'  THEN 1000.0
               WHEN 'm'  THEN 60000.0
               WHEN 'h'  THEN 3600000.0
               WHEN 'd'  THEN 86400000.0
             END""",
        "DateTimeFunctions.java parseDuration — result in millis (the "
        "engine models duration as DOUBLE millis)"),
    "at_timezone": (
        "t TIMESTAMP_NTZ, tz STRING", "TIMESTAMP_NTZ",
        "convert_timezone('UTC', tz, t)",
        "DateTimeFunctions.java atTimeZone — engine TIMESTAMP is "
        "zone-less UTC; result is the wall-clock time in tz"),
    # ---- TIMESTAMP WITH TIME ZONE (reference: presto-common/.../type/
    # TimestampWithTimeZoneType.java — a packed (instant, zone-id) value,
    # DateTimeEncoding.java).  Spark has no per-value zone, so the engine
    # models TSWTZ as STRUCT<utc TIMESTAMP_NTZ, tz STRING>: the instant
    # normalized to UTC plus the display zone.  Instant comparisons and
    # arithmetic use .utc; zone-dependent rendering goes through tz_wall.
    "with_timezone": (
        "t TIMESTAMP_NTZ, tz STRING", "STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>",
        "named_struct('utc', convert_timezone(tz, 'UTC', t), 'tz', tz)",
        "DateTimeFunctions.java withTimezone — wall clock in tz → TSWTZ"),
    "tswtz": (
        "t TIMESTAMP_NTZ, tz STRING", "STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>",
        "named_struct('utc', t, 'tz', tz)",
        "SqlBase.g4 AT_TIMEZONE over a plain TIMESTAMP — the session "
        "zone is UTC here, so the instant IS the input; only the "
        "display zone attaches (the dialect lowers `expr AT TIME ZONE "
        "z` onto this; struct operands use tz_at_timezone)"),
    "tz_at_timezone": (
        "z STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>, tz2 STRING",
        "STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>",
        "named_struct('utc', z.utc, 'tz', tz2)",
        "DateTimeFunctions.java atTimeZone (TSWTZ form) — same instant, "
        "new display zone"),
    "tz_wall": (
        "z STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>", "TIMESTAMP_NTZ",
        "convert_timezone('UTC', z.tz, z.utc)",
        "TimestampWithTimeZoneType.java display semantics — local wall "
        "clock in the value's own zone"),
    "tz_to_unixtime": (
        "z STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>", "DOUBLE",
        "to_unixtime(z.utc)",
        "DateTimeFunctions.java toUnixTime over TSWTZ (zone-independent)"),
    # CAST-through-double truncates toward zero, so -5:30 gives
    # timezone_hour -5 / timezone_minute -30 (Presto semantics); Spark %
    # keeps the dividend's sign.
    "timezone_hour": (
        "z STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>", "INT",
        """CAST((to_unixtime(tz_wall(z)) - to_unixtime(z.utc)) / 3600.0
                AS INT)""",
        "DateTimeFunctions.java timeZoneHourFromTimestampWithTimeZone"),
    "timezone_minute": (
        "z STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>", "INT",
        """CAST((CAST(to_unixtime(tz_wall(z)) - to_unixtime(z.utc) AS INT)
                 % 3600) / 60 AS INT)""",
        "DateTimeFunctions.java timeZoneMinuteFromTimestampWithTimeZone"),
    "tz_to_iso8601": (
        "z STRUCT<utc: TIMESTAMP_NTZ, tz: STRING>", "STRING",
        """concat(
             date_format(tz_wall(z), "yyyy-MM-dd'T'HH:mm:ss.SSS"),
             IF(CAST(to_unixtime(tz_wall(z)) - to_unixtime(z.utc) AS INT) >= 0,
                '+', '-'),
             lpad(CAST(abs(CAST(to_unixtime(tz_wall(z)) - to_unixtime(z.utc)
                                AS INT)) div 3600 AS STRING), 2, '0'),
             ':',
             lpad(CAST((abs(CAST(to_unixtime(tz_wall(z)) - to_unixtime(z.utc)
                                 AS INT)) % 3600) div 60 AS STRING), 2, '0'))""",
        "DateTimeFunctions.java toISO8601 (TSWTZ form — offset suffix "
        "derived from the wall/UTC delta)"),
    # ---- string/map misc (reference: operator/scalar/StringFunctions.java,
    # SplitToMapFunction.java)
    "split_to_map": (
        "s STRING, ed STRING, kd STRING", "MAP<STRING,STRING>",
        "str_to_map(s, ed, kd)",
        "SplitToMapFunction.java — Spark str_to_map is the same contract"),
    # ---- probability / statistics (reference: operator/scalar/
    # MathFunctions.java, WilsonInterval.java).  All closed-form column
    # arithmetic — no UDF rows, stays in codegen.
    "wilson_interval_lower": (
        "x BIGINT, n BIGINT, z DOUBLE", "DOUBLE",
        """((x / CAST(n AS DOUBLE)) + z * z / (2 * n)
            - z * sqrt(((x / CAST(n AS DOUBLE)) * (1 - x / CAST(n AS DOUBLE))
                        + z * z / (4 * n)) / n))
           / (1 + z * z / n)""",
        "WilsonInterval.java lower bound"),
    "wilson_interval_upper": (
        "x BIGINT, n BIGINT, z DOUBLE", "DOUBLE",
        """((x / CAST(n AS DOUBLE)) + z * z / (2 * n)
            + z * sqrt(((x / CAST(n AS DOUBLE)) * (1 - x / CAST(n AS DOUBLE))
                        + z * z / (4 * n)) / n))
           / (1 + z * z / n)""",
        "WilsonInterval.java upper bound"),
    "cauchy_cdf": (
        "median DOUBLE, scale DOUBLE, v DOUBLE", "DOUBLE",
        "0.5 + atan((v - median) / scale) / pi()",
        "MathFunctions.java cauchyCdf (closed form)"),
    "erf_shim": (
        "x DOUBLE", "DOUBLE",
        """sign(x) * (1 - (((((1.061405429 * (1 / (1 + 0.3275911 * abs(x)))
             - 1.453152027) * (1 / (1 + 0.3275911 * abs(x)))
             + 1.421413741) * (1 / (1 + 0.3275911 * abs(x)))
             - 0.284496736) * (1 / (1 + 0.3275911 * abs(x)))
             + 0.254829592) * (1 / (1 + 0.3275911 * abs(x))))
           * exp(-x * x))""",
        "Abramowitz-Stegun 7.1.26 erf approximation (|err| < 1.5e-7), "
        "basis for normal_cdf"),
    "normal_cdf": (
        "mean DOUBLE, sd DOUBLE, v DOUBLE", "DOUBLE",
        "0.5 * (1 + erf_shim((v - mean) / (sd * sqrt(2))))",
        "MathFunctions.java normalCdf"),
    "inverse_normal_cdf": (
        "mean DOUBLE, sd DOUBLE, p DOUBLE", "DOUBLE",
        """mean + sd * (CASE
             WHEN p < 0.02425 THEN
               (((((-0.007784894002430293 * sqrt(-2 * ln(p))
                   - 0.3223964580411365) * sqrt(-2 * ln(p))
                   - 2.400758277161838) * sqrt(-2 * ln(p))
                   - 2.549732539343734) * sqrt(-2 * ln(p))
                   + 4.374664141464968) * sqrt(-2 * ln(p))
                   + 2.938163982698783)
               / ((((0.007784695709041462 * sqrt(-2 * ln(p))
                   + 0.3224671290700398) * sqrt(-2 * ln(p))
                   + 2.445134137142996) * sqrt(-2 * ln(p))
                   + 3.754408661907416) * sqrt(-2 * ln(p)) + 1)
             WHEN p > 1 - 0.02425 THEN
               -((((( -0.007784894002430293 * sqrt(-2 * ln(1 - p))
                   - 0.3223964580411365) * sqrt(-2 * ln(1 - p))
                   - 2.400758277161838) * sqrt(-2 * ln(1 - p))
                   - 2.549732539343734) * sqrt(-2 * ln(1 - p))
                   + 4.374664141464968) * sqrt(-2 * ln(1 - p))
                   + 2.938163982698783)
               / ((((0.007784695709041462 * sqrt(-2 * ln(1 - p))
                   + 0.3224671290700398) * sqrt(-2 * ln(1 - p))
                   + 2.445134137142996) * sqrt(-2 * ln(1 - p))
                   + 3.754408661907416) * sqrt(-2 * ln(1 - p)) + 1)
             ELSE
               (((((-39.69683028665376 * ((p - 0.5) * (p - 0.5))
                   + 220.9460984245205) * ((p - 0.5) * (p - 0.5))
                   - 275.9285104469687) * ((p - 0.5) * (p - 0.5))
                   + 138.357751867269) * ((p - 0.5) * (p - 0.5))
                   - 30.66479806614716) * ((p - 0.5) * (p - 0.5))
                   + 2.506628277459239) * (p - 0.5)
               / (((((-54.47609879822406 * ((p - 0.5) * (p - 0.5))
                   + 161.5858368580409) * ((p - 0.5) * (p - 0.5))
                   - 155.6989798598866) * ((p - 0.5) * (p - 0.5))
                   + 66.80131188771972) * ((p - 0.5) * (p - 0.5))
                   - 13.28068155288572) * ((p - 0.5) * (p - 0.5)) + 1)
           END)""",
        "MathFunctions.java inverseNormalCdf — Acklam's rational "
        "approximation (|rel err| < 1.15e-9)"),
    # ---- closed-form distribution CDFs (reference: operator/scalar/
    # MathFunctions.java weibullCdf/laplaceCdf/logisticCdf + inverses).
    # beta/binomial/chi-squared/f/gamma/poisson CDFs need incomplete
    # beta/gamma integrals — documented out of scope.
    "weibull_cdf": (
        "a DOUBLE, b DOUBLE, v DOUBLE", "DOUBLE",
        "CASE WHEN v <= 0 THEN 0.0 ELSE 1 - exp(-pow(v / b, a)) END",
        "MathFunctions.java weibullCdf"),
    "inverse_weibull_cdf": (
        "a DOUBLE, b DOUBLE, p DOUBLE", "DOUBLE",
        "b * pow(-ln(1 - p), 1 / a)",
        "MathFunctions.java inverseWeibullCdf"),
    "laplace_cdf": (
        "mean DOUBLE, scale DOUBLE, v DOUBLE", "DOUBLE",
        """CASE WHEN v < mean THEN 0.5 * exp((v - mean) / scale)
                ELSE 1 - 0.5 * exp(-(v - mean) / scale) END""",
        "MathFunctions.java laplaceCdf"),
    "inverse_laplace_cdf": (
        "mean DOUBLE, scale DOUBLE, p DOUBLE", "DOUBLE",
        """CASE WHEN p < 0.5 THEN mean + scale * ln(2 * p)
                ELSE mean - scale * ln(2 * (1 - p)) END""",
        "MathFunctions.java inverseLaplaceCdf"),
    "logistic_cdf": (
        "mean DOUBLE, scale DOUBLE, v DOUBLE", "DOUBLE",
        "1 / (1 + exp(-(v - mean) / scale))",
        "MathFunctions.java logisticCdf"),
    "inverse_logistic_cdf": (
        "mean DOUBLE, scale DOUBLE, p DOUBLE", "DOUBLE",
        "mean + scale * ln(p / (1 - p))",
        "MathFunctions.java inverseLogisticCdf"),
    # ---- IPADDRESS / IPPREFIX (reference: presto-common/.../type/
    # IpAddressType.java, IpPrefixType.java; operator/scalar/
    # IpPrefixFunctions.java).  Engine models both as canonical STRINGs
    # (SURVEY §1.2); IPv4 only — IPv6 documented out of scope.  All
    # arithmetic is pow-of-2 integer math, no shifts (keeps the same
    # spelling valid in the DuckDB oracle).
    "ip2long_shim": (
        "ip STRING", "BIGINT",
        """((CAST(element_at(split(ip, '\\\\.'), 1) AS BIGINT) * 256
             + CAST(element_at(split(ip, '\\\\.'), 2) AS BIGINT)) * 256
             + CAST(element_at(split(ip, '\\\\.'), 3) AS BIGINT)) * 256
             + CAST(element_at(split(ip, '\\\\.'), 4) AS BIGINT)""",
        "IpAddressType.java — dotted-quad to uint32"),
    "long2ip_shim": (
        "l BIGINT", "STRING",
        """concat(CAST((l div 16777216) % 256 AS STRING), '.',
                  CAST((l div 65536) % 256 AS STRING), '.',
                  CAST((l div 256) % 256 AS STRING), '.',
                  CAST(l % 256 AS STRING))""",
        "IpAddressType.java — uint32 to dotted-quad"),
    "ip_prefix": (
        "ip STRING, bits INT", "STRING",
        """concat(long2ip_shim((ip2long_shim(ip)
                    div CAST(pow(2, 32 - bits) AS BIGINT))
                  * CAST(pow(2, 32 - bits) AS BIGINT)),
                  '/', CAST(bits AS STRING))""",
        "IpPrefixFunctions.java ipPrefix — canonical network address"),
    "ip_subnet_min": (
        "pfx STRING", "STRING",
        "element_at(split(pfx, '/'), 1)",
        "IpPrefixFunctions.java ipSubnetMin (prefix is already the "
        "canonical network address)"),
    "ip_subnet_max": (
        "pfx STRING", "STRING",
        """long2ip_shim(ip2long_shim(element_at(split(pfx, '/'), 1))
             + CAST(pow(2, 32 - CAST(element_at(split(pfx, '/'), 2) AS INT))
                    AS BIGINT) - 1)""",
        "IpPrefixFunctions.java ipSubnetMax"),
    "is_subnet_of": (
        "pfx STRING, ip STRING", "BOOLEAN",
        """ip2long_shim(ip) >= ip2long_shim(element_at(split(pfx, '/'), 1))
           AND ip2long_shim(ip) <=
               ip2long_shim(element_at(split(pfx, '/'), 1))
               + CAST(pow(2, 32 - CAST(element_at(split(pfx, '/'), 2) AS INT))
                      AS BIGINT) - 1""",
        "IpPrefixFunctions.java isSubnetOf(prefix, address)"),
    "ip_subnet_range": (
        "pfx STRING", "ARRAY<STRING>",
        "array(ip_subnet_min(pfx), ip_subnet_max(pfx))",
        "IpPrefixFunctions.java ipSubnetRange — [network, broadcast]"),
    "ip_prefix_subnets": (
        "pfx STRING, newbits INT", "ARRAY<STRING>",
        f"""CASE WHEN newbits < CAST(element_at(split(pfx, '/'), 2) AS INT)
                  OR newbits > 32 THEN array()
           ELSE transform(
             sequence(0, CAST(pow(2, newbits
                      - CAST(element_at(split(pfx, '/'), 2) AS INT))
                      AS INT) - 1),
             i -> concat(
               {_long2ip(_ip2long("element_at(split(pfx, '/'), 1)")
                         + " + CAST(i AS BIGINT)"
                         + " * CAST(pow(2, 32 - newbits) AS BIGINT)")},
               '/', CAST(newbits AS STRING)))
           END""",
        "IpPrefixFunctions.java ipPrefixSubnets — subdivide into "
        "2^(new−old) prefixes; empty array when newbits is shorter "
        "than the input prefix (reference contract)"),
    # empty_approx_set() (HyperLogLogFunctions.java emptyApproxSet):
    # a zero-cardinality DataSketches HLL payload, mergeable with any
    # approx_set partial — spelled as an empty-relation aggregate.
    "empty_approx_set": (
        "", "BINARY",
        "(SELECT hll_sketch_agg(x) FROM (SELECT CAST(NULL AS BIGINT) AS x))",
        "HyperLogLogFunctions.java emptyApproxSet"),
    # ---- bitwise shifts (BitwiseFunctions.java; docs bitwise.rst).
    # Engine ints are BIGINT (monomorphic-shim convention) — the
    # generic shifts use the bottom 6 bits of the shift exactly like
    # Java/Spark; the 3-arg legacy forms emulate the bits-wide
    # register with pow-of-2 modular arithmetic. ----
    # s >= 64 guards: Spark's shift builtins mask the shift mod 64
    # (Java semantics), but the reference saturates — shift >= 64
    # returns 0 (sign-extended to 0/-1 for the arithmetic form),
    # BitwiseFunctions.java:184,247,306 (ADVICE r6).
    "bitwise_left_shift": (
        "x BIGINT, s BIGINT", "BIGINT",
        "CASE WHEN s >= 64 THEN CAST(0 AS BIGINT) "
        "ELSE shiftleft(x, CAST(s AS INT)) END",
        "BitwiseFunctions.java bitwiseLeftShiftBigint:180-188 "
        "(shift >= 64 saturates to 0)"),
    "bitwise_right_shift": (
        "x BIGINT, s BIGINT", "BIGINT",
        "CASE WHEN s >= 64 THEN CAST(0 AS BIGINT) "
        "ELSE shiftrightunsigned(x, CAST(s AS INT)) END",
        "BitwiseFunctions.java bitwiseRightShiftBigint:243-251 "
        "(logical/zero-fill; shift >= 64 saturates to 0)"),
    "bitwise_right_shift_arithmetic": (
        "x BIGINT, s BIGINT", "BIGINT",
        "CASE WHEN s >= 64 THEN CAST(IF(x >= 0, 0, -1) AS BIGINT) "
        "ELSE shiftright(x, CAST(s AS INT)) END",
        "BitwiseFunctions.java bitwiseRightShiftArithmeticBigint:"
        "302-315 (shift >= 64 sign-extends to 0/-1)"),
    "bitwise_arithmetic_shift_right": (
        "x BIGINT, s BIGINT", "BIGINT",
        "CASE WHEN s < 0 THEN NULL ELSE shiftright(x, CAST(s AS INT)) END",
        "BitwiseFunctions.java bitwiseArithmeticShiftRight (negative "
        "shift → NULL, expression-level checkCondition)"),
    # bits-wide mask spelled as shiftleft(1, bits) - 1: two's-complement
    # wrap makes it exact for bits = 63, where pow(2, bits) would
    # overflow BIGINT (code-review r6 finding).
    "bitwise_shift_left": (
        "x BIGINT, s BIGINT, bits BIGINT", "BIGINT",
        """CASE WHEN bits < 2 OR bits > 64 OR s < 0 THEN NULL
                WHEN s >= bits THEN 0
                WHEN bits = 64 THEN shiftleft(x, CAST(s AS INT))
                ELSE shiftleft(x, CAST(s AS INT))
                     & (shiftleft(CAST(1 AS BIGINT), CAST(bits AS INT)) - 1)
           END""",
        "BitwiseFunctions.java bitwiseShiftLeft (bits-wide register)"),
    "bitwise_logical_shift_right": (
        "x BIGINT, s BIGINT, bits BIGINT", "BIGINT",
        """CASE WHEN bits < 2 OR bits > 64 OR s < 0 THEN NULL
                WHEN s >= bits THEN 0
                WHEN bits = 64 THEN shiftrightunsigned(x, CAST(s AS INT))
                ELSE shiftrightunsigned(
                       x & (shiftleft(CAST(1 AS BIGINT), CAST(bits AS INT))
                            - 1),
                       CAST(s AS INT)) END""",
        "BitwiseFunctions.java bitwiseLogicalShiftRight"),
    # Greedy range→CIDR cover: at each step take the largest aligned
    # block that fits; a /32-granular IPv4 range needs at most 62
    # blocks, so the unbounded while-loop unrolls as a 64-step fold.
    "cidr_cover_shim": (
        "lo BIGINT, hi BIGINT", "ARRAY<STRING>",
        _cidr_cover("lo", "hi"),
        "IpPrefixFunctions.java rangeToCidr analog"),
    "ip_prefix_collapse": (
        "pfxs ARRAY<STRING>", "ARRAY<STRING>",
        f"""flatten(transform(
             aggregate(
               array_sort(transform(pfxs, p -> named_struct(
                 'lo', {_ip2long("element_at(split(p, '/'), 1)")},
                 'hi', {_ip2long("element_at(split(p, '/'), 1)")}
                       + CAST(pow(2, 32
                           - CAST(element_at(split(p, '/'), 2) AS INT))
                           AS BIGINT) - 1))),
               CAST(array() AS ARRAY<STRUCT<lo: BIGINT, hi: BIGINT>>),
               (acc, r) -> CASE
                 WHEN size(acc) = 0
                      OR r.lo > element_at(acc, -1).hi + 1
                 THEN concat(acc, array(r))
                 WHEN r.hi <= element_at(acc, -1).hi THEN acc
                 ELSE concat(slice(acc, 1, size(acc) - 1),
                             array(named_struct(
                               'lo', element_at(acc, -1).lo,
                               'hi', r.hi)))
                 END),
             r -> {_cidr_cover('r.lo', 'r.hi')}))""",
        "IpPrefixFunctions.java ipPrefixCollapse — sort by start, "
        "merge adjacent/overlapping ranges, re-emit the minimal CIDR "
        "cover per merged range"),
}


class Shim(NamedTuple):
    """One compat function: a SQL body, or (``body`` None) the Python
    UDF at ``udf``.  ``calls`` are the shims the body calls."""

    args: str  # Spark DDL argument list
    ret: str  # Spark DDL return type
    body: str | None
    cite: str
    udf: str = ""  # "module:attribute"
    calls: frozenset[str] = frozenset()


_CALL_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\(")


def _called(text: str) -> set[str]:
    """Lower-cased names written as ``name(`` in SQL text."""
    return {m.group(1).lower() for m in _CALL_RE.finditer(text)}


# name -> (Spark DDL arguments, return type, reference citation,
# "module:attribute").  Arrow-batched pandas UDFs for the functions no
# SQL expression can reach; a module is imported only when one of its
# shims is first registered.
_M = "presto_spark.functions."
_PY_UDFS: dict[str, tuple[str, str, str, str]] = {
    # ---- ML scalar tier (presto-ml MLFunctions.java): model scoring;
    # training lives in operators/ml.py as DataFrame operators (the
    # reference trains inside a final-node aggregate, the same
    # single-site semantics) ----
    "classify": ("features MAP<BIGINT, DOUBLE>, model STRING", "BIGINT",
                 "MLFunctions.java:55 classify (bigint classifier)",
                 "presto_spark.operators.ml:classify"),
    "classify_varchar": (
        "features MAP<BIGINT, DOUBLE>, model STRING", "STRING",
        "MLFunctions.java:42 varcharClassify",
        "presto_spark.operators.ml:classify_varchar"),
    "regress": ("features MAP<BIGINT, DOUBLE>, model STRING", "DOUBLE",
                "MLFunctions.java:66 regress",
                "presto_spark.operators.ml:regress"),
    # ---- extended JSONPath (recursive descent / filters / bracket
    # names / slices — the Jayway fallback, JsonPath.java:140); the
    # dialect routes literal extended paths here, plain paths stay on
    # JVM get_json_object ----
    "json_extract_py": ("j STRING, p STRING", "STRING",
                        "JsonExtract.java (extended JSONPath)",
                        _M + "_json_pandas_udfs:json_extract_py"),
    "json_extract_scalar_py": (
        "j STRING, p STRING", "STRING",
        "JsonFunctions.java jsonExtractScalar (extended JSONPath)",
        _M + "_json_pandas_udfs:json_extract_scalar_py"),
    "json_size_py": ("j STRING, p STRING", "BIGINT",
                     "JsonFunctions.java jsonSize (extended JSONPath)",
                     _M + "_json_pandas_udfs:json_size_py"),
    # ---- per-row datetime patterns (DateTimeFunctions.java evaluates
    # the pattern per row; Spark's date_format wants a constant) and
    # the Teradata forms with column-valued formats ----
    "date_format_py": ("t TIMESTAMP_NTZ, f STRING", "STRING",
                       "DateTimeFunctions.java dateFormat",
                       _M + "_datetime_pandas_udfs:date_format_py"),
    "format_datetime_py": ("t TIMESTAMP_NTZ, f STRING", "STRING",
                           "DateTimeFunctions.java formatDatetime",
                           _M + "_datetime_pandas_udfs:format_datetime_py"),
    "date_parse_py": ("s STRING, f STRING", "TIMESTAMP_NTZ",
                      "DateTimeFunctions.java dateParse",
                      _M + "_datetime_pandas_udfs:date_parse_py"),
    "parse_datetime_py": ("s STRING, f STRING", "TIMESTAMP_NTZ",
                          "DateTimeFunctions.java parseDatetime",
                          _M + "_datetime_pandas_udfs:parse_datetime_py"),
    "to_char_td_py": ("t TIMESTAMP_NTZ, f STRING", "STRING",
                      "TeradataDateFunctions.java toChar",
                      _M + "_datetime_pandas_udfs:to_char_td_py"),
    "to_date_td_py": ("s STRING, f STRING", "DATE",
                      "TeradataDateFunctions.java toDate",
                      _M + "_datetime_pandas_udfs:to_date_td_py"),
    "to_timestamp_td_py": ("s STRING, f STRING", "TIMESTAMP_NTZ",
                           "TeradataDateFunctions.java toTimestamp",
                           _M + "_datetime_pandas_udfs:to_timestamp_td_py"),
    # ---- text: full Porter parity (WordStemFunction.java → Lucene
    # PorterStemmer; word_stem_simple is the JVM approximation) ----
    "word_stem": ("w STRING", "STRING",
                  "WordStemFunction.java (Porter stemmer)",
                  _M + "_text_pandas_udfs:word_stem_udf"),
    "jarowinkler_similarity": (
        "a STRING, b STRING", "DOUBLE",
        "StringFunctions.java jaroWinklerSimilarity",
        _M + "_text_pandas_udfs:jarowinkler_udf"),
    "normalize": ("s STRING, form STRING", "STRING",
                  "StringFunctions.java normalize (NFC/NFD/NFKC/NFKD)",
                  _M + "_text_pandas_udfs:normalize_udf"),
    # ---- incomplete-integral CDF family (MathFunctions.java): no
    # closed form, so the regularized incomplete gamma/beta live in
    # functions/stats.py ----
    "beta_cdf": ("a DOUBLE, b DOUBLE, v DOUBLE", "DOUBLE",
                 "MathFunctions.java betaCdf",
                 _M + "_stats_pandas_udfs:beta_cdf_udf"),
    "binomial_cdf": ("n BIGINT, p DOUBLE, k BIGINT", "DOUBLE",
                     "MathFunctions.java binomialCdf",
                     _M + "_stats_pandas_udfs:binomial_cdf_udf"),
    "chi_squared_cdf": ("df DOUBLE, v DOUBLE", "DOUBLE",
                        "MathFunctions.java chiSquaredCdf",
                        _M + "_stats_pandas_udfs:chi_squared_cdf_udf"),
    "f_cdf": ("d1 DOUBLE, d2 DOUBLE, v DOUBLE", "DOUBLE",
              "MathFunctions.java fCdf",
              _M + "_stats_pandas_udfs:f_cdf_udf"),
    "gamma_cdf": ("shape DOUBLE, scale DOUBLE, v DOUBLE", "DOUBLE",
                  "MathFunctions.java gammaCdf",
                  _M + "_stats_pandas_udfs:gamma_cdf_udf"),
    "poisson_cdf": ("lam DOUBLE, k BIGINT", "DOUBLE",
                    "MathFunctions.java poissonCdf",
                    _M + "_stats_pandas_udfs:poisson_cdf_udf"),
    "inverse_beta_cdf": ("a DOUBLE, b DOUBLE, p DOUBLE", "DOUBLE",
                         "MathFunctions.java inverseBetaCdf",
                         _M + "_stats_pandas_udfs:inverse_beta_cdf_udf"),
    "t_cdf": ("df DOUBLE, t DOUBLE", "DOUBLE", "MathFunctions.java tCdf",
              _M + "_stats_pandas_udfs:t_cdf_udf"),
    "inverse_t_cdf": ("df DOUBLE, p DOUBLE", "DOUBLE",
                      "MathFunctions.java inverseTCdf",
                      _M + "_stats_pandas_udfs:inverse_t_cdf_udf"),
    "inverse_chi_squared_cdf": (
        "df DOUBLE, p DOUBLE", "DOUBLE",
        "MathFunctions.java inverseChiSquaredCdf",
        _M + "_stats_pandas_udfs:inverse_chi_squared_cdf_udf"),
    "inverse_gamma_cdf": ("shape DOUBLE, scale DOUBLE, p DOUBLE", "DOUBLE",
                          "MathFunctions.java inverseGammaCdf",
                          _M + "_stats_pandas_udfs:inverse_gamma_cdf_udf"),
    "inverse_f_cdf": ("d1 DOUBLE, d2 DOUBLE, p DOUBLE", "DOUBLE",
                      "MathFunctions.java inverseFCdf",
                      _M + "_stats_pandas_udfs:inverse_f_cdf_udf"),
    "inverse_poisson_cdf": ("lam DOUBLE, p DOUBLE", "BIGINT",
                            "MathFunctions.java inversePoissonCdf",
                            _M + "_stats_pandas_udfs:inverse_poisson_cdf_udf"),
    "inverse_binomial_cdf": (
        "n BIGINT, pr DOUBLE, p DOUBLE", "BIGINT",
        "MathFunctions.java inverseBinomialCdf",
        _M + "_stats_pandas_udfs:inverse_binomial_cdf_udf"),
    # ---- binary tail (HmacFunctions.java; VarbinaryFunctions
    # .java:250-307): no JVM builtins exist; pinned against the
    # reference's own test vectors (TestVarbinaryFunctions.java) ----
    "hmac_md5": ("msg BINARY, key BINARY", "BINARY",
                 "HmacFunctions.java hmacMd5",
                 _M + "_binary_pandas_udfs:hmac_md5_udf"),
    "hmac_sha1": ("msg BINARY, key BINARY", "BINARY",
                  "HmacFunctions.java hmacSha1",
                  _M + "_binary_pandas_udfs:hmac_sha1_udf"),
    "hmac_sha256": ("msg BINARY, key BINARY", "BINARY",
                    "HmacFunctions.java hmacSha256",
                    _M + "_binary_pandas_udfs:hmac_sha256_udf"),
    "hmac_sha512": ("msg BINARY, key BINARY", "BINARY",
                    "HmacFunctions.java hmacSha512",
                    _M + "_binary_pandas_udfs:hmac_sha512_udf"),
    "murmur3_x64_128": ("b BINARY", "BINARY",
                        "VarbinaryFunctions.java murmur3X64128",
                        _M + "_binary_pandas_udfs:murmur3_x64_128_udf"),
    "to_ieee754_32": ("x FLOAT", "BINARY",
                      "VarbinaryFunctions.java toIEEE754Binary32",
                      _M + "_binary_pandas_udfs:to_ieee754_32_udf"),
    "from_ieee754_32": ("b BINARY", "FLOAT",
                        "VarbinaryFunctions.java fromIEEE754Binary32",
                        _M + "_binary_pandas_udfs:from_ieee754_32_udf"),
    "to_ieee754_64": ("x DOUBLE", "BINARY",
                      "VarbinaryFunctions.java toIEEE754Binary64",
                      _M + "_binary_pandas_udfs:to_ieee754_64_udf"),
    "from_ieee754_64": ("b BINARY", "DOUBLE",
                        "VarbinaryFunctions.java fromIEEE754Binary64",
                        _M + "_binary_pandas_udfs:from_ieee754_64_udf"),
    "to_base32": ("b BINARY", "STRING", "VarbinaryFunctions.java toBase32",
                  _M + "_binary_pandas_udfs:to_base32_udf"),
    "from_base32": ("s STRING", "BINARY",
                    "VarbinaryFunctions.java fromBase32",
                    _M + "_binary_pandas_udfs:from_base32_udf"),
    "spooky_hash_v2_32": ("b BINARY", "BINARY",
                          "VarbinaryFunctions.java spookyHashV2_32",
                          _M + "_binary_pandas_udfs:spooky_hash_v2_32_udf"),
    "spooky_hash_v2_64": ("b BINARY", "BINARY",
                          "VarbinaryFunctions.java spookyHashV2_64",
                          _M + "_binary_pandas_udfs:spooky_hash_v2_64_udf"),
    "fnv1_32": ("b BINARY", "INT", "VarbinaryFunctions.java fnv1Hash32",
                _M + "_binary_pandas_udfs:fnv1_32_udf"),
    "fnv1_64": ("b BINARY", "BIGINT", "VarbinaryFunctions.java fnv1Hash64",
                _M + "_binary_pandas_udfs:fnv1_64_udf"),
    "fnv1a_32": ("b BINARY", "INT", "VarbinaryFunctions.java fnv1aHash32",
                 _M + "_binary_pandas_udfs:fnv1a_32_udf"),
    "fnv1a_64": ("b BINARY", "BIGINT", "VarbinaryFunctions.java fnv1aHash64",
                 _M + "_binary_pandas_udfs:fnv1a_64_udf"),
}


def _geo_shims(geo_t: str) -> dict[str, Shim]:
    """The geospatial SQL surface: the ingest/emit/relate UDFs under
    their Presto names and the DE-9IM predicates as SQL bodies doing one
    regex scan over the relate matrix (one Arrow call per pair whichever
    predicate is asked).  Measures/overlay/accessors stay DataFrame-level
    Column builders (functions/geo.py) apart from the measure spellings
    of functions/geo_sql_measures.py.  The struct→coordinate
    decomposition happens in the SQL bodies because ragged
    array<array<struct>> pandas-UDF inputs trip the Arrow converter."""
    rings = "ARRAY<ARRAY<DOUBLE>>"
    coords = f"kind STRING, xs {rings}, ys {rings}"
    out = {
        "st_geometryfromtext": Shim(
            "wkt STRING", geo_t, None, "GeoFunctions.java stGeometryFromText",
            _M + "_geo_pandas_udfs:parse_wkt_full_udf"),
        "st_geomfrombinary": Shim(
            "wkb BINARY", geo_t, None, "GeoFunctions.java stGeomFromBinary",
            _M + "_geo_pandas_udfs:parse_wkb_udf"),
        "__st_asbinary3": Shim(
            coords, "BINARY", None, "GeoFunctions.java stAsBinary",
            _M + "_geo_pandas_udfs:as_wkb_udf"),
        "__st_relate_matrix6": Shim(
            f"akind STRING, axs {rings}, ays {rings}, "
            f"bkind STRING, bxs {rings}, bys {rings}", "STRING", None,
            "GeoFunctions.java stRelate (DE-9IM matrix)",
            _M + "geo_relate:_relate_udf"),
    }
    xs = "transform(g.rings, r -> transform(r, p -> p.x))"
    ys = "transform(g.rings, r -> transform(r, p -> p.y))"
    m = ("__st_relate_matrix6(a.kind, "
         "transform(a.rings, r -> transform(r, p -> p.x)), "
         "transform(a.rings, r -> transform(r, p -> p.y)), "
         "b.kind, "
         "transform(b.rings, r -> transform(r, p -> p.x)), "
         "transform(b.rings, r -> transform(r, p -> p.y)))")
    dim = ("CASE WHEN {0}.kind IN ('POINT', 'MULTIPOINT') THEN 0 "
           "WHEN {0}.kind IN ('LINESTRING', 'MULTILINESTRING') THEN 1 "
           "WHEN {0}.kind IN ('POLYGON', 'MULTIPOLYGON') THEN 2 END")
    ab = f"a {geo_t}, b {geo_t}"
    for name, args, ret, body in (
        # "__st_asbinary": the bare name is a Spark 4.1 builtin (for
        # Spark's native GEOMETRY type); dialect.py renames the Presto
        # spelling to this wrapper
        ("__st_asbinary", f"g {geo_t}", "BINARY",
         f"__st_asbinary3(g.kind, {xs}, {ys})"),
        ("st_point", "x DOUBLE, y DOUBLE", geo_t,
         "named_struct('kind', 'POINT', 'rings', "
         "array(array(named_struct('x', x, 'y', y))))"),
        ("st_x", f"g {geo_t}", "DOUBLE",
         "CASE WHEN g.kind = 'POINT' THEN g.rings[0][0].x END"),
        ("st_y", f"g {geo_t}", "DOUBLE",
         "CASE WHEN g.kind = 'POINT' THEN g.rings[0][0].y END"),
        ("st_geometrytype", f"g {geo_t}", "STRING",
         "CASE g.kind WHEN 'POINT' THEN 'ST_Point' "
         "WHEN 'MULTIPOINT' THEN 'ST_MultiPoint' "
         "WHEN 'LINESTRING' THEN 'ST_LineString' "
         "WHEN 'MULTILINESTRING' THEN 'ST_MultiLineString' "
         "WHEN 'POLYGON' THEN 'ST_Polygon' "
         "WHEN 'MULTIPOLYGON' THEN 'ST_MultiPolygon' "
         "WHEN 'GEOMETRYCOLLECTION' THEN 'ST_GeomCollection' END"),
        # DE-9IM family: one matrix call, one regex scan per predicate
        # (pattern positions: II IB IE BI BB BE EI EB EE)
        # malformed (non-NULL, not 9 chars over TF012*) patterns RAISE
        # like the reference's Esri relate(); NULL pattern stays NULL
        ("st_relate", f"{ab}, p STRING", "BOOLEAN",
         "CASE WHEN p IS NULL THEN CAST(NULL AS BOOLEAN) "
         "WHEN p RLIKE '^[TF012*]{9}$' THEN "
         f"{m} RLIKE "
         "concat('^', replace(replace(p, 'T', '[012]'), '*', '.'), '$') "
         "ELSE CAST(raise_error(concat('Invalid DE-9IM pattern: ', p)) "
         "AS BOOLEAN) END"),
        ("st_touches", ab, "BOOLEAN",
         f"{m} RLIKE '^F([^F]|..[^F]|...[^F])'"),
        ("st_disjoint", ab, "BOOLEAN", f"{m} RLIKE '^FF.FF'"),
        ("st_equals", ab, "BOOLEAN", f"{m} RLIKE '^[^F].F..FFF'"),
        ("st_contains", ab, "BOOLEAN", f"{m} RLIKE '^[^F].{{5}}FF'"),
        ("st_within", ab, "BOOLEAN", f"{m} RLIKE '^[^F].F..F'"),
        ("st_intersects", ab, "BOOLEAN", f"NOT ({m} RLIKE '^FF.FF')"),
        # NULL/collection inputs have NULL dims — lead with the NULL
        # guard so the ELSE-false arms can't turn NULL into false
        # (dims are plain CASE expressions, so the guard costs no
        # extra matrix UDF call)
        ("st_crosses", ab, "BOOLEAN",
         f"CASE WHEN ({dim.format('a')}) IS NULL "
         f"OR ({dim.format('b')}) IS NULL THEN CAST(NULL AS BOOLEAN) "
         f"WHEN ({dim.format('a')}) < ({dim.format('b')}) "
         f"THEN {m} RLIKE '^[^F].[^F]' "
         f"WHEN ({dim.format('a')}) > ({dim.format('b')}) "
         f"THEN {m} RLIKE '^[^F].{{5}}[^F]' "
         f"WHEN ({dim.format('a')}) = 1 AND ({dim.format('b')}) = 1 "
         f"THEN substring({m}, 1, 1) = '0' ELSE false END"),
        ("st_overlaps", ab, "BOOLEAN",
         f"CASE WHEN ({dim.format('a')}) IS NULL "
         f"OR ({dim.format('b')}) IS NULL THEN CAST(NULL AS BOOLEAN) "
         f"WHEN ({dim.format('a')}) != ({dim.format('b')}) "
         "THEN false "
         f"WHEN ({dim.format('a')}) = 1 "
         f"THEN {m} RLIKE '^1.[^F].{{3}}[^F]' "
         f"ELSE {m} RLIKE '^[^F].[^F].{{3}}[^F]' END"),
    ):
        out[name] = Shim(args, ret, body, f"GeoFunctions.java {name}")
    return out


@functools.cache
def shims() -> dict[str, Shim]:
    """The one table of compat shims, in registration order: a body
    calls only shims listed before it, because Spark resolves a SQL
    function's body when the function is created."""
    from presto_spark.functions.color import COLOR_UDFS
    from presto_spark.functions.geo_sql_measures import GEO_T, sql_measure_udfs
    from presto_spark.functions.llm_sql import llm_sql_udfs

    table = {n: Shim(*t) for n, t in _SQL_UDFS.items()}
    table.update((n, Shim(a, r, b, "BitwiseFunctions.java"))
                 for n, (a, r, b) in BITWISE_UDFS.items())
    # color/bar terminal rendering (ColorFunctions.java)
    table.update((n, Shim(*t)) for n, t in COLOR_UDFS.items())
    table.update((n, Shim(a, r, None, c, u))
                 for n, (a, r, c, u) in _PY_UDFS.items())
    table.update(_geo_shims(GEO_T))
    # measures + SPHERICAL_GEOGRAPHY spellings: transliterated twins of
    # the Column folds, bit-parity-pinned by tests/test_geo_sql_measures.py
    table.update((n, Shim(a, r, b, "GeoFunctions.java / "
                          "SphericalGeoFunctions.java " + n))
                 for n, (a, r, b) in sql_measure_udfs().items())
    table.update((n, Shim(a, r, b, "LLM scalar tier (functions/llm_sql.py)"))
                 for n, (a, r, b) in llm_sql_udfs().items())
    return {n: s._replace(calls=frozenset(_called(s.body) & table.keys() - {n}))
            if s.body else s for n, s in table.items()}


def _ddl(name: str, args: str, ret: str, body: str) -> str:
    return (f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS {ret} RETURN {body}")


def register_functions(spark: SparkSession, *texts: str) -> list[str]:
    """Register into ``spark`` the shims that ``texts`` call, plus the
    shims those bodies call; return the names registered, in table
    order.

    A shim is called where its name is written as ``name(``.  Shims the
    session already has are skipped: the record is an attribute of the
    session object, so it dies with the session.  With no text nothing
    is registered.  Failures raise — a shim that silently failed to
    register would surface as a confusing error at query time.
    """
    table = shims()
    want = set().union(*map(_called, texts)) & table.keys()
    todo = list(want)
    while todo:
        for dep in table[todo.pop()].calls - want:
            want.add(dep)
            todo.append(dep)
    done = vars(spark).setdefault("_presto_spark_shims", set())
    new = [n for n in table if n in want and n not in done]
    for name in new:
        s = table[name]
        if s.body is not None:
            spark.sql(_ddl(name, s.args, s.ret, s.body))
        else:
            module, attr = s.udf.split(":")
            spark.udf.register(
                name, getattr(importlib.import_module(module), attr))
        done.add(name)
    return new


def run_sql(spark: SparkSession, text: str) -> DataFrame:
    """``spark.sql(text)`` with the shims ``text`` calls registered."""
    register_functions(spark, text)
    return spark.sql(text)
