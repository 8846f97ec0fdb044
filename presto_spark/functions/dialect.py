"""Presto → Spark SQL dialect translation.

Presto's SQL grammar (reference: presto-parser/src/main/antlr4/com/facebook/
presto/sql/parser/SqlBase.g4) is ANSI-compatible with Spark SQL for the
overwhelming majority of surface; what survives as a difference is
function *names* with polymorphic types (SQL UDFs are monomorphic, so
registry.py can't cover them) and a few functions whose Presto name
collides with a Spark builtin of different semantics (Spark refuses to
let a SQL UDF shadow a builtin).  This module rewrites those spellings.

Presto parses a statement once and rewrites the tree it parsed
(SqlParser.java, AstBuilder); this module does the same over the
brackets presto_spark/sql_lex.py finds, the one home of the lexical
rules (which text is code, where a bracket closes, where an argument
list splits).  ``translate`` runs in two steps:

* grammar passes, in a fixed order, for the spellings that are not
  function calls: Unicode literals, double-quoted identifiers,
  quantified comparisons, window clauses, GROUPS frames, NULLS LAST,
  ``ARRAY[``, type positions, typed literals, LIMIT, AT TIME ZONE,
  UNNEST, IN VALUES, TABLESAMPLE, subscripts and ``array_agg``'s
  FILTER/OVER tails;
* one walk over every call site (``sql_lex.rewrite_calls``), inner
  calls first, rewriting each call once through one table
  (``_CALLS``): a builder sees its arguments already translated, and
  what it returns is final Spark text that is never scanned again.

The Spark parser catches any mis-rewrite loudly.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from functools import partial

from presto_spark import sql_lex
from presto_spark.functions import teradata as _teradata
from presto_spark.functions.datetime_formats import (
    UnsupportedPatternError,
    joda_to_java,
    mysql_to_java,
)

# One string literal ('' escapes included), its body in group 1: the
# building block of the patterns that match a literal as a value (a
# literal argument, a typed or a Unicode literal).  Which text is a
# literal and which is code is decided in presto_spark/sql_lex.py, the
# one home of the lexical rules.
_sql_string_re = re.compile(r"'((?:[^']|'')*)'")

# Presto array subscripts are 1-based and arr[1] is the FIRST
# element (ArraySubscriptOperator.java); Spark's [] is 0-based — a
# silent off-by-one for any Presto query. Rewrite integer-literal
# subscripts on simple (possibly dotted) identifiers to element_at,
# which is 1-based in Spark, matching Presto. Map access uses
# string/expression keys and is left alone (same semantics in both).
# (ARRAY[1] is a literal constructor, not a subscript — skip it.)
# Applied via sql_lex.sub: 'a[1]' inside a literal stays put.
_SUBSCRIPT_RULE: tuple[re.Pattern[str], object] = (
    re.compile(r"\b(\w+(?:\.\w+)*)\[(\d+)\]"),
    lambda m: m.group(0) if m.group(1).lower() == "array"
    else f"element_at({m.group(1)}, {m.group(2)})",
)

# Scalar bitwise shims the bitwise_* entries of _CALLS rename onto —
# registered by registry.register_functions (names don't collide with
# builtins; bodies are plain JVM expressions).
BITWISE_UDFS = {
    "bit_and_scalar": ("a BIGINT, b BIGINT", "BIGINT", "a & b"),
    "bit_or_scalar": ("a BIGINT, b BIGINT", "BIGINT", "a | b"),
    "bit_xor_scalar": ("a BIGINT, b BIGINT", "BIGINT", "a ^ b"),
    "bit_not_scalar": ("a BIGINT", "BIGINT", "~a"),
}


# --- datetime-format dialect calls -----------------------------------------
# Presto date_format/date_parse speak MySQL %-patterns, format_datetime/
# parse_datetime speak Joda (DateTimeFunctions.java:71 area).  When the
# pattern argument is a string literal we translate it to java.time and
# lower the call onto Spark's date_format/to_timestamp.  Non-literal
# patterns are left untouched (documented limitation).
_DT_FORMAT_FNS = {
    "date_format": ("date_format", mysql_to_java),
    "date_parse": ("to_timestamp", mysql_to_java),
    "format_datetime": ("date_format", joda_to_java),
    "parse_datetime": ("to_timestamp", joda_to_java),
}

# MySQL %v (ISO week 01-53) / %x (ISO week-year) are Presto-supported
# (DateTimeFunctions.java rejects only %D/%U/%u/%V/%w/%X) but java.time
# week letters are banned in Spark — lower a pattern containing them to
# concat(date_format chunks, week expressions).  weekofyear() is ISO in
# Spark; year_of_week is the registry shim (registry.py).
_WEEK_SPECS = {
    "v": "lpad(cast(weekofyear({ts}) AS STRING), 2, '0')",
    "x": "cast(year_of_week({ts}) AS STRING)",
}


def _mysql_concat_form(ts: str, pattern: str) -> str | None:
    """concat(...) expression for a %-pattern containing %v/%x, or None
    if the pattern has no week fields / another field is unsupported."""
    if "%v" not in pattern and "%x" not in pattern:
        return None
    # Chunks are tagged STRUCTURALLY — ("E", generated-expression) vs
    # ("P", pattern-text) — the same way _joda_concat_form tags its
    # parts.  Sniffing generated chunks by text prefix would misread a
    # literal pattern that itself starts with "lpad("/"cast(" as raw
    # SQL (broken/injectable output).
    parts: list[tuple[str, str]] = []
    buf = ""
    i = 0
    while i < len(pattern):
        if (pattern[i] == "%" and i + 1 < len(pattern)
                and pattern[i + 1] in _WEEK_SPECS):
            if buf:
                parts.append(("P", buf))
                buf = ""
            parts.append(("E", _WEEK_SPECS[pattern[i + 1]].format(ts=ts)))
            i += 2
        else:
            buf += pattern[i:i + 2] if pattern[i] == "%" else pattern[i]
            i += 2 if pattern[i] == "%" else 1
    if buf:
        parts.append(("P", buf))
    exprs = []
    for kind, p in parts:
        if kind == "E":
            exprs.append(p)
        elif "%" not in p:
            exprs.append("'" + p.replace("'", "''") + "'")
        else:
            try:
                java = mysql_to_java(p)
            except UnsupportedPatternError:
                return None
            exprs.append(
                f"date_format({ts}, "
                f"'{java.replace(chr(39), chr(39) * 2)}')")
    if len(exprs) == 1:
        return exprs[0]
    return "concat(" + ", ".join(exprs) + ")"


def _joda_concat_form(ts: str, pattern: str) -> str | None:
    """concat(...) for a Joda pattern containing week-based w/x letter
    runs (weekOfWeekyear / weekyear — Presto-supported, Spark-banned);
    None when absent or another field is unsupported."""
    runs = re.findall(r"w+|x+", _strip_joda_quotes(pattern))
    if not runs:
        return None
    parts: list[str] = []
    buf = ""
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "'":  # quoted literal — copy whole section into buf
            j = i + 1
            while j < n and pattern[j] != "'":
                j += 1
            buf += pattern[i:j + 1]
            i = j + 1
            continue
        if c in ("w", "x"):
            j = i
            while j < n and pattern[j] == c:
                j += 1
            if buf:
                parts.append(("J", buf))
                buf = ""
            width = j - i
            expr = ("weekofyear({ts})" if c == "w"
                    else "year_of_week({ts})").format(ts=ts)
            parts.append(("E", f"lpad(cast({expr} AS STRING), {max(width, 1)}, '0')"
                          if width > 1 else f"cast({expr} AS STRING)"))
            i = j
            continue
        buf += c
        i += 1
    if buf:
        parts.append(("J", buf))
    exprs = []
    for kind, p in parts:
        if kind == "E":
            exprs.append(p)
        elif not any(ch.isalpha() for ch in _strip_joda_quotes(p)):
            # literal-only chunk: unquote Joda quoting to plain text
            exprs.append("'" + _joda_unquote(p).replace("'", "''") + "'")
        else:
            try:
                java = joda_to_java(p)
            except UnsupportedPatternError:
                return None
            exprs.append(f"date_format({ts}, "
                         f"'{java.replace(chr(39), chr(39) * 2)}')")
    return exprs[0] if len(exprs) == 1 else "concat(" + ", ".join(exprs) + ")"


def _strip_joda_quotes(p: str) -> str:
    return re.sub(r"'[^']*'", "", p)


def _joda_unquote(p: str) -> str:
    """Joda-quoted literal text → plain text ('W' → W, '' → ')."""
    out = []
    i = 0
    n = len(p)
    while i < n:
        if p[i] == "'":
            if i + 1 < n and p[i + 1] == "'":
                out.append("'")
                i += 2
                continue
            j = i + 1
            while j < n and p[j] != "'":
                out.append(p[j])
                j += 1
            i = j + 1
        else:
            out.append(p[i])
            i += 1
    return "".join(out)


def _datetime_format_call(name: str, args: list[str]) -> str | None:
    """The Spark form of ``name(ts, pattern)``, or None to keep it."""
    lit = _sql_string_re.fullmatch(args[1])
    if lit is None:
        # Column-valued pattern: Presto evaluates patterns per row
        # (DateTimeFunctions.java) — route to the Arrow-batched
        # Python renderer instead of silently falling through to
        # java.time semantics.
        return f"{name}_py({args[0]}, {args[1]})"
    target, xlate = _DT_FORMAT_FNS[name]
    raw = lit.group(1).replace("''", "'")
    if name == "date_format":
        cf = _mysql_concat_form(args[0], raw)
        if cf is not None:
            return cf
    if name == "format_datetime":
        cf = _joda_concat_form(args[0], raw)
        if cf is not None:
            return cf
    if xlate is mysql_to_java and "%" not in raw:
        # No %-specifiers: either already java.time (idempotent
        # re-translate) or a degenerate all-literal pattern — leave it.
        return None
    try:
        java = xlate(raw)
    except UnsupportedPatternError:
        return None
    # The /*dt*/ marker (stripped by Spark's lexer) keeps a second
    # translate from reading the emitted java pattern again: as a
    # Teradata format in to_timestamp (date_parse(s, '%Y-%m-%d') would
    # come back with 'mm' read as minutes), or as a %-pattern in
    # date_format (date_format(ts, '%Y%%') keeps a literal %).
    return (f"{target}/*dt*/({args[0]}, "
            f"'{java.replace(chr(39), chr(39) * 2)}')")


# --- extended-JSONPath routing ---------------------------------------------
# Presto compiles simple paths with its own tokenizer and falls back to
# Jayway JsonPath for everything else (JsonPath.java:156-167 build()).
# Spark's get_json_object covers the simple subset plus [*]; literal
# paths using recursive descent, object wildcard, bracket/quoted names,
# negative indices, slices, or filters route to the Arrow-batched Python
# tier (functions/_json_pandas_udfs.py). Non-literal paths keep the JVM
# function (documented limitation — same as the datetime patterns above).
_JSON_FNS = {"json_extract", "json_extract_scalar", "json_size"}

_EXTENDED_PATH = re.compile(
    r"\.\.|\.\*|\[\s*['\"]|\[\?|\[-\d|\[\s*-?\d*\s*:"
)


def _jsonpath_call(name: str, args: list[str]) -> str | None:
    lit = _sql_string_re.fullmatch(args[1])
    if lit is None:
        # Column-valued path: Spark's get_json_object requires a
        # foldable path, so this would fail loudly JVM-side — the
        # Python JSONPath evaluator handles per-row paths.
        return f"{name}_py({args[0]}, {args[1]})"
    if not _EXTENDED_PATH.search(lit.group(1)):
        return None
    return f"{name}_py({args[0]}, '{lit.group(1)}')"


# --- polymorphic macros (the builders of many _CALLS entries) ---------------
# SQL UDFs are monomorphic (each shim registers ONE element type), but
# several Presto functions are generic over the element type and their
# bodies are pure HOF compositions — Spark HOFs *are* polymorphic.  On
# the dialect path we macro-expand these calls inline, so any element
# type works (ArraySqlFunctions.java removeNulls/arraySortDesc/arrayTopN,
# ArrayTrimFunction.java, ArraySplitIntoChunks, ArrayNgramsFunction.java).
# Lambda vars use the _ps_ prefix so an argument referencing a column
# named ``x``/``i`` cannot be captured by the introduced lambda scope.
_SORT_DESC = ("concat(reverse(array_sort(filter({a}, _ps_x -> _ps_x IS NOT "
              "NULL))), filter({a}, _ps_x -> _ps_x IS NULL))")

_INT_LITERAL_RE = re.compile(r"^[+-]?\d+$")


def _ngrams_macro(a: list[str]) -> str:
    return (f"CASE WHEN size(({a[0]})) < ({a[1]}) THEN array(({a[0]})) "
            f"ELSE transform(sequence(1, size(({a[0]})) - ({a[1]}) + 1), "
            f"_ps_i -> slice(({a[0]}), _ps_i, ({a[1]}))) END")


def _let(bindings: dict[str, str], body: str) -> str:
    """Let-bind argument texts through a 1-element transform so each
    expands ONCE in the emitted SQL (round-6 expression-tree rule).
    ``body`` references ``_ps_w.<name>`` for each binding.

    These helpers are INLINED at the call site instead of registered
    as SQL temp functions: every registered SQL-UDF body measurably
    taxes Spark's analysis of UNRELATED queries (WITH RECURSIVE
    re-analyzes per UnionLoop iteration — the recursive bench rows
    regressed ~40% when round 12's helper UDFs were registered), so
    only user-facing spellings earn a registration.
    """
    fields = ", ".join(f"'{k}', ({v})" for k, v in bindings.items())
    return (f"element_at(transform(array(named_struct({fields})), "
            f"_ps_w -> {body}), 1)")


def _strpos_walk(sub: str, s: str, inst: str, from_end: bool) -> str:
    """StringFunctions.java stringPositionFromStart/:FromEnd — the
    Nth-occurrence walk as a bounded fold (occurrences start at
    distinct positions, so instance > length(s) is already 0 and the
    fold never exceeds length(s) steps; overlapping occurrences count
    exactly like the reference's index+1 stepping)."""
    hay = f"reverse({s})" if from_end else s
    needle = f"reverse({sub})" if from_end else sub
    walk = (f"aggregate(sequence(1, CAST({inst} AS INT)), "
            "named_struct('p', 0, 'dead', false), "
            "(acc, i) -> CASE WHEN acc.dead THEN acc "
            f"ELSE named_struct('p', CAST(locate({needle}, {hay}, "
            "acc.p + 1) AS INT), "
            f"'dead', locate({needle}, {hay}, acc.p + 1) = 0) END).p")
    if from_end:
        found = (f"CASE WHEN {walk} = 0 THEN 0 "
                 f"ELSE length({s}) - {walk} - length({sub}) + 2 END")
    else:
        found = walk
    return (f"CASE WHEN {s} IS NULL OR {sub} IS NULL "
            f"OR {inst} IS NULL THEN NULL "
            f"WHEN {inst} <= 0 THEN raise_error("
            "\"'instance' must be a positive number.\") "
            f"WHEN length({sub}) = 0 THEN 1 "
            f"WHEN {inst} > length({s}) THEN 0 "
            f"ELSE CAST({found} AS BIGINT) END")


def _strpos3_macro(a: list[str], from_end: bool) -> str:
    return _let(
        {"s": a[0], "u": a[1], "n": a[2]},
        _strpos_walk("_ps_w.u", "_ps_w.s", "_ps_w.n", from_end))


def _truncate2_macro(a: list[str]) -> str:
    """MathFunctions.java:362 truncate(num, decimals).  Documented FP
    pin: the reference truncates via BigDecimal.valueOf(x).setScale(n,
    DOWN) (decimal string space); the power-of-10 scaling below can
    differ by one ULP-step when x*10^n lands just below an integer —
    same deviation class as the decimal<->double casts."""
    x, n = "_ps_w.x", "CAST(_ps_w.n AS INT)"
    body = (f"CASE WHEN _ps_w.x IS NULL OR _ps_w.n IS NULL THEN NULL "
            f"WHEN isnan({x}) OR abs({x}) = double('Infinity') THEN {x} "
            f"WHEN _ps_w.n = 0 THEN IF({x} >= 0, floor({x}), ceil({x})) "
            f"ELSE IF({x} >= 0, "
            f"floor({x} * power(10, {n})) / power(10, {n}), "
            f"ceil({x} * power(10, {n})) / power(10, {n})) END")
    return _let({"x": f"CAST(({a[0]}) AS DOUBLE)", "n": a[1]}, body)


def _bit_count2_macro(a: list[str]) -> str:
    """BitwiseFunctions.java:44-59 bitCount(num, bits)."""
    num, bits = "_ps_w.num", "_ps_w.bits"
    mask_hi = f"shiftleft(CAST(1 AS BIGINT), CAST({bits} - 1 AS INT)) - 1"
    body = (
        f"CASE WHEN {num} IS NULL OR {bits} IS NULL THEN NULL "
        f"WHEN {bits} = 64 THEN CAST(bit_count({num}) AS BIGINT) "
        f"WHEN {bits} <= 1 OR {bits} > 64 THEN raise_error(concat("
        "'Bits specified in bit_count must be between 2 and 64, got ', "
        f"string({bits}))) "
        f"WHEN {num} > {mask_hi} OR {num} < ~({mask_hi}) "
        "THEN raise_error(concat("
        "'Number must be representable with the bits specified. ', "
        f"string({num}), ' can not be represented with ', "
        f"string({bits}), ' bits')) "
        f"ELSE CAST(bit_count({num} & (shiftleft(CAST(1 AS BIGINT), "
        f"CAST({bits} AS INT)) - 1)) AS BIGINT) END")
    return _let({"num": f"CAST(({a[0]}) AS BIGINT)",
                 "bits": f"CAST(({a[1]}) AS BIGINT)"}, body)


def _width_bucket_bins_macro(a: list[str]) -> str:
    """MathFunctions.java:1667 widthBucket(operand, bins): result =
    count of bins <= x (the binary search's final 'lower').
    Validation deviation (documented): the reference raises on
    NULL/unsorted/non-finite bins only when the SEARCH PATH visits the
    offending value; here the whole array is checked, so the raise set
    is a superset with identical messages."""
    x, bins = "_ps_w.x", "_ps_w.bins"
    body = (
        f"CASE WHEN {x} IS NULL OR {bins} IS NULL THEN NULL "
        f"WHEN size({bins}) = 0 "
        "THEN raise_error('Bins cannot be an empty array') "
        f"WHEN isnan({x}) THEN raise_error('Operand cannot be NaN') "
        f"WHEN exists({bins}, b -> b IS NULL) "
        "THEN raise_error('Bin values cannot be NULL') "
        f"WHEN exists({bins}, b -> isnan(b) "
        "OR abs(b) = double('Infinity')) "
        "THEN raise_error('Bin values must be finite') "
        f"WHEN exists(zip_with(slice({bins}, 1, size({bins}) - 1), "
        f"slice({bins}, 2, size({bins}) - 1), (lo, hi) -> lo > hi), "
        "v -> v) THEN raise_error("
        "'Bin values are not sorted in ascending order') "
        f"ELSE CAST(size(filter({bins}, b -> b <= {x})) AS BIGINT) END")
    return _let({"x": f"CAST(({a[0]}) AS DOUBLE)",
                 "bins": f"CAST(({a[1]}) AS ARRAY<DOUBLE>)"}, body)


def _substr_zero_guard(name: str, a: list[str]) -> str | None:
    """substr/substring start-0 conformance — see its _CALLS entry."""
    if a[0].lstrip().startswith("/*ps*/"):
        return None  # our own expansion — keeps translate() idempotent
    start = a[1].strip()
    if _INT_LITERAL_RE.match(start):
        if int(start) != 0:
            return None  # literal non-zero start: engines agree
        return "''"      # literal 0: Presto's empty string, folded
    rest = "".join(f", ({x})" for x in a[1:])
    return (f"CASE WHEN ({a[1]}) = 0 THEN '' "
            f"ELSE {name}(/*ps*/ ({a[0]}){rest}) END")


def _checksum_macro(a: list[str]) -> str:
    """checksum(x) expansion — see its _CALLS entry.

    sum(h) mod 2^64 via 32-bit halves: with h = hi*2^32 + lo
    (both halves non-negative < 2^32), sum(h) mod 2^64 =
    ((sum(hi) + sum(lo) div 2^32) mod 2^32)*2^32 | (sum(lo) mod 2^32).
    shiftleft wraps (never raises) and the final combine is a bitwise
    OR into known-zero low bits, so the expansion is exact and
    overflow-free under ANSI mode up to 2^31 rows per group (a single
    Spark partition/group beyond that is itself a skew bug at scale).
    """
    h = f"xxhash64(({a[0]}))"
    lo = f"sum({h} & 4294967295)"
    hi = f"sum(shiftrightunsigned({h}, 32))"
    packed = (f"shiftleft(({hi}) + shiftright(({lo}), 32), 32) "
              f"| (({lo}) & 4294967295)")
    return f"unhex(lpad(hex({packed}), 16, '0'))"


def _combinations_macro(arr: str, n: str) -> str:
    """combinations(array, n) expansion — see its _CALLS entry."""
    a, k = "_ps_a", f"({n})"
    # colex enumeration: nested index loops, outermost index last —
    # (0,1,2),(0,1,3),(0,2,3),(1,2,3),(0,1,4),... matching the
    # reference's nextCombination walk (smallest movable index steps).
    def nest(depth: int) -> str:
        idx = [f"_ps_i{d}" for d in range(depth)]
        body = f"array({', '.join(f'{a}[{i}]' for i in idx)})"
        # loops outer->inner: i_{depth-1} in depth-1..size-1, then
        # i_{d} in d..i_{d+1}-1
        expr = body
        for d in range(depth):
            lo = d
            hi = f"size({a}) - 1" if d == depth - 1 else f"{idx[d + 1]} - 1"
            expr = f"transform(sequence({lo}, {hi}), {idx[d]} -> {expr})"
        return "flatten(" * (depth - 1) + expr + ")" * (depth - 1)

    # count runs in DOUBLE from the first factor: int products wrap
    # silently past 2^31 (e.g. size 300, k 5), which fed garbage to
    # the size-gate comparisons below (ADVICE r12).
    count = (f"CASE {k} WHEN 0 THEN 1.0D WHEN 1 THEN double(size({a})) "
             f"WHEN 2 THEN double(size({a})) * (size({a}) - 1) / 2.0D "
             f"WHEN 3 THEN double(size({a})) * (size({a}) - 1) "
             f"* (size({a}) - 2) / 6.0D "
             f"WHEN 4 THEN double(size({a})) * (size({a}) - 1) "
             f"* (size({a}) - 2) * (size({a}) - 3) / 24.0D "
             f"ELSE double(size({a})) * (size({a}) - 1) * (size({a}) - 2) "
             f"* (size({a}) - 3) * (size({a}) - 4) / 120.0D END")
    case = (
        f"CASE WHEN {k} IS NULL THEN NULL "
        f"WHEN {k} < 0 THEN raise_error(concat("
        f"'combination size must not be negative: ', string({k}))) "
        f"WHEN {k} > 5 THEN raise_error(concat("
        f"'combination size must not exceed 5: ', string({k}))) "
        f"WHEN {k} > size({a}) THEN "
        f"slice(transform({a}, _ps_x -> array(_ps_x)), 1, 0) "
        # combinationCount's int multiplyExact overflows (largest
        # intermediate = C(n,k)*k, monotone in the loop index) BEFORE
        # the max-size check and carries its own message
        # (ArrayCombinationsFunction.java:103) — ADVICE r12.
        f"WHEN {count} * {k} > 2147483647.0D THEN "
        f"raise_error(concat('Number of combinations too large for "
        f"array of size ', string(size({a})), "
        f"' and combination length ', string({k}))) "
        f"WHEN {count} * {k} > 100000.0D THEN "
        "raise_error('combinations exceed max size') "
        f"WHEN {k} = 0 THEN array(slice({a}, 1, 0)) "
        f"WHEN {k} = 1 THEN transform({a}, _ps_x -> array(_ps_x)) "
        f"WHEN {k} = 2 THEN {nest(2)} "
        f"WHEN {k} = 3 THEN {nest(3)} "
        f"WHEN {k} = 4 THEN {nest(4)} "
        f"ELSE {nest(5)} END"
    )
    return f"element_at(transform(array(({arr})), {a} -> {case}), 1)"


def _classification_macro(a: list[str], metric: str) -> str:
    """classification_{precision,recall,miss_rate,fall_out,thresholds}
    (buckets, outcome, pred [, weight]) SQL-aggregate spellings.

    Reference: PrecisionRecallAggregation.java (two fixed histograms
    over pred in [0,1], bucket j threshold = j*(max-min)/buckets, the
    running/remaining-weight results iterator at :180-230) and the
    five Classification*Aggregation.java outputs; the DataFrame-level
    twin is operators/classification.py classification_metrics.

    Expansion shape: the bucket count must be an integer LITERAL (the
    reference itself rejects non-constant bucket counts per group with
    "Bucket count must be constant"), so the two histograms unroll to
    2*buckets conditional sums — plain map-side-combinable aggregates,
    scale-safe — and the curve math (totals, prefix sums, the
    emit-while-true-weight-remains stop rule, the metric division) is
    post-aggregation array-HOF work priced in buckets, never rows.
    Validation parity: NULL args skip the row; pred outside [0,1] and
    negative weights raise the reference's exact messages.  Documented
    deviation (same as the DataFrame twin): a no-negatives group
    yields NULL fall_out entries where the reference's raw double
    division yields NaN.
    """
    b_txt = a[0].strip()
    if not _INT_LITERAL_RE.match(b_txt):
        raise ValueError(
            f"classification_{metric}: bucket count must be an integer "
            f"literal (the reference requires it constant per group — "
            f"PrecisionRecallAggregation.java INCONSISTENT_BUCKET_COUNT), "
            f"got: {b_txt!r}")
    b = int(b_txt)
    if b < 2:
        # translate-time, not a raise_error() expansion: a bare
        # projection inside a GROUP BY query fails ANALYSIS with
        # "neither present in the group by nor an aggregate function"
        # before the runtime message could surface (ADVICE r13), and
        # the bucket count is a literal here so the reference's
        # always-raises outcome is decidable at translate time anyway.
        raise ValueError(f"bucketCount must be at least 2: {b}")
    if b > 100:
        raise ValueError(
            f"classification_{metric}: bucket counts above 100 are not "
            f"supported by the unrolled-histogram expansion (got {b}); "
            f"use operators.classification.classification_metrics")
    w_txt = f"CAST(({a[3]}) AS DOUBLE)" if len(a) == 4 else \
        "CAST(1 AS DOUBLE)"
    rstruct = (f"named_struct('o', CAST(({a[1]}) AS BOOLEAN), "
               f"'p', CAST(({a[2]}) AS DOUBLE), 'w', {w_txt})")
    bkt = (f"least(CAST(floor(CAST({b} AS DOUBLE) * "
           f"least(_ps_r.p, 9.9999999999E-1D)) AS INT), {b - 1})")

    def hist(true_side: bool) -> str:
        want = "_ps_r.o" if true_side else "(NOT _ps_r.o)"
        sums = []
        for j in range(b):
            case = (
                "CASE WHEN _ps_r.o IS NULL OR _ps_r.p IS NULL "
                "OR _ps_r.w IS NULL THEN CAST(NULL AS DOUBLE) "
                # NaN compares false to both range bounds, so it would
                # silently land in the last bucket; the reference's
                # histogram add rejects it (FixedHistogramUtils
                # checkArgument "value must be within range")
                "WHEN isnan(_ps_r.p) THEN raise_error("
                "'value must be within range: NaN [0.0, 1.0]') "
                "WHEN _ps_r.p < 0D OR _ps_r.p > 1D THEN raise_error("
                "'Prediction value must be between 0.0 and 1.0') "
                "WHEN _ps_r.w < 0D THEN raise_error("
                "'Weights must be non-negative') "
                f"WHEN {want} AND {bkt} = {j} THEN _ps_r.w "
                "ELSE CAST(0 AS DOUBLE) END")
            sums.append(
                f"coalesce(sum(element_at(transform(array({rstruct}), "
                f"_ps_r -> {case}), 1)), CAST(0 AS DOUBLE))")
        return f"array({', '.join(sums)})"

    def prefix(arr: str) -> str:
        return (f"aggregate({arr}, named_struct('acc', "
                "CAST(0 AS DOUBLE), 'out', CAST(array() AS "
                "ARRAY<DOUBLE>)), (_ps_s, _ps_x) -> named_struct("
                "'acc', _ps_s.acc + _ps_x, 'out', concat(_ps_s.out, "
                "array(_ps_s.acc))), _ps_s -> _ps_s.out)")

    def total(arr: str) -> str:
        return (f"aggregate({arr}, CAST(0 AS DOUBLE), "
                "(_ps_ac, _ps_x) -> _ps_ac + _ps_x)")

    rt_j = "element_at(_ps_c.rt, _ps_j + 1)"
    rf_j = "element_at(_ps_c.rf, _ps_j + 1)"
    body = {
        "thresholds": f"CAST(_ps_j AS DOUBLE) / CAST({b} AS DOUBLE)",
        "precision": (f"(_ps_c.tt - {rt_j}) / ((_ps_c.tt - {rt_j}) "
                      f"+ (_ps_c.tf - {rf_j}))"),
        "recall": f"(_ps_c.tt - {rt_j}) / _ps_c.tt",
        "miss_rate": f"{rt_j} / _ps_c.tt",
        "fall_out": f"(_ps_c.tf - {rf_j}) / _ps_c.tf",
    }[metric]
    emit = (f"filter(sequence(0, {b - 1}), _ps_j -> "
            "_ps_c.tt - element_at(_ps_c.rt, _ps_j + 1) > 0D)")
    inner = (
        "element_at(transform(array(named_struct("
        f"'tt', {total('_ps_w.tw')}, 'tf', {total('_ps_w.fw')}, "
        f"'rt', {prefix('_ps_w.tw')}, 'rf', {prefix('_ps_w.fw')})), "
        f"_ps_c -> transform({emit}, _ps_j -> {body})), 1)")
    return (
        "element_at(transform(array(named_struct("
        f"'tw', {hist(True)}, 'fw', {hist(False)})), "
        f"_ps_w -> {inner}), 1)")


# Presto ARRAY[...] literal constructor (SqlBase.g4 primaryExpression
# ARRAY '[' ... ']') — Spark only parses array(...): the keyword and its
# '[' become array( and the matching ']' becomes ')'; every other '[' (a
# subscript) stays.
_array_lit_re = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)


def _rewrite_array_literals(sql: str) -> str:
    lx = sql_lex.Lexed(sql)
    edits = []
    for m in lx.matches(_array_lit_re):
        edits.append((m.start(), m.end(), "array("))
        if (close := lx.close.get(m.end() - 1)) is not None:
            edits.append((close, close + 1, ")"))
    return sql_lex.splice(sql, sorted(edits))


# Integer subscripts whose base is a parenthesized expression — e.g.
# ARRAY[10,20][1], which _rewrite_array_literals turns into
# array(10, 20)[1] — would silently hit Spark's 0-based [] (a silent
# off-by-one vs Presto's 1-based ArraySubscriptOperator.java).  Rewrite
# call-result/paren bases to element_at: the base runs from the '('
# matching the ')' plus any callee name.  Runs after
# _rewrite_array_literals.
_paren_subscript_re = re.compile(r"\)\s*\[(\d+)\]")


def _name_start(sql: str, i: int) -> int:
    """Start of the (dotted) name that ends at ``i``."""
    while i > 0 and (sql[i - 1].isalnum() or sql[i - 1] in "_."):
        i -= 1
    return i


def _rewrite_paren_subscripts(sql: str) -> str:
    while True:
        lx = sql_lex.Lexed(sql)
        m = next(lx.matches(_paren_subscript_re), None)
        if m is None or m.start() not in lx.opener:  # unbalanced: leave
            return sql
        k = _name_start(sql, lx.opener[m.start()])
        sql = (sql[:k] + f"element_at({sql[k:m.start() + 1]}, {m.group(1)})"
               + sql[m.end():])


# Presto generic-type spellings in type position — CAST(x AS MAP(K, V)) /
# ARRAY(T) / ROW(a T, b U) (SqlBase.g4 type rules) — are not calls; Spark
# spells them MAP<K, V> / ARRAY<T> / STRUCT<a: T, b: U>.  Rewriting them
# FIRST also keeps the 2-arg map() constructor macro from corrupting a
# cast target (it would otherwise emit map_from_arrays(VARCHAR, BIGINT)).
_type_pos_re = re.compile(r"\bAS\s+(ARRAY|MAP|ROW)\s*\(", re.IGNORECASE)
# Bare VARCHAR in cast position (Presto's unbounded VARCHAR,
# AbstractVarcharType.java) — Spark's parser wants VARCHAR(n) or STRING.
_bare_varchar_re = re.compile(r"\bAS\s+VARCHAR\b(?!\s*\()", re.IGNORECASE)
# VARBINARY (VarbinaryType.java) is Spark's BINARY in any cast position.
_bare_varbinary_re = re.compile(r"\bAS\s+VARBINARY\b", re.IGNORECASE)
_SCALAR_TYPE_MAP = {"varchar": "STRING", "json": "STRING", "real": "FLOAT",
                    "varbinary": "BINARY"}
_scalar_type_re = re.compile(
    r"\b(varchar|json|real|varbinary)\b(?!\s*\()", re.IGNORECASE)


def _type_to_spark(t: str) -> str:
    """Presto type text → Spark type text (recursive on ARRAY/MAP/ROW)."""
    t = t.strip()
    m = re.match(r"(?is)^(ARRAY|MAP|ROW)\s*\((.*)\)$", t)
    if m is None:
        return _scalar_type_re.sub(
            lambda s: _SCALAR_TYPE_MAP[s.group(1).lower()], t
        )
    kind, inner = m.group(1).upper(), m.group(2)
    parts = sql_lex.Lexed(inner).args(-1)
    if kind == "ARRAY":
        return f"ARRAY<{_type_to_spark(parts[0] if parts else inner)}>"
    if kind == "MAP":
        if len(parts) != 2:
            return t
        return f"MAP<{_type_to_spark(parts[0])}, {_type_to_spark(parts[1])}>"
    fields = []
    for p in parts:
        p = p.strip()
        fm = re.match(r"(?s)^(\w+)\s+(.+)$", p)
        if fm is None:
            return t
        fields.append(f"{fm.group(1)}: {_type_to_spark(fm.group(2))}")
    return f"STRUCT<{', '.join(fields)}>"


def _rewrite_type_positions(sql: str) -> str:
    return sql_lex.rewrite_calls(
        sql, _type_pos_re,
        lambda c: "AS " + _type_to_spark(c.text[2:].strip()))

# --- ANSI fetch/offset + typed literals + ROW constructor ----------------
# FETCH FIRST n ROWS ONLY (SqlBase.g4 limit clause; Presto also allows
# OFFSET m [ROWS] before it) — Spark only parses LIMIT/OFFSET, with
# LIMIT first.  Typed literals TYPE 'text' (SqlBase.g4 primaryExpression
# typeConstructor) — Spark only has DATE/TIMESTAMP/INTERVAL natively;
# DECIMAL infers (precision, scale) from the literal text like Presto's
# parser (DecimalLiteral handling in AstBuilder), the rest lower to
# CAST.  ROW(a, b) (RowType.java anonymous-field constructor) → struct()
# — safe as a plain rename because _rewrite_type_positions has already
# consumed every `AS ROW(...)` type spelling by the time this runs.
_offset_fetch_re = re.compile(
    r"\bOFFSET\s+(\d+)(?:\s+ROWS?)?\s+FETCH\s+(?:FIRST|NEXT)\s+"
    r"(\d+)\s+ROWS?\s+ONLY", re.IGNORECASE)
_fetch_first_re = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY", re.IGNORECASE)
_offset_rows_re = re.compile(r"\bOFFSET\s+(\d+)\s+ROWS?\b", re.IGNORECASE)
_typed_literal_re = re.compile(
    r"\b(DECIMAL|DOUBLE|REAL|BIGINT|INTEGER|SMALLINT|TINYINT|BOOLEAN"
    rf"|VARCHAR|CHAR|JSON)\s*({_sql_string_re.pattern})", re.IGNORECASE)
_row_ctor_re = re.compile(r"\bROW\s*\(", re.IGNORECASE)


def _typed_literal_repl(m: re.Match) -> str:
    t = m.group(1).upper()
    lit = m.group(2)
    if t in ("VARCHAR", "JSON"):
        return lit  # both are STRING in this engine's model
    if t == "CHAR":
        return f"CAST({lit} AS STRING)"
    if t == "REAL":
        return f"CAST({lit} AS FLOAT)"
    if t == "DECIMAL":
        body = lit[1:-1].replace("''", "'").strip().lstrip("+-")
        if "." in body:
            ip, fp = body.split(".", 1)
            p, s = max(len(ip) + len(fp), 1), len(fp)
        else:
            p, s = max(len(body), 1), 0
        return f"CAST({lit} AS DECIMAL({min(p, 38)}, {min(s, 38)}))"
    return f"CAST({lit} AS {t})"


# Double-quoted identifiers: Presto's SQL dialect (and its own query
# formatter, which produced the reference's TPC-DS product-test texts)
# quotes identifiers AND function names with double quotes —
# `"sum"("ss_ext_sales_price") "itemrevenue"`.  Spark's parser uses
# backticks for identifiers and rejects quoted function names.
# Rewrite every double-quoted identifier: a quoted name directly
# followed by '(' becomes the bare function name; anything else becomes
# a backtick-quoted identifier ("" unescapes to ", which backticks need
# no escape for).
_call_paren_re = re.compile(r"\s*\(")


def _rewrite_double_quoted_idents(sql: str) -> str:
    edits = []
    for a, b in sql_lex.Lexed(sql).hidden:
        if sql[a] != '"' or b - a < 2 or sql[b - 1] != '"':
            continue
        name = sql[a + 1:b - 1].replace('""', '"')
        if _call_paren_re.match(sql, b) and re.fullmatch(r"\w+", name):
            edits.append((a, b, name))
        else:
            edits.append((a, b, f"`{name}`"))
    return sql_lex.splice(sql, edits)


# Window-function frame/order conformance (reference: WindowOperator +
# presto-parser accept these; Spark's analyzer is stricter):
#   * rank()/dense_rank()/percent_rank()/cume_dist()/row_number()/
#     ntile() OVER a window with NO ORDER BY — Presto treats every
#     partition row as one peer group; Spark refuses the unordered
#     window.  Inserting ORDER BY a constant reproduces the all-peers
#     semantics exactly (every row compares equal).
#   * an EXPLICIT frame attached to a ranking or lead/lag window —
#     rank's value never depends on the frame and Presto ignores it
#     for offset functions, but Spark requires rank's exact default
#     frame and forbids frames on lead/lag.  Strip the frame clause
#     (semantics-preserving for these functions).
_rankish_over_re = re.compile(
    r"\b(rank|dense_rank|percent_rank|cume_dist|row_number|ntile|lead|lag)"
    r"\s*\(", re.IGNORECASE)
_frame_kw_re = re.compile(r"\b(ROWS|RANGE|GROUPS)\b", re.IGNORECASE)
_needs_order = frozenset((
    "rank", "dense_rank", "percent_rank", "cume_dist", "row_number",
    "ntile",
))


_over_tail_re = re.compile(
    r"\s*(?:IGNORE\s+NULLS|RESPECT\s+NULLS)?\s*OVER\s*\(", re.IGNORECASE)


def _rewrite_rankish_windows(sql: str) -> str:
    while True:
        lx = sql_lex.Lexed(sql)
        for call in lx.calls(_rankish_over_re):
            tail = _over_tail_re.match(sql, call.close + 1)
            if tail is None or tail.end() - 1 not in lx.close:
                continue
            gopen = tail.end() - 1
            gclose = lx.close[gopen]
            fm = next(lx.matches(_frame_kw_re, gopen + 1, gclose, gopen), None)
            cut = gclose if fm is None else fm.start()
            new_group = sql[gopen + 1:cut]
            if fm is not None:
                new_group = new_group.rstrip()
            has_order = next(
                lx.matches(_order_by_kw_re, gopen + 1, cut, gopen), None)
            if not has_order and call.match.group(1).lower() in _needs_order:
                sep = " " if new_group.strip() else ""
                new_group = new_group.rstrip() + sep + "ORDER BY 1"
            if new_group != sql[gopen + 1:gclose]:
                sql = sql[:gopen + 1] + new_group + sql[gclose:]
                break  # offsets shifted — rescan
        else:
            return sql


# Quantified comparisons (SqlBase.g4 quantifiedComparison; Presto
# semantics in presto-docs functions/comparison.rst): Spark's parser
# has no `expr op ANY/ALL/SOME (subquery)`.  The two semi-joinable
# forms lower onto IN / NOT IN (identical three-valued semantics, and
# they keep the scalable semi/anti-join plan); every other op lowers
# onto a scalar aggregate subquery encoding the exact three-valued
# result: ALL = false dominates, then NULL, else true; ANY = true
# dominates, then NULL, else false; empty set → true for ALL, false
# for ANY.
_quantified_re = re.compile(
    r"(<=|>=|<>|!=|=|<|>)\s*(ANY|ALL|SOME)\s*\(", re.IGNORECASE)


# A type word spelling a typed literal (TIMESTAMP '...', X'0a', ...):
# part of a left operand that ends in a string literal.
_literal_type_tail_re = re.compile(
    r"\b(?:DATE|TIME|TIMESTAMP|X|DECIMAL|DOUBLE|REAL|BIGINT|INTEGER"
    r"|SMALLINT|TINYINT|BOOLEAN|VARCHAR|CHAR|JSON)\s*\Z", re.IGNORECASE)


def _left_operand(lx: sql_lex.Lexed, before: int) -> tuple[int, int]:
    """[start, end) of the value expression ending just before
    ``before``: a call/paren group (with optional function name), a
    (typed) string literal, or an identifier/number/dotted path."""
    sql = lx.text
    end = lx.code_end(0, before)
    span = lx.span_at(end - 1) if end else None
    if span is not None and sql[span[0]] == "'":
        t = _literal_type_tail_re.search(sql, 0, span[0])
        return (span[0] if t is None else t.start()), end
    return _name_start(sql, lx.opener.get(end - 1, end)), end


def _rewrite_quantified_comparisons(sql: str) -> str:
    while True:
        lx = sql_lex.Lexed(sql)
        m = next(lx.matches(_quantified_re), None)
        if m is None or m.end() - 1 not in lx.close:
            return sql
        close = lx.close[m.end() - 1]
        sub = sql[m.end():close]
        op = m.group(1)
        quant = m.group(2).upper()
        if quant == "SOME":
            quant = "ANY"
        start, end = _left_operand(lx, m.start())
        lhs = sql[start:end].strip()
        if not lhs:
            return sql
        if op == "=" and quant == "ANY":
            repl = f"{lhs} IN ({sub})"
        elif op in ("<>", "!=") and quant == "ALL":
            repl = f"{lhs} NOT IN ({sub})"
        else:
            # min/max/count summary of the subquery, compared OUTSIDE
            # the aggregation (Spark forbids outer references inside a
            # subquery's aggregates); the lhs correlates one level
            # deep into the scalar subquery's final projection only.
            x = f"({lhs})"
            if quant == "ALL":
                # predicate holding for every non-null element
                holds = {
                    "<": f"{x} < mn", "<=": f"{x} <= mn",
                    ">": f"{x} > mx", ">=": f"{x} >= mx",
                    "=": f"{x} = mn AND {x} = mx",
                }[op]
                body = (
                    f"CASE WHEN c = 0 THEN true"
                    f" WHEN {x} IS NULL OR cn = c"
                    f" THEN CAST(NULL AS BOOLEAN)"
                    f" WHEN NOT ({holds}) THEN false"
                    f" WHEN cn > 0 THEN CAST(NULL AS BOOLEAN)"
                    f" ELSE true END")
            else:
                # predicate holding for at least one non-null element
                exists_ = {
                    "<": f"{x} < mx", "<=": f"{x} <= mx",
                    ">": f"{x} > mn", ">=": f"{x} >= mn",
                    "<>": f"(mn <> mx OR {x} <> mn)",
                    "!=": f"(mn <> mx OR {x} <> mn)",
                }[op]
                body = (
                    f"CASE WHEN c = 0 THEN false"
                    f" WHEN {x} IS NULL OR cn = c"
                    f" THEN CAST(NULL AS BOOLEAN)"
                    f" WHEN {exists_} THEN true"
                    f" WHEN cn > 0 THEN CAST(NULL AS BOOLEAN)"
                    f" ELSE false END")
            repl = (
                f"(SELECT {body} FROM "
                f"(SELECT min(_ps_q) AS mn, max(_ps_q) AS mx, "
                f"count(*) AS c, count(*) - count(_ps_q) AS cn "
                f"FROM ({sub}) _ps_qt(_ps_q)) _ps_s)")
        sql = sql[:start] + repl + sql[close + 1:]


# `x IN (VALUES ...)` (SqlBase.g4 inList accepts a query): Spark's IN
# wants a SELECT subquery or an expression list — wrap the VALUES.
_in_values_re = re.compile(r"\bIN\s*(\()\s*VALUES\b", re.IGNORECASE)


def _rewrite_in_values(sql: str) -> str:
    while True:
        lx = sql_lex.Lexed(sql)
        m = next(lx.matches(_in_values_re), None)
        if m is None or m.start(1) not in lx.close:
            return sql
        open_paren, close = m.start(1), lx.close[m.start(1)]
        inner = sql[open_paren + 1:close]
        # the alias matters: Spark mis-parses an IN-list
        # `(SELECT * FROM (...))` without one
        sql = (sql[:open_paren] + "(SELECT * FROM (" + inner
               + ") AS _ps_iv)" + sql[close + 1:])


# Default null ordering: Presto sorts NULLS LAST regardless of the
# sort direction when no NULLS directive is written (select.rst:588,
# SortItem.java NullOrdering), while Spark defaults to NULLS FIRST on
# ASC / NULLS LAST on DESC.  Append an explicit NULLS LAST to every
# directive-less sort item — in ORDER BY clauses and window OVER
# ordering alike (the frame semantics depend on it).  Idempotent:
# items that already carry a directive are left alone.
_order_by_kw_re = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_nulls_dir_re = re.compile(r"\bNULLS\s+(?:FIRST|LAST)\s*$", re.IGNORECASE)
# a sort-item list ends at its enclosing ')', a ';' or a clause keyword
_sortlist_end_re = re.compile(
    r";|\b(?:limit|offset|fetch|rows|range|groups|union|intersect|except"
    r"|having|window)\b", re.IGNORECASE)


def _rewrite_order_by_null_defaults(sql: str) -> str:
    lx = sql_lex.Lexed(sql)
    at: set[int] = set()  # where a NULLS LAST goes
    for m in lx.matches(_order_by_kw_re):
        # each ORDER BY's list lies in its own enclosing bracket, so a
        # window's ORDER BY inside an outer sort item gets its own
        g = lx.enclosing(m.start())
        end = lx.close.get(g, len(sql))
        stop = next(lx.matches(_sortlist_end_re, m.end(), end, g), None)
        end = end if stop is None else stop.start()
        bounds = [m.end() - 1, *(c for c in lx.commas[g]
                                 if m.end() <= c < end), end]
        for a, b in zip(bounds, bounds[1:]):
            e = lx.code_end(a + 1, b)
            item = sql[a + 1:e]
            if item.strip() and not _nulls_dir_re.search(item):
                at.add(e)
    return sql_lex.splice(sql, [(i, i, " NULLS LAST") for i in sorted(at)])


def _rewrite_limit_grammar(sql: str) -> str:
    sql = sql_lex.sub(
        _offset_fetch_re,
        lambda m: f"LIMIT {m.group(2)} OFFSET {m.group(1)}", sql)
    sql = sql_lex.sub(
        _fetch_first_re, lambda m: f"LIMIT {m.group(1) or 1}", sql)
    return sql_lex.sub(
        _offset_rows_re, lambda m: f"OFFSET {m.group(1)}", sql)


# array_agg (ArrayAggregationFunction.java): Presto KEEPS null
# elements and returns NULL over an empty group/frame; Spark's
# collect_list drops nulls and returns [].  Route elements through a
# struct (a struct cell is never null even when its field is) and
# guard emptiness on the collected list itself — frame-aware inside
# windows, where count(*) would not be.  The optional FILTER and OVER
# tails re-attach to each inner collect_list.  DISTINCT / inner
# ORDER BY spellings pass through to their dedicated handlers.
_array_agg_re = re.compile(r"\barray_agg\s*\(", re.IGNORECASE)
_agg_tail_re = re.compile(
    r"\s*(?:FILTER\s*\()|\s*(?:IGNORE\s+NULLS|RESPECT\s+NULLS)?\s*OVER\s*\(",
    re.IGNORECASE)


def _rewrite_array_agg(sql: str) -> str:
    while True:
        lx = sql_lex.Lexed(sql)
        call = next((c for c in lx.calls(_array_agg_re)
                     if len(c.args) == 1 and not re.search(
                         r"(?is)^\s*DISTINCT\b|\bORDER\s+BY\b", c.args[0])),
                    None)
        if call is None:
            return sql
        end = call.close + 1
        tail = ""
        while (t := _agg_tail_re.match(sql, end)) and t.end() - 1 in lx.close:
            close = lx.close[t.end() - 1]
            tail += sql[end:close + 1]
            end = close + 1
        base = f"collect_list(struct(({call.args[0].strip()}) AS _ps_v)){tail}"
        repl = (f"CASE WHEN size({base}) = 0 THEN NULL ELSE "
                f"transform({base}, _ps_s -> _ps_s._ps_v) END")
        sql = sql[:call.match.start()] + repl + sql[end:]


# Unicode string literals U&'d\0061ta' [UESCAPE '#'] (SqlBase.g4
# UNICODE_STRING; Presto docs language/types.rst): the escape
# character introduces a 4-hex-digit code point, or a 6-digit one
# with a '+'; a doubled escape character is the literal character.
_unicode_str_re = re.compile(
    rf"U&({_sql_string_re.pattern})(?:\s+UESCAPE\s+'(.)')?", re.IGNORECASE)


def _decode_unicode_literal(m: re.Match) -> str:
    body = m.group(1)[1:-1]
    esc = m.group(3) or "\\"
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == esc:
            if i + 1 < len(body) and body[i + 1] == esc:
                out.append(esc)
                i += 2
                continue
            if i + 1 < len(body) and body[i + 1] == "+":
                out.append(chr(int(body[i + 2:i + 8], 16)))
                i += 8
                continue
            out.append(chr(int(body[i + 1:i + 5], 16)))
            i += 5
            continue
        out.append(c)
        i += 1
    return "'" + "".join(out).replace("\\", "\\\\") + "'"


# expr AT TIME ZONE 'zone' (SqlBase.g4 AT_TIMEZONE valueExpression) —
# Spark has no AT TIME ZONE operator; lower onto the tswtz shim
# (registry.py: the TIMESTAMP-WITH-TIME-ZONE struct — the engine
# TIMESTAMP is zone-less UTC, so the operator attaches the display
# zone without moving the instant, exactly Presto's
# DateTimeFunctions.java atTimeZone result type; timezone_hour/
# timezone_minute/tz_wall consume it).  Struct-typed operands use the
# explicit tz_at_timezone spelling (monomorphic SQL UDFs).  The left
# operand is captured as a call/paren group, a (typed) literal, or a
# dotted identifier.
_at_tz_re = re.compile(r"\bAT\s+TIME\s+ZONE\b", re.IGNORECASE)


_zone_name_re = re.compile(r"\s*([\w.]*)")


def _rewrite_at_time_zone(sql: str) -> str:
    while True:
        lx = sql_lex.Lexed(sql)
        m = next(lx.matches(_at_tz_re), None)
        if m is None:
            return sql
        start_l, end_l = _left_operand(lx, m.start())
        left = sql[start_l:end_l].strip()
        zone = _zone_name_re.match(sql, m.end())
        j = zone.start(1)
        span = lx.span_at(j)
        end_r = span[1] if span is not None and sql[j] == "'" else zone.end()
        if not left or end_r == j:
            return sql
        sql = (sql[:start_l] + f"tswtz({left}, {sql[j:end_r]})"
               + sql[end_r:])


# --- FROM-clause grammar: UNNEST / TABLESAMPLE --------------------------
# Presto relations Spark's parser rejects (SqlBase.g4:357-377):
#   [CROSS JOIN | ,] UNNEST(e[, e2]) [WITH ORDINALITY] AS t(c1[, c2[, c3]])
#   TABLESAMPLE BERNOULLI(pct) / SYSTEM(pct)
# UNNEST lowers to a LATERAL subquery (plain subquery when UNNEST is the
# only FROM item, since there is nothing to correlate with):
#   * arrays — try_element_at over an index spine, because Presto's
#     multi-array UNNEST zips to the LONGEST input padding with NULLs
#     (UnnestOperator.java); try_element_at is NULL out-of-bounds under
#     BOTH ANSI and non-ANSI sessions (plain element_at throws under
#     Spark 4's ANSI-on default, so the lowering must not depend on a
#     session conf); ordinality is the spine itself (1-based, matching
#     Presto).
#   * 1 arg + 2 output cols — treated as MAP unnest → explode/posexplode
#     (key, value[, pos+1]).  (An ARRAY(ROW(..)) argument also has this
#     shape; resolving it needs type info a text rewrite lacks —
#     documented limitation.)
# TABLESAMPLE BERNOULLI(x) → TABLESAMPLE (x PERCENT) (row-Bernoulli in
# both engines); SYSTEM(x) lowers to the same row sample — Presto's
# SYSTEM is splits-based (SampleNode.java) so any engine's SYSTEM is
# implementation-defined; the row-level approximation is documented.
_unnest_re = re.compile(r"\bUNNEST\s*\(", re.IGNORECASE)
# The alias is optional, AS is optional, and the column list is
# optional (SqlBase.g4 aliasedRelation over the unnest relation):
# `UNNEST(a)`, `UNNEST(a) t(x)`, `UNNEST(a) AS t (x, y)` all parse.
# Reserved words are excluded so `UNNEST(a) CROSS JOIN b` doesn't eat
# CROSS as an alias.
_unnest_tail_re = re.compile(
    r"\s*(WITH\s+ORDINALITY\s*)?"
    r"(?:(?:AS\s+)?"
    r"(?!(?:JOIN|LEFT|RIGHT|FULL|INNER|OUTER|CROSS|ON|USING|WHERE|GROUP"
    r"|ORDER|HAVING|LIMIT|UNION|INTERSECT|EXCEPT|WITH|TABLESAMPLE"
    r"|AS)\b)"
    r"(\w+)\s*(?:\((\s*\w+(?:\s*,\s*\w+)*\s*)\))?)?",
    re.IGNORECASE,
)
_unnest_prefix_re = re.compile(r"(?is)(CROSS\s+JOIN\s*|,\s*|\bFROM\s*)$")
_tablesample_re = re.compile(
    r"\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(\s*(\d+(?:\.\d+)?)\s*\)",
    re.IGNORECASE,
)


def _unnest_arg_specs(args: list[str]) -> list[tuple[str, str, int]]:
    """(arg, kind, output width) per UNNEST argument: MAPs are (key,
    value), ARRAY[struct(...)] / array(struct(...)) literals expand
    their row fields, plain arrays are one column."""
    specs: list[tuple[str, str, int]] = []
    for a in args:
        if re.match(r"(?is)^\s*MAP\s*\(", a):
            specs.append((a, "map", 2))
            continue
        # the ARRAY[...] literal rewrite runs earlier, so row arrays
        # arrive as array(struct(...)); accept the raw spelling too
        rm = re.match(r"(?is)^\s*ARRAY\s*[\[(]\s*struct\s*\(", a)
        if rm:
            lx = sql_lex.Lexed(a)
            specs.append((a, "rowarray", len(lx.args(rm.end() - 1))
                          if rm.end() - 1 in lx.close else 1))
            continue
        specs.append((a, "array", 1))
    return specs


def _unnest_inner_select(args: list[str], cols: list[str], ordinal: bool) -> str | None:
    """SELECT text producing the unnested columns, or None if the shape
    is out of scope."""
    data_cols = cols[:-1] if ordinal else cols
    if len(args) == 1 and len(data_cols) == 2 and not re.match(
            r"(?is)^\s*ARRAY\s*[\[(]\s*struct\s*\(", args[0]):
        # single argument expanding to two columns and not a
        # row-array literal: a MAP (column or constructor) — the lean
        # explode form
        if ordinal:
            return (f"SELECT key AS {data_cols[0]}, value AS {data_cols[1]}, "
                    f"pos + 1 AS {cols[-1]} FROM (SELECT posexplode({args[0]}))")
        return (f"SELECT key AS {data_cols[0]}, value AS {data_cols[1]} "
                f"FROM (SELECT explode({args[0]}))")
    # general zip: each MAP argument yields (key, value); an
    # ARRAY[struct(...)] literal yields one column per row field
    # (Presto's row expansion); plain arrays yield one column
    # (UnnestOperator.java multi-channel semantics).
    specs = _unnest_arg_specs(args)
    if sum(w for _, _, w in specs) != len(data_cols):
        # widths don't line up with the alias — treat every argument
        # as a plain array (the historical shape), else out of scope
        if len(args) != len(data_cols):
            return None
        specs = [(a, "array", 1) for a in args]
    sz = (f"size({specs[0][0]})" if len(specs) == 1 else
          "greatest(" + ", ".join(f"size({a})" for a, _, _ in specs) + ")")
    sel: list[str] = []
    ci = 0
    for a, kind, w in specs:
        if kind == "map":
            ent = f"try_element_at(map_entries({a}), _ps_i)"
            sel.append(f"{ent}.key AS {data_cols[ci]}")
            sel.append(f"{ent}.value AS {data_cols[ci + 1]}")
        elif kind == "rowarray":
            for j in range(w):
                sel.append(f"try_element_at({a}, _ps_i).col{j + 1} "
                           f"AS {data_cols[ci + j]}")
        else:
            sel.append(f"try_element_at({a}, _ps_i) AS {data_cols[ci]}")
        ci += w
    if ordinal:
        sel.append(f"_ps_i AS {cols[-1]}")
    # slice(seq(1, max(sz,1)), 1, max(sz,0)): empty/NULL arrays yield an
    # empty spine (sequence(1, 0) alone would count DOWN in Spark).
    return (f"SELECT {', '.join(sel)} FROM (SELECT "
            f"explode(slice(sequence(1, greatest({sz}, 1)), 1, "
            f"greatest({sz}, 0))) AS _ps_i)")


def _rewrite_unnest(sql: str) -> str:
    out, pos = [], 0
    for call in sql_lex.Lexed(sql).calls(_unnest_re):
        m = call.match
        if m.start() < pos:
            continue
        tail = _unnest_tail_re.match(sql, call.close + 1)
        args = [a.strip() for a in call.args]
        alias = tail.group(2) or "_ps_unnest"
        if tail.group(3):
            cols = [c.strip() for c in tail.group(3).split(",")]
        else:
            # no column list: generated names sized by each argument's
            # output width (maps are 2-wide) — SELECT * consumers see
            # these
            width = sum(w for _, _, w in _unnest_arg_specs(args))
            cols = [f"c{i + 1}" for i in range(width)]
            if tail.group(1):
                cols.append("ordinality")
        inner = _unnest_inner_select(args, cols, tail.group(1) is not None)
        if inner is None:
            continue
        prefix = sql[pos:m.start()]
        pm = _unnest_prefix_re.search(prefix)
        if pm is None:
            continue
        lead = "FROM" if pm.group(1).strip().upper() == "FROM" else ", LATERAL"
        out.append(f"{prefix[:pm.start(1)]}{lead} ({inner}) {alias}")
        pos = tail.end()
    out.append(sql[pos:])
    return "".join(out)


# --- GROUPS window frames (presto-spi/.../spi/plan/WindowNode.java:
# 323-330 lists GROUPS as a first-class frame type; Spark supports only
# ROWS/RANGE).  A GROUPS frame counts PEER GROUPS — rows tying on the
# ORDER BY key — and dense_rank() numbers peer groups 1..n
# consecutively, so RANGE over the dense_rank with the same offsets IS
# the GROUPS frame (operators/relational.py groups_frame is the
# DataFrame-level twin).  The text rewrite (a) swaps each GROUPS frame
# to a RANGE frame ordered by an injected __gdr_<k> column and (b)
# wraps the top-level FROM in a subquery that computes each distinct
# (partition, order) dense_rank once.  Scope: GROUPS frames in the
# select list of a single top-level SELECT without a top-level GROUP
# BY / set operation (a frame over an aggregated relation needs the
# rank computed post-agg — use the operator form there); unsupported
# shapes are left untouched so the engine fails loudly instead of
# silently mis-framing.

_groups_kw_re = re.compile(r"\bGROUPS\b", re.IGNORECASE)
_over_open_re = re.compile(r"\bOVER\s*\(", re.IGNORECASE)
_groups_clause_re = re.compile(
    r"(?is)^\s*(?:PARTITION\s+BY\s+(?P<part>.+?)\s+)?"
    r"ORDER\s+BY\s+(?P<ord>.+?)\s+GROUPS\s+(?P<frame>.+?)\s*$"
)
_groups_frame_re = re.compile(
    r"(?is)^\s*(?:BETWEEN\s+"
    r"(?P<b1>UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+(?:PRECEDING|FOLLOWING))"
    r"\s+AND\s+"
    r"(?P<b2>UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW|\d+\s+(?:PRECEDING|FOLLOWING))"
    r"|(?P<single>UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+PRECEDING))\s*$"
)


_select_kw_re = re.compile(r"\bSELECT\b", re.IGNORECASE)
_from_kw_re = re.compile(r"\bFROM\b", re.IGNORECASE)
_grouped_kw_re = re.compile(r"\bGROUP\s+BY\b|\bHAVING\b", re.IGNORECASE)
_query_tail_kw_re = re.compile(r"\bORDER\s+BY\b|\bLIMIT\b", re.IGNORECASE)


def _rewrite_groups_frames(sql: str) -> str:
    if not _groups_kw_re.search(sql):
        return sql
    lx = sql_lex.Lexed(sql)
    sigs: dict[tuple[str, str], tuple[str, str, str]] = {}
    repls: list[tuple[int, int, str]] = []
    pos = 0
    for m in lx.matches(_over_open_re):
        open_i = m.end() - 1
        if m.start() < pos or open_i not in lx.close:
            continue
        close_i = lx.close[open_i]
        content = sql[open_i + 1:close_i]
        pos = close_i
        gm = _groups_clause_re.match(content)
        if gm is None:
            continue
        fm = _groups_frame_re.match(gm.group("frame"))
        if fm is None:
            continue
        part = (gm.group("part") or "").strip()
        ordx = gm.group("ord").strip()
        key = (re.sub(r"\s+", " ", part.lower()),
               re.sub(r"\s+", " ", ordx.lower()))
        if key not in sigs:
            sigs[key] = (part, ordx, f"__gdr_{len(sigs)}")
        col = sigs[key][2]
        frame = ("RANGE " + fm.group("single") if fm.group("single")
                 else f"RANGE BETWEEN {fm.group('b1')} AND {fm.group('b2')}")
        prefix = f"PARTITION BY {part} " if part else ""
        repls.append(
            (m.start(), close_i + 1,
             f"OVER ({prefix}ORDER BY {col} {frame})")
        )
    if not repls:
        return sql
    out = sql_lex.splice(sql, repls)
    # Wrap the single top-level SELECT's FROM with the dense_rank source.
    lx = sql_lex.Lexed(out)
    selects = list(lx.matches(_select_kw_re, within=-1))
    if len(selects) != 1 or next(lx.matches(_grouped_kw_re, within=-1), None):
        return sql
    from_ = next(lx.matches(_from_kw_re, selects[0].end(), within=-1), None)
    if from_ is None:
        return sql
    from_s, from_e = from_.span()
    tail = next(lx.matches(_query_tail_kw_re, from_e, within=-1), None)
    tail_at = lx.code_end(from_e, len(out)) if tail is None else tail.start()
    body = out[from_e:tail_at].strip()
    dr_cols = ", ".join(
        f"dense_rank() OVER ("
        + (f"PARTITION BY {part} " if part else "")
        + f"ORDER BY {ordx}) AS {col}"
        for part, ordx, col in sigs.values()
    )
    return (
        out[:from_s]
        + f"FROM (SELECT *, {dr_cols} FROM {body}) __groups_src "
        + out[tail_at:]
    )


# --- call builders ---------------------------------------------------------
# The _CALLS entries below that take more than a line.  Each gets the
# call's arguments stripped and already translated.

# array_max_by/array_min_by(arr, x -> key(x)) (ArraySqlFunctions.java)
# — the element maximizing/minimizing the lambda key.  Spark has no
# direct analog; expand to a fold: textual lambda substitution renames
# the user's parameter to the accumulator/element names, so the key
# expression evaluates on both sides of the comparison.
_lambda_re = re.compile(r"(?s)^\s*(\w+)\s*->\s*(.+?)\s*$")


def _build_array_minmax_by(op: str, args: list[str]) -> str | None:
    lam = _lambda_re.match(args[1])
    if lam is None:
        return None
    param, body = lam.group(1), lam.group(2)
    sub = re.compile(rf"\b{re.escape(param)}\b")
    body_x = sub.sub("_ps_x", body)
    body_acc = sub.sub("_ps_acc", body)
    arr = f"({args[0]})"
    return (f"aggregate({arr}, element_at({arr}, 1), "
            f"(_ps_acc, _ps_x) -> CASE WHEN ({body_x}) {op} ({body_acc}) "
            f"THEN _ps_x ELSE _ps_acc END)")


# kurtosis: Presto returns the UNBIASED excess-kurtosis estimate
# (aggregate.rst:990-997, CentralMomentsAggregation.java):
#   n(n+1)/((n-1)(n-2)(n-3)) · Σ(x−μ)⁴/s⁴ − 3(n−1)²/((n−2)(n−3))
# with s² the SAMPLE variance, while Spark's kurtosis is the biased
# population estimate m₄/m₂² − 3.  A bare rename is numerically wrong
# (corpus golden aggregate/kurtosis.result: −1.5738 vs Spark −1.4711
# over the same 15 values).  Recover Σ(x−μ)⁴ = (K_spark+3)·var_pop²·n
# and apply Presto's correction — pure aggregate composition, stays
# in codegen.
def _build_kurtosis(args: list[str]) -> str | None:
    x = args[0]
    if x.startswith("/*pop*/"):
        # the population-estimate call our own expansion emits, read
        # by a second translate of kurtosis(x) — leaving it keeps
        # translate() idempotent
        return None
    n = f"CAST(count({x}) AS DOUBLE)"
    m4sum = f"((kurtosis(/*pop*/ {x}) + 3.0) * power(var_pop({x}), 2) * {n})"
    return (
        f"({n} * ({n} + 1) / (({n} - 1) * ({n} - 2) * ({n} - 3))"
        f" * {m4sum} / power(var_samp({x}), 2)"
        f" - 3.0 * power({n} - 1, 2) / (({n} - 2) * ({n} - 3)))"
    )


# min_by/max_by 3-arg top-n forms (MinMaxByNAggregationFunction.java):
# min_by(x, y, n) returns the x's of the n smallest y.  Spark's
# min_by/max_by are 2-arg only; the n-form sorts the collected (key,
# value) pairs (array_sort orders structs by field order, nulls-last)
# and slices.  2-arg calls pass through untouched (native).
def _build_minmax_by(largest: bool, args: list[str]) -> str:
    x, y, n = args
    pairs = (f"array_sort(collect_list(CASE WHEN ({y}) IS NOT NULL THEN "
             f"struct(({y}) AS k, ({x}) AS v) END))")
    if largest:
        pairs = f"reverse({pairs})"
    return f"transform(slice({pairs}, 1, ({n})), _ps_s -> _ps_s.v)"


# min(x, n)/max(x, n) (MinAggregationFunction n-form): array of the n
# smallest/largest — Spark's min/max are strictly 1-arg, so the 2-arg
# spelling is unambiguous.
def _build_minmax_n(largest: bool, args: list[str]) -> str:
    arr = f"array_sort(collect_list(({args[0]})))"
    if largest:
        arr = f"reverse({arr})"
    return f"slice({arr}, 1, ({args[1]}))"


# features(f1, ..., fN) → map<bigint,double> (presto-ml
# MLFeaturesFunctions.java — 0-indexed dense feature map).  A pure
# map() literal: no UDF, any arity.
def _build_features_call(args: list[str]) -> str:
    entries = ", ".join(
        f"CAST({i} AS BIGINT), CAST({a} AS DOUBLE)"
        for i, a in enumerate(args))
    # one feature makes a 2-argument map(), which a second translate
    # would read as Presto's MAP(keys, values): the marker stops it
    return f"map(/*ps*/ {entries})" if len(args) == 1 else f"map({entries})"


# Presto split(s, delim[, limit]) treats the delimiter as a LITERAL
# (StringFunctions.java split uses Slice indexOf); Spark's split takes a
# Java regex — split(s, '.') silently splits on every character.
# Literal delimiters containing metacharacters are wrapped in java
# regex \Q...\E quoting.  Delimiters already containing a backslash are
# left alone (assumed pre-escaped regex — also what makes the rewrite
# idempotent, since \Q itself introduces one).  regexp_split's own
# split() call wraps its pattern in parentheses, so a second translate
# never reads it as a literal delimiter.
_REGEX_SPECIAL = set(".[]{}()*+?^$|")


def _build_split(args: list[str]) -> str | None:
    lit = _sql_string_re.fullmatch(args[1])
    if lit is None:
        return None
    raw = lit.group(1).replace("''", "'")
    if "\\" in raw or not any(c in _REGEX_SPECIAL for c in raw):
        return None
    sql_body = ("\\Q" + raw + "\\E").replace("\\", "\\\\").replace("'", "''")
    rest = ", " + args[2] if len(args) == 3 else ""
    return f"split({args[0]}, '{sql_body}'{rest})"


# date_add/date_diff('unit', n, ts) (DateTimeFunctions.java dateAdd/
# dateDiff) → timestampadd/timestampdiff(UNIT, n, ts) when the unit is
# a string literal, so Spark's 2-arg date_add(date, n) is untouched.
_unit_literal_re = re.compile(r"'(\w+)'")


def _build_unit_call(spark_fn: str, args: list[str]) -> str | None:
    unit = _unit_literal_re.fullmatch(args[0])
    if unit is None:
        return None
    return f"{spark_fn}({unit.group(1).upper()}, {args[1]}, {args[2]})"


# TRY(expr) (reference: TryFunction.java).  TRY(CAST(..)) becomes
# TRY_CAST; otherwise a top-level binary arithmetic op lowers to
# Spark's try_* function (NULL on overflow/div-zero, matching Presto),
# anything else unwraps to (expr) — the engine runs non-ANSI, where
# div-by-zero and bad element access already yield NULL
# (tests/test_semantics.py).
_TRY_OPS = {"+": "try_add", "-": "try_subtract", "*": "try_multiply",
            "/": "try_divide", "%": "try_mod"}
_cast_open_re = re.compile(r"CAST\s*\(", re.IGNORECASE)
_op_char_re = re.compile(r"[-+*/%<>=!]")


def _split_top_binary(expr: str):
    """(lhs, op, rhs) at the lowest-precedence, rightmost top-level binary
    operator, or None.  '[' counts as nesting: ops inside a subscript or
    ARRAY[...] literal are not top-level."""
    add_idx = mul_idx = None
    for m in sql_lex.Lexed(expr).matches(_op_char_re, within=-1):
        i, c = m.start(), m.group()
        if c in "<>=!":
            # a top-level COMPARISON binds looser than any arithmetic
            # op: TRY(1 / x != 1000) must unwrap whole, never become
            # try_divide(1, x != 1000)
            return None
        prev = expr[:i].rstrip()[-1:]
        if c in "+-" and (prev == "" or prev in "(,+-*/%<>="):
            continue  # unary
        if c in "+-":
            add_idx = i
        else:
            mul_idx = i
    idx = add_idx if add_idx is not None else mul_idx
    if idx is None:
        return None
    return expr[:idx].strip(), expr[idx], expr[idx + 1:].strip()


def _build_try(args: list[str]) -> str:
    inner = args[0]
    if (cast := _cast_open_re.match(inner)) is not None:
        return f"(TRY_CAST({inner[cast.end():]})"
    split = _split_top_binary(inner)
    if split is None:
        return f"({inner})"
    lhs, op, rhs = split
    return f"{_TRY_OPS[op]}({lhs}, {rhs})"


# --- the call table ----------------------------------------------------------
# Every call-shaped rewrite, keyed by the lower-case Presto name.  A
# value is either the Spark name (a rename: the arguments stay as
# written) or builders by argument count ({nargs: build}, None: any
# count).  build(args) gets the arguments stripped and already
# translated and returns the Spark text, or None to keep the call;
# an argument count with no builder keeps the call too.  translate()
# walks the call sites once, inner calls first, and never scans what a
# builder returns again, so each entry emits final Spark text.  An
# entry whose output a SECOND translate would rewrite again marks it
# with a comment Spark's lexer drops (/*ps*/, /*pop*/, /*dt*/, /*td*/)
# and declines on it, which keeps translate() idempotent.
_Build = Callable[[list[str]], str | None]
_CALLS: dict[str, str | dict[int | None, _Build]] = {
    # renames (reference: presto-main-base/.../operator/)
    "arbitrary": "any_value",         # ArbitraryAggregationFunction.java
    "cardinality": "size",            # scalar/ArrayCardinalityFunction.java
    "zip": "arrays_zip",              # ZipFunction.java (rows -> structs)
    "from_base64": "unbase64",        # VarbinaryFunctions.java fromBase64
    "to_base64": "base64",            # VarbinaryFunctions.java toBase64
    # ST_AsBinary collides with Spark 4.1's builtin of the same name
    # (which operates on Spark's native GEOMETRY type, not the engine's
    # struct model) — route the Presto spelling to the engine wrapper
    # (registry.py geo SQL tier, round 12).
    "st_asbinary": "__st_asbinary",   # GeoFunctions.java:268
    # bitwise aggregates (aggregation/BitwiseAndAggregation /
    # BitwiseOrAggregation; bitwise_xor_agg from the public docs
    # aggregate.rst) — Spark's bit_and/bit_or/bit_xor aggregates have
    # identical NULL-skipping semantics — and the scalar functions
    # (scalar/BitwiseFunctions.java) onto the BITWISE_UDFS shims.
    "bitwise_and_agg": "bit_and",
    "bitwise_or_agg": "bit_or",
    "bitwise_xor_agg": "bit_xor",
    "bitwise_and": "bit_and_scalar",
    "bitwise_or": "bit_or_scalar",
    "bitwise_xor": "bit_xor_scalar",
    "bitwise_not": "bit_not_scalar",
    # approx_distinct → approx_count_distinct carrying Presto's DEFAULT
    # standard error (ApproximateCountDistinctAggregation.java
    # DEFAULT_STANDARD_ERROR = 2.3%); Spark's default rsd is 5%, so a
    # bare rename would silently halve estimate quality.  An explicit
    # 2nd arg (max standard error) maps 1:1 onto Spark's rsd.
    "approx_distinct": {
        1: lambda a: f"approx_count_distinct({a[0]}, 0.023)",
        2: lambda a: f"approx_count_distinct({a[0]}, {a[1]})"},
    # approx_percentile arity dispatch (ApproximateLongPercentile
    # Aggregations.java + weighted variants): 2-arg → Spark
    # percentile_approx; 3/4-arg are the WEIGHTED forms
    # approx_percentile(x, w, percentage[, accuracy]) — Spark's
    # percentile_approx 3rd arg means accuracy, so a bare rename
    # silently treats the weight as accuracy.  Spark's exact
    # percentile(x, percentage, frequency) takes per-row integer
    # weights; exact satisfies any approx contract (accuracy dropped).
    "approx_percentile": {
        2: lambda a: f"percentile_approx({a[0]}, {a[1]})",
        3: lambda a: f"percentile({a[0]}, {a[2]}, {a[1]})",
        4: lambda a: f"percentile({a[0]}, {a[2]}, {a[1]})"},
    "kurtosis": {1: _build_kurtosis},
    "min_by": {3: partial(_build_minmax_by, False)},
    "max_by": {3: partial(_build_minmax_by, True)},
    "min": {2: partial(_build_minmax_n, False)},
    "max": {2: partial(_build_minmax_n, True)},
    "array_min_by": {2: partial(_build_array_minmax_by, "<")},
    "array_max_by": {2: partial(_build_array_minmax_by, ">")},
    # zero-argument count() (Presto's CountAggregation accepts it as
    # count(*)); Spark requires the star.
    "count": {1: lambda a: "count(*)" if a[0] == "" else None},
    # grouping(c1, .., cn) (GroupingOperationFunction.java) returns the
    # bitmask over the named columns — Spark's grouping() is 1-arg;
    # the multi-column form IS Spark's grouping_id.
    "grouping": {
        None: lambda a: f"grouping_id({', '.join(a)})" if len(a) > 1
        else None},
    # Color-tier arity dispatch (ColorFunctions.java overloads color/
    # render/bar by signature; the SQL UDFs in functions/color.py are
    # monomorphic).  The 1-arg color and 2-arg render/bar spellings
    # keep their own names.
    "color": {3: lambda a: f"color_interp({', '.join(a)})",
              5: lambda a: f"color_scaled({', '.join(a)})"},
    "render": {1: lambda a: f"render_bool({a[0]})"},
    "bar": {4: lambda a: f"bar_colored({', '.join(a)})"},
    "features": {None: _build_features_call},
    "split": {2: _build_split, 3: _build_split},
    "date_add": {3: partial(_build_unit_call, "timestampadd")},
    "date_diff": {3: partial(_build_unit_call, "timestampdiff")},
    "try": {1: _build_try},
    # the datetime-format and JSONPath sections above
    **{name: {2: partial(_datetime_format_call, name)}
       for name in _DT_FORMAT_FNS},
    **{name: {2: partial(_jsonpath_call, name)} for name in _JSON_FNS},
    # --- inline expansions (the polymorphic-macro helpers above) ---------
    # apply(input, x -> body) (ApplyFunction.java — evaluate a lambda
    # on a value; heavily used by the reference's own lambda tests):
    # Spark has no direct analog, so route the value through a
    # one-element transform.
    "apply": {
        2: lambda a: f"element_at(transform(array(({a[0]})), {a[1]}), 1)"},
    # SQL spellings for aggregates the engine also ships as DataFrame
    # operators (operators/aggregates.py) — lowered onto Spark
    # aggregates so the reference's own SQL texts run.  All of them
    # return NULL over an empty group (Presto aggregates yield NULL on
    # zero rows; Spark's collect_list yields []), hence the count(*)
    # guard.
    # map_agg (MapAggregationFunction.java): map of per-group k/v.
    "map_agg": {
        2: lambda a: ("CASE WHEN count(*) = 0 THEN NULL ELSE "
                      "map_from_entries(collect_list(CASE WHEN ({a0}) IS "
                      "NOT NULL THEN struct(({a0}), ({a1})) END)) END"
                      .format(a0=a[0], a1=a[1]))},
    # set_agg / set_union (SetAggregationFunction.java / SetUnionFunction.java)
    # (unlike array_agg, set_agg SKIPS null inputs — pinned by the
    # reference's own setAgg tests over the all-null comment column)
    "set_agg": {
        1: lambda a: (f"CASE WHEN count(*) = 0 THEN NULL ELSE "
                      f"array_distinct(collect_list(({a[0]}))) END")},
    "set_union": {
        1: lambda a: ("CASE WHEN count(*) = 0 THEN NULL ELSE "
                      "array_distinct(flatten(collect_list("
                      f"coalesce(({a[0]}), array())))) END")},
    # reduce_agg(input, init, input-lambda, combine-lambda)
    # (ReduceAggregationFunction.java): Presto requires the lambdas to
    # be commutative/associative, so a sequential fold over the
    # collected inputs is a valid evaluation order; the combine lambda
    # is then never needed.
    "reduce_agg": {
        4: lambda a: (f"aggregate(collect_list(({a[0]})), ({a[1]}), "
                      f"{a[2]})")},
    "remove_nulls": {1: lambda a: f"filter(({a[0]}), _ps_x -> _ps_x IS NOT NULL)"},
    "array_sort_desc": {1: lambda a: _SORT_DESC.format(a=f"({a[0]})")},
    "array_top_n": {
        2: lambda a: f"slice({_SORT_DESC.format(a=f'({a[0]})')}, 1, ({a[1]}))"},
    "trim_array": {
        2: lambda a: f"slice(({a[0]}), 1, size(({a[0]})) - ({a[1]}))"},
    "array_split_into_chunks": {
        2: lambda a: (f"transform(sequence(1, size(({a[0]})), ({a[1]})), "
                      f"_ps_i -> slice(({a[0]}), _ps_i, ({a[1]})))")},
    "array_ngrams": {2: _ngrams_macro},
    "ngrams": {2: _ngrams_macro},      # NgramsFunction.java
    # combinations(array, n) (ArrayCombinationsFunction.java): n-element
    # subsequences in the reference's colex enumeration order (indices
    # advance smallest-first), n in [0, 5], empty result when n >
    # size, INVALID_FUNCTION_ARGUMENT raises for negative/oversize n
    # and for > 100000 result elements (count via double math — exact
    # below ~1e15, far past the threshold).  Generic in T, so a macro
    # (SQL UDFs are monomorphic); the array operand is let-bound
    # through a 1-element transform so it expands ONCE (round-6
    # expression-tree rule).  The n-0 arm returns array(slice(a,1,0))
    # — one empty combination, typed by the operand.
    "combinations": {2: lambda a: _combinations_macro(a[0], a[1])},
    # width_bucket(x, bins) — the ARRAY overload (MathFunctions.java:
    # 1667).  Arity-gated: 4-arg width_bucket() doesn't match nargs=2
    # and passes through to Spark's builtin untouched.
    "width_bucket": {2: _width_bucket_bins_macro},
    # bit_count(num, bits) — Presto's only spelling is 2-arg
    # (BitwiseFunctions.java:44); 1-arg calls stay on Spark's builtin.
    "bit_count": {2: _bit_count2_macro},
    # checksum(x) (ChecksumAggregationFunction.java): order-insensitive
    # aggregate returned as 8-byte VARBINARY.  Engine composition is
    # sum-mod-2^64 of xxhash64 (the operators/aggregates.py deviation:
    # equally order-insensitive, spark-native), rendered to binary via
    # hex/unhex so to_hex(checksum(x)) works like Presto's.  The mod-
    # 2^64 sum is split into 32-bit halves summed separately and
    # recombined (carry = low-sum div 2^32), so it is ANSI-proof: no
    # intermediate can overflow BIGINT below 2^31 rows per group,
    # where a plain sum(xxhash64) throws ARITHMETIC_OVERFLOW under
    # spark.sql.ansi.enabled=true instead of wrapping (ADVICE r12).
    "checksum": {1: _checksum_macro},
    # classification_* curve aggregates (PrecisionRecallAggregation.java
    # + the five Classification*Aggregation.java outputs; VERDICT r12
    # what's-missing #2) — unrolled-histogram expansions, see
    # _classification_macro.
    **{
        f"classification_{_m}": {
            3: (lambda a, _m=_m: _classification_macro(a, _m)),
            4: (lambda a, _m=_m: _classification_macro(a, _m)),
        }
        for _m in ("precision", "recall", "miss_rate", "fall_out",
                   "thresholds")
    },
    # from_unixtime overloads (DateTimeFunctions.java fromUnixTime):
    # 1-arg → plain TIMESTAMP (fractional seconds kept); the 2-arg
    # (zone string) and 3-arg (hour/minute offset) forms return the
    # engine's TSWTZ struct model <utc, tz> (registry.py with_timezone
    # notes) — the offset renders as the '+HH:MM' ZoneId Presto packs
    # (TimeZoneKey.zoneIdForOffset over TOTAL minutes = hours*60 +
    # minutes, so mixed signs and minutes >= 60 normalize exactly as
    # getTimeZoneKeyForOffset does — ADVICE r12; |total| > 840 raises
    # the reference's "Invalid offset minutes" message.  Remaining
    # pin: total == 0 renders '+00:00' where the reference interns
    # UTC_KEY and prints 'UTC' — same instant, same offset math).
    "from_unixtime": {
        1: lambda a: f"timestamp_seconds(({a[0]}))",
        2: lambda a: (f"named_struct('utc', timestamp_seconds(({a[0]})), "
                      f"'tz', ({a[1]}))"),
        3: lambda a: (
            f"named_struct('utc', timestamp_seconds(({a[0]})), 'tz', "
            + _let(
                {"t": (f"CAST(({a[1]}) AS BIGINT) * 60 "
                       f"+ CAST(({a[2]}) AS BIGINT)")},
                "CASE WHEN abs(_ps_w.t) > 840 THEN raise_error(concat("
                "'Invalid offset minutes ', string(_ps_w.t))) "
                "ELSE concat(IF(_ps_w.t < 0, '-', '+'), "
                "lpad(string(abs(_ps_w.t) div 60), 2, '0'), ':', "
                "lpad(string(abs(_ps_w.t) % 60), 2, '0')) END")
            + ")"),
    },
    # regexp_extract — Presto returns NULL when nothing matches and
    # the 2-arg form returns the FULL match (group 0); Spark defaults
    # idx to 1 and returns '' on no-match.  The RLIKE guard restores
    # NULL-on-no-match while keeping a genuine empty-string match ''
    # (Re2JRegexpFunctions.regexpExtract) — same regex grammar on both
    # sides of the guard.  Remaining pin: a MATCHED pattern whose
    # requested GROUP did not participate still yields '' (Presto:
    # NULL) — group participation is invisible to an outer guard.
    # 2-arg regexp_extract_all spells idx 0 (full matches); its
    # no-match result is the empty array on both engines already.
    "regexp_extract": {
        2: lambda a: (f"CASE WHEN ({a[0]}) RLIKE ({a[1]}) THEN "
                      f"regexp_extract(/*ps*/ ({a[0]}), ({a[1]}), 0) "
                      "END"),
        3: lambda a: (None if a[0].lstrip().startswith("/*ps*/") else
                      f"CASE WHEN ({a[0]}) RLIKE ({a[1]}) THEN "
                      f"regexp_extract(/*ps*/ ({a[0]}), ({a[1]}), "
                      f"({a[2]})) END"),
    },
    "regexp_extract_all": {
        2: lambda a: f"regexp_extract_all(({a[0]}), ({a[1]}), 0)"},
    # Nth-occurrence strpos/strrpos and truncate-to-n-places — the
    # 2-arg spellings are SQL UDFs already; arity gating keeps them
    # untouched (StringFunctions.java:FromStart/:FromEnd,
    # MathFunctions.java:362).
    "strpos": {3: lambda a: _strpos3_macro(a, from_end=False)},
    "strrpos": {3: lambda a: _strpos3_macro(a, from_end=True)},
    "truncate": {2: _truncate2_macro},
    # substr/substring start-0: Presto returns '' (StringFunctions.java
    # substr: start == 0 -> EMPTY), Spark treats 0 as 1.  A literal
    # non-zero start passes through untouched (the overwhelmingly
    # common case — no plan noise); a literal 0 folds to ''; only a
    # non-literal start gets the runtime guard.  Negative starts agree
    # on both engines already.
    "substr": {
        2: lambda a: _substr_zero_guard("substr", a),
        3: lambda a: _substr_zero_guard("substr", a),
    },
    "substring": {
        2: lambda a: _substr_zero_guard("substring", a),
        3: lambda a: _substr_zero_guard("substring", a),
    },
    # Lambda-predicate array functions (ArrayAllMatchFunction.java /
    # AnyMatch/NoneMatch, ArrayFindFirstFunction.java): the lambda rules
    # out a SQL UDF, and Spark's forall/exists are the exact analogs —
    # the user's lambda text passes through verbatim.
    "all_match": {2: lambda a: f"forall(({a[0]}), {a[1]})"},
    # Map-side lambda predicates (presto-sql-helpers MapSqlFunctions:
    # any/all/no keys/values match) — lowered onto the key/value arrays.
    "any_keys_match": {2: lambda a: f"exists(map_keys(({a[0]})), {a[1]})"},
    "any_values_match": {
        2: lambda a: f"exists(map_values(({a[0]})), {a[1]})"},
    "all_keys_match": {2: lambda a: f"forall(map_keys(({a[0]})), {a[1]})"},
    "no_keys_match": {
        2: lambda a: f"(NOT exists(map_keys(({a[0]})), {a[1]}))"},
    "no_values_match": {
        2: lambda a: f"(NOT exists(map_values(({a[0]})), {a[1]}))"},
    "any_match": {2: lambda a: f"exists(({a[0]}), {a[1]})"},
    "none_match": {2: lambda a: f"(NOT exists(({a[0]}), {a[1]}))"},
    "find_first": {2: lambda a: f"element_at(filter(({a[0]}), {a[1]}), 1)"},
    # find_first_index (ArrayFindFirstIndexFunction area): 1-based index
    # of the first match; Presto returns NULL when nothing matches —
    # array_position's 0-if-absent maps through nullif.
    "find_first_index": {
        2: lambda a: (f"nullif(array_position(transform(({a[0]}), {a[1]}), "
                      f"true), 0)")},
    # regexp_split(s, re) (JoniRegexpFunctions.java) → Spark split, with
    # an explicit -1 limit (same semantics as 2-arg); the pattern is a
    # real regex, so it is never literal-quoted like split's delimiter.
    "regexp_split": {2: lambda a: f"split(({a[0]}), ({a[1]}), -1)"},
    # contains(arr, x) is ARRAY MEMBERSHIP in Presto (ArrayContains.java)
    # — Spark's builtin `contains` is string-only, so the Presto spelling
    # rewrites to array_contains.  (Presto expresses string containment
    # as strpos(...) > 0, which translates cleanly already.)
    "contains": {2: lambda a: f"array_contains(({a[0]}), ({a[1]}))"},
    # repeat(x, n) builds an ARRAY of n copies in Presto
    # (RepeatFunction.java) — Spark's repeat is string repetition.
    "repeat": {2: lambda a: f"array_repeat(({a[0]}), ({a[1]}))"},
    # map_subset(m, keys) (MapSubsetFunction.java)
    "map_subset": {
        2: lambda a: (f"map_filter(({a[0]}), (_ps_k, _ps_v) -> "
                      f"array_contains(({a[1]}), _ps_k))")},
    # Presto two-array map constructor MAP(ARRAY[..], ARRAY[..])
    # (MapConstructor.java) — 2-arg only; Spark's variadic map literal
    # keeps other arities.
    "map": {2: lambda a: None if a[0].startswith("/*ps*/")
            else f"map_from_arrays(({a[0]}), ({a[1]}))"},
    # date(x) → DATE cast (DateTimeFunctions.java date)
    "date": {1: lambda a: f"CAST(({a[0]}) AS DATE)"},
    # Teradata plugin datetime functions (presto-teradata-functions/
    # TeradataDateFunctions.java:85-130): the literal Teradata format
    # compiles to a Spark/Java pattern at translate time — zero-padded
    # fields for the format direction, 1-2-digit fields for parsing
    # (DateFormatParser.java Mode).  Spark's own to_char(numeric) /
    # to_date(x) spellings are not Presto SQL, so 2-arg interception
    # is unambiguous on the dialect path.
    # The Spark target keeps the same name for to_date/to_timestamp, so
    # a second translate would convert the emitted java pattern again
    # (to_date(s, 'yyyy-mi-dd') → 'mi'→'mm', which re-reads as Teradata
    # month): the /*td*/ comment (stripped by Spark's lexer) breaks the
    # `name(` spelling so the converted call is never matched again.
    # Column-valued formats route to the Arrow-batched per-row
    # renderers (to_*_td_py) — the reference compiles the format per
    # value at runtime, so a non-literal format is legal Presto SQL
    # (ADVICE r5: these macros used to raise inside translate()).
    "to_char": {2: lambda a: (
        f"date_format(({a[0]}), "
        f"{_teradata.literal_format_to_java(a[1], 'format')})"
        if _teradata.is_literal_format(a[1])
        else f"to_char_td_py(({a[0]}), ({a[1]}))")},
    "to_date": {2: lambda a: (
        f"to_date/*td*/(({a[0]}), "
        f"{_teradata.literal_format_to_java(a[1], 'parse')})"
        if _teradata.is_literal_format(a[1])
        else f"to_date_td_py(({a[0]}), ({a[1]}))")},
    "to_timestamp": {2: lambda a: (
        f"to_timestamp/*td*/(({a[0]}), "
        f"{_teradata.literal_format_to_java(a[1], 'parse')})"
        if _teradata.is_literal_format(a[1])
        else f"to_timestamp_td_py(({a[0]}), ({a[1]}))")},
    # 1-arg normalize defaults to NFC (StringFunctions.java normalize)
    # normalize(s[, form]) — the 2-arg form takes a BARE KEYWORD
    # (NFC/NFD/NFKC/NFKD, SqlParser normalForm rule) that Spark would
    # read as a column; quote it for the registered UDF.  An already-
    # quoted form passes through (idempotent).
    "normalize": {
        1: lambda a: f"normalize(({a[0]}), 'NFC')",
        2: lambda a: (
            f"normalize(({a[0]}), '{a[1].strip().upper()}')"
            if re.match(r"^(NFC|NFD|NFKC|NFKD)$", a[1].strip(), re.I)
            else None),
    },
    # typeof → Presto type-name spelling (TypeOfFunction.java): Spark's
    # typeof speaks Spark names; map int→integer, string→varchar,
    # struct→row, <>→(), etc.  Word-boundary regexes keep bigint/
    # varbinary intact; generic over the argument type by construction.
    # The emitted typeof keeps the same name: its /*ps*/ marker keeps
    # a second translate from wrapping it again.
    "typeof": {
        1: lambda a: None if a[0].startswith("/*ps*/") else (
            "translate("
            "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            "regexp_replace(regexp_replace("
            f"typeof(/*ps*/ ({a[0]})), "
            r"'\\bint\\b', 'integer'), "
            r"'\\bstring\\b', 'varchar'), "
            r"'\\bstruct\\b', 'row'), "
            r"'\\btimestamp_ntz\\b', 'timestamp'), "
            r"'\\bfloat\\b', 'real'), "
            r"'\\bbinary\\b', 'varbinary'), "
            "'<>', '()')")},
}

_call_re = re.compile(r"\b(" + "|".join(_CALLS) + r")\s*\(", re.IGNORECASE)


def _rewrite_call(call: sql_lex.Call) -> str | None:
    entry = _CALLS[call.match.group(1).lower()]
    if isinstance(entry, str):
        return f"{entry}({','.join(call.args)})"
    args = [a.strip() for a in call.args]
    build = entry.get(len(args), entry.get(None))
    return None if build is None else build(args)


def translate(sql: str) -> str:
    """Rewrite Presto spellings to Spark spellings.  Idempotent."""
    out = sql_lex.sub(_unicode_str_re, _decode_unicode_literal, sql)
    out = _rewrite_double_quoted_idents(out)
    out = _rewrite_quantified_comparisons(out)
    out = _rewrite_rankish_windows(out)
    out = _rewrite_groups_frames(out)
    out = _rewrite_order_by_null_defaults(out)
    out = _rewrite_array_literals(out)
    out = _rewrite_type_positions(out)
    out = sql_lex.sub(_bare_varchar_re, "AS STRING", out)
    out = sql_lex.sub(_bare_varbinary_re, "AS BINARY", out)
    out = sql_lex.sub(_typed_literal_re, _typed_literal_repl, out)
    out = sql_lex.sub(_row_ctor_re, "struct(", out)
    out = _rewrite_limit_grammar(out)
    out = _rewrite_at_time_zone(out)
    out = _rewrite_unnest(out)
    out = _rewrite_in_values(out)
    out = sql_lex.sub(
        _tablesample_re, lambda m: f"TABLESAMPLE ({m.group(1)} PERCENT)", out
    )
    out = sql_lex.sub(*_SUBSCRIPT_RULE, out)
    out = _rewrite_paren_subscripts(out)
    out = _rewrite_array_agg(out)
    return sql_lex.rewrite_calls(out, _call_re, _rewrite_call)
