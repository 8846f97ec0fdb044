"""Prepared-statement surface: PREPARE / EXECUTE / DEALLOCATE /
DESCRIBE INPUT|OUTPUT.

Every Presto client driver (JDBC, CLI) speaks this protocol
(reference grammar: presto-parser/src/main/antlr4/com/facebook/presto/
sql/parser/SqlBase.g4:168-172 — PREPARE identifier FROM statement,
EXECUTE identifier (USING expression (',' expression)*)?, DEALLOCATE
PREPARE identifier, DESCRIBE INPUT|OUTPUT identifier; execution-side:
presto-main-base/.../execution/PrepareTask.java,
DeallocateTask.java, sql/analyzer/QueryPreparer.java which substitutes
Parameter nodes).

Spark has no statement registry, so the engine keeps one per Engine
instance: PREPARE stores the raw statement text, EXECUTE substitutes
the positional ``?`` parameters textually (each USING argument is a SQL
expression rendered into the statement — the dialect layer then
translates the whole text), DESCRIBE INPUT reports parameter positions
(0-based, QueryPreparer-style) and DESCRIBE OUTPUT reports the planned
output schema without running the query (Spark's lazy ``spark.sql``
resolves the schema only).

Parameter scanning reads the statement through presto_spark/sql_lex.py:
``?`` inside a string literal, a quoted identifier or a comment is
text, not a parameter — the same tokenization the reference parser
gets from ANTLR.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from presto_spark import sql_lex

PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+([A-Za-z_]\w*)\s+FROM\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:\s+USING\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+PREPARE\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)
DESCRIBE_INPUT_RE = re.compile(
    r"^\s*DESCRIBE\s+INPUT\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)
DESCRIBE_OUTPUT_RE = re.compile(
    r"^\s*DESCRIBE\s+OUTPUT\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)


_PARAM_RE = re.compile(r"\?")


def param_positions(stmt: str) -> list[int]:
    """Character offsets of each positional ``?`` parameter: a ``?``
    in a literal, a quoted identifier or a comment is text."""
    return [m.start() for m in sql_lex.Lexed(stmt).matches(_PARAM_RE)]


def split_args(text: str) -> list[str]:
    """Split a USING argument list on top-level commas — each piece is
    one SQL expression."""
    args = [a.strip() for a in sql_lex.Lexed(text).args(-1)]
    return args[:-1] if not args[-1] else args


def sentinel(i: int) -> str:
    """Identifier-shaped placeholder for the i-th positional parameter:
    survives every dialect rewrite untouched (it scans as a plain
    column token) and is spliced out after translation in ONE pass
    (``splice_sentinels``), even when a macro expansion duplicated it."""
    return f"__ps_param_{i}__"


SENTINEL_RE = re.compile(r"__ps_param_(\d+)__")


def reject_sentinel_shaped(text: str, what: str) -> None:
    """Fail fast when user-supplied text already contains a
    sentinel-shaped token: substituting into such a statement (or
    splicing such an argument) would let pre-existing text be mistaken
    for a parameter slot.  The token is an engine-internal spelling, so
    rejecting it loses no legitimate queries (QueryPreparer.java has no
    analogous hazard because it substitutes AST nodes, not text)."""
    m = SENTINEL_RE.search(text)
    if m:
        raise ValueError(
            f"{what} contains reserved token {m.group(0)!r}; "
            "__ps_param_N__ identifiers are reserved by the engine")


def splice_sentinels(text: str, args: list[str]) -> str:
    """Replace every ``__ps_param_k__`` in ``text`` with ``(args[k])``
    in a SINGLE left-to-right pass — inserted argument text is never
    rescanned, so an argument containing a later sentinel spelling (or
    quotes that would re-open a literal) cannot be re-substituted
    (ADVICE r6: the sequential str.replace loop re-scanned earlier
    splices)."""

    def repl(m: re.Match) -> str:
        k = int(m.group(1))
        if k >= len(args):
            raise ValueError(
                f"statement references parameter {k}, "
                f"got {len(args)} arguments")
        return f"({args[k]})"

    return SENTINEL_RE.sub(repl, text)


def substitute_sentinels(stmt: str, n_args: int) -> str:
    """Render ``sentinel(k)`` in place of the k-th ``?`` of ``stmt``
    (literal-aware positions), validating arity.  Statements that
    already contain sentinel-shaped text are rejected up front."""
    reject_sentinel_shaped(stmt, "prepared statement")
    pos = param_positions(stmt)
    if len(pos) != n_args:
        raise ValueError(
            f"statement expects {len(pos)} parameters, got {n_args}")
    out = []
    last = 0
    for i, p in enumerate(pos):
        out.append(stmt[last:p])
        out.append(sentinel(i))
        last = p + 1
    out.append(stmt[last:])
    return "".join(out)


def substitute(stmt: str, args: list[str]) -> str:
    """Render ``args[k]`` in place of the k-th ``?`` of ``stmt``.

    Each argument is parenthesized so an expression argument (e.g.
    ``1 + 2``) keeps its precedence inside the statement, exactly as
    the reference substitutes analyzed Parameter nodes
    (QueryPreparer.java), not raw token splices.
    """
    pos = param_positions(stmt)
    if len(pos) != len(args):
        raise ValueError(
            f"statement expects {len(pos)} parameters, got {len(args)}"
        )
    out = []
    last = 0
    for p, a in zip(pos, args):
        out.append(stmt[last:p])
        out.append(f"({a})")
        last = p + 1
    out.append(stmt[last:])
    return "".join(out)


def presto_type_name(dt: T.DataType) -> str:
    """Spark DataType → Presto type-signature spelling
    (presto-common/.../type/StandardTypes.java names; SURVEY §1.2 maps
    the reverse direction)."""
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.IntegerType):
        return "integer"
    if isinstance(dt, T.ShortType):
        return "smallint"
    if isinstance(dt, T.ByteType):
        return "tinyint"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return "varchar"
    if isinstance(dt, T.BinaryType):
        return "varbinary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamp with time zone"
    if isinstance(dt, T.DayTimeIntervalType):
        return "interval day to second"
    if isinstance(dt, T.YearMonthIntervalType):
        return "interval year to month"
    if isinstance(dt, T.ArrayType):
        return f"array({presto_type_name(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return (f"map({presto_type_name(dt.keyType)}, "
                f"{presto_type_name(dt.valueType)})")
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"{f.name} {presto_type_name(f.dataType)}" for f in dt.fields
        )
        return f"row({fields})"
    if isinstance(dt, T.NullType):
        return "unknown"
    return dt.simpleString()


class PreparedStatements:
    """The per-session statement registry (PrepareTask semantics)."""

    def __init__(self) -> None:
        self._stmts: dict[str, str] = {}

    def prepare(self, name: str, stmt: str) -> None:
        # Re-PREPARE of an existing name replaces it (PrepareTask.java
        # putPreparedStatement semantics).
        self._stmts[name.lower()] = stmt.strip().rstrip(";").strip()

    def get(self, name: str) -> str:
        try:
            return self._stmts[name.lower()]
        except KeyError:
            raise KeyError(f"prepared statement not found: {name}") from None

    def deallocate(self, name: str) -> None:
        if name.lower() not in self._stmts:
            raise KeyError(f"prepared statement not found: {name}")
        del self._stmts[name.lower()]

    def describe_input_rows(self, name: str) -> list[tuple[int, str]]:
        """(position, type) per parameter — 0-based positions
        (DescribeInput rewrite); parameter types are reported as
        'unknown' (the engine substitutes textually rather than running
        the reference's type analyzer — pinned simplification)."""
        stmt = self.get(name)
        return [(i, "unknown") for i in range(len(param_positions(stmt)))]
