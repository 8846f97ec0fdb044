"""The SQL lexer every text rewrite reads (presto_spark/sql_lex.py)."""

from __future__ import annotations

import re

from presto_spark import sql_lex
from presto_spark.sql_lex import Lexed


def _hidden(text: str) -> list[str]:
    return [text[a:b] for a, b in Lexed(text).hidden]


def test_hidden_tokens():
    text = ("SELECT 'it''s', \"a\"\"b\", `c``d`, 1 -- x's\n"
            ", 2 /* (, */ FROM t")
    assert _hidden(text) == ["'it''s'", '"a""b"', "`c``d`", "-- x's",
                             "/* (, */"]


def test_open_token_runs_to_end():
    assert _hidden("SELECT 'abc, f(") == ["'abc, f("]
    assert _hidden("SELECT 1 /* (") == ["/* ("]


def test_line_comment_ends_at_carriage_return():
    assert _hidden("SELECT 1 -- a\r, 2") == ["-- a"]


def test_brackets_and_top_level_commas():
    text = "f(a, g(b, c), x[1, 2], ')', d)"
    lx = Lexed(text)
    assert lx.close[1] == len(text) - 1
    assert lx.args(1) == ["a", " g(b, c)", " x[1, 2]", " ')'", " d"]
    assert lx.enclosing(text.index("b")) == text.index("g(") + 1
    assert lx.enclosing(0) == -1


def test_stray_close_is_ignored():
    lx = Lexed("(a ] b)")
    assert lx.close == {0: 6} and lx.args(0) == ["a ] b"]


def test_matches_start_in_code():
    text = "SELECT x, 'x' AS \"x\" -- x\nFROM (SELECT x)"
    lx = Lexed(text)
    xs = [m.start() for m in lx.matches(re.compile(r"\bx\b"))]
    assert xs == [7, text.rindex("x")]
    assert [m.start() for m in lx.matches(re.compile(r"\bx\b"),
                                          within=-1)] == [7]


def test_rewrite_calls_rewrites_inner_calls_first():
    name_re = re.compile(r"\b(f)\s*\(")
    assert sql_lex.rewrite_calls(
        "f(f(1)), 'f(2)'", name_re,
        lambda c: f"g[{c.args[0]}]") == "g[g[1]], 'f(2)'"
    # None keeps the call, spelled with its rewritten arguments
    assert sql_lex.rewrite_calls(
        "f(f(1), 2 )", name_re,
        lambda c: None if len(c.args) == 2 else "one") == "f(one, 2 )"
    # a builder's output is never scanned again
    assert sql_lex.rewrite_calls(
        "f(1)", name_re, lambda c: "f(f(2))") == "f(f(2))"


def test_code_end_skips_trailing_comments_only():
    text = "a, 'b' -- c\n  /* d */ "
    assert Lexed(text).code_end(0, len(text)) == text.index(" --")
