"""The lexical structure of a SQL text, worked out in one pass.

This module is the one home of the lexical rules.  The dialect passes
(functions/dialect.py), the prepared-statement protocol (prepared.py)
and the shim scanner (functions/registry.py) all ask it which text is
code, where a bracket closes and where an argument list splits; none
of them scans quotes, comments or nesting by hand.

Presto tokenizes a statement once with one grammar (presto-parser
SqlBase.g4); the rules here follow its lexer.  Every character is code
or part of one hidden token:

* a string literal ``'...'``, where ``''`` is an escaped quote;
* a quoted identifier ``"..."`` (``""`` escapes) or a backtick
  identifier (Spark's spelling, doubled backtick escapes);
* a comment: ``--`` to the end of the line, or ``/* ... */``.

A token left open runs to the end of the text.  For every ``(`` and
``[`` in code the pass records the matching close and the commas at
its top level; a close that matches no open bracket is ignored.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from collections.abc import Callable, Iterator
from typing import NamedTuple

_TOKEN_RE = re.compile(
    r"'[^']*(?:''[^']*)*'?"
    r'|"[^"]*(?:""[^"]*)*"?'
    r"|`[^`]*(?:``[^`]*)*`?"
    r"|--[^\r\n]*"
    r"|/\*.*?(?:\*/|\Z)"
    r"|[()\[\],]",
    re.DOTALL,
)
_PAIR = {")": "(", "]": "["}


class Call(NamedTuple):
    """One call site ``name(...)`` in code: the name match (ending in
    the open parenthesis), the index of the close and the arguments
    split at top-level commas (surrounding space kept)."""

    match: re.Match
    close: int
    args: list[str]

    @property
    def text(self) -> str:
        """The whole call, spelled with ``args``."""
        return self.match.group(0) + ",".join(self.args) + ")"


class Lexed:
    """``text`` classified: hidden tokens, bracket pairs and commas."""

    def __init__(self, text: str):
        self.text = text
        self.hidden: list[tuple[int, int]] = []  # [start, end) in order
        self.close: dict[int, int] = {}  # open bracket -> its close
        self.opener: dict[int, int] = {}  # close bracket -> its open
        # top-level commas by enclosing open bracket (-1: outside all)
        self.commas: dict[int, list[int]] = {-1: []}
        # the innermost open bracket (-1: none) from each offset on
        self._at: list[int] = [0]
        self._top: list[int] = [-1]
        stack: list[int] = []
        for m in _TOKEN_RE.finditer(text):
            i = m.start()
            c = text[i]
            if c in ",([)]":
                if c == ",":
                    self.commas[stack[-1] if stack else -1].append(i)
                    continue
                if c in "([":
                    stack.append(i)
                    self.commas[i] = []
                    self._at.append(i + 1)
                elif stack and text[stack[-1]] == _PAIR[c]:
                    o = stack.pop()
                    self.close[o], self.opener[i] = i, o
                    self._at.append(i)
                else:
                    continue
                self._top.append(stack[-1] if stack else -1)
            else:
                self.hidden.append(m.span())
        self._starts = [s for s, _ in self.hidden]

    def span_at(self, i: int) -> tuple[int, int] | None:
        """The hidden token covering offset ``i``, or None in code."""
        k = bisect_right(self._starts, i) - 1
        if k >= 0 and i < self.hidden[k][1]:
            return self.hidden[k]
        return None

    def enclosing(self, i: int) -> int:
        """Offset of the innermost open bracket around ``i``, or -1."""
        return self._top[bisect_right(self._at, i) - 1]

    def args(self, open_: int) -> list[str]:
        """The text inside the bracket at ``open_`` (-1: the whole
        text), split at its top-level commas."""
        end = len(self.text) if open_ < 0 else self.close[open_]
        bounds = [open_, *self.commas[open_], end]
        return [self.text[a + 1:b] for a, b in zip(bounds, bounds[1:])]

    def code_end(self, lo: int, hi: int) -> int:
        """End of the last code character in ``[lo, hi)``: trailing
        whitespace and comments are not code."""
        j = hi
        while j > lo:
            if self.text[j - 1].isspace():
                j -= 1
                continue
            span = self.span_at(j - 1)
            if span is None or self.text[span[0]] not in "-/":
                break  # code, or a literal or quoted identifier
            j = max(span[0], lo)
        return j

    def matches(self, pat: re.Pattern, start: int = 0,
                end: int | None = None,
                within: int | None = None) -> Iterator[re.Match]:
        """Matches of ``pat`` in ``text[start:end]`` that start in code;
        with ``within``, only those directly inside the bracket at that
        offset (-1: outside every bracket)."""
        end = len(self.text) if end is None else end
        pos = start
        while (m := pat.search(self.text, pos, end)) is not None:
            span = self.span_at(m.start())
            if span is not None:
                pos = span[1]
                continue
            if within is None or self.enclosing(m.start()) == within:
                yield m
            pos = max(m.end(), m.start() + 1)

    def calls(self, name_re: re.Pattern) -> Iterator[Call]:
        """Call sites whose ``name(`` matches ``name_re`` (a pattern
        ending in the open parenthesis), in text order, nested calls
        included; a call with no close is skipped."""
        for m in self.matches(name_re):
            o = m.end() - 1
            if o in self.close:
                yield Call(m, self.close[o], self.args(o))


def splice(text: str, edits: list[tuple[int, int, str]]) -> str:
    """Apply ``(start, end, replacement)`` edits, sorted and disjoint."""
    out, pos = [], 0
    for a, b, repl in edits:
        out += (text[pos:a], repl)
        pos = b
    out.append(text[pos:])
    return "".join(out)


def sub(pat: re.Pattern, repl: str | Callable[[re.Match], str],
        text: str) -> str:
    """``pat.sub(repl, text)`` restricted to matches that start in code."""
    return splice(text, [
        (m.start(), m.end(), repl(m) if callable(repl) else m.expand(repl))
        for m in Lexed(text).matches(pat)])


def rewrite_calls(text: str, name_re: re.Pattern,
                  build: Callable[[Call], str | None]) -> str:
    """Replace each call site of ``name_re`` with ``build(call)``, inner
    calls first: ``call.args`` are the arguments with the calls nested
    in them already rewritten.  A None keeps the call, spelled with
    those arguments.  What ``build`` returns is never scanned again."""
    lx = Lexed(text)
    sites = [(m, lx.close[m.end() - 1]) for m in lx.matches(name_re)
             if m.end() - 1 in lx.close]
    k = 0

    def walk(lo: int, hi: int) -> str:
        # text[lo:hi] with every call site in it rewritten; the sites
        # are in text order and nest like their brackets
        nonlocal k
        out, pos = [], lo
        while k < len(sites) and sites[k][0].start() < hi:
            m, close = sites[k]
            k += 1
            bounds = [m.end() - 1, *lx.commas[m.end() - 1], close]
            call = Call(m, close, [walk(a + 1, b)
                                   for a, b in zip(bounds, bounds[1:])])
            repl = build(call)
            out += (text[pos:m.start()], call.text if repl is None else repl)
            pos = close + 1
        out.append(text[pos:hi])
        return "".join(out)

    return walk(0, len(text))
