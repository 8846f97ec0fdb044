"""Result checking against the registry's DuckDB oracles.

Uses the comparison of ``tools/diffcheck.py`` (same column names,
same row count, equal ``normalize``d values).  It runs in the
benchmark's parent process after the engine process has exited, so no
DuckDB work overlaps a timed window.
"""

from __future__ import annotations

import os
import sys


def load_diffcheck(root: str):
    """The checkout's ``tools/diffcheck.py`` module."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import diffcheck

    return diffcheck


def expected(root: str, sf_dir: str, names) -> dict[str, tuple | None]:
    """Oracle answer per row, as ``(sorted column names, normalized
    rows)``; ``None`` for a row without an oracle (rows-only check)."""
    dc = load_diffcheck(root)
    con = dc.duck_connect(sf_dir)
    try:
        out: dict[str, tuple | None] = {}
        for name in names:
            sql = dc.REGISTRY[name].oracle
            if sql is None:
                out[name] = None
                continue
            res = con.execute(sql)
            cols = [d[0].lower() for d in res.description]
            out[name] = (sorted(cols), dc.normalize(res.fetchall(), cols))
        return out
    finally:
        con.close()


def mismatch(result: dict, want: tuple | None, normalize) -> str | None:
    """Why one engine result is wrong, or ``None`` when it is right."""
    if result.get("error"):
        return f"error: {result['error']}"
    if want is None:
        return None
    cols = [c.lower() for c in result["cols"]]
    if sorted(cols) != want[0]:
        return f"columns {sorted(cols)} != {want[0]}"
    if len(result["rows"]) != len(want[1]):
        return f"rowcount {len(result['rows'])} != {len(want[1])}"
    if normalize(result["rows"], cols) != want[1]:
        return "values differ"
    return None


def count_failures(results: list[dict], want: dict, normalize) -> tuple[int, list[str]]:
    """(results attempted, one message per failed result)."""
    bad = []
    for r in results:
        why = mismatch(r, want.get(r["name"]), normalize)
        if why:
            bad.append(f"{r['name']} pass {r['pass']}: {why}")
    return len(results), bad
