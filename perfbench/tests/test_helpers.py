"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import oracle  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402


# --- seeded row order ------------------------------------------------------

def test_cold_pass_keeps_list_order():
    rows = WORKLOADS["relational"]
    assert pass_order(rows, 7, 0) == list(rows)


def test_warm_order_is_a_deterministic_permutation():
    rows = WORKLOADS["relational"]
    a = [pass_order(rows, 7, k) for k in range(1, 6)]
    assert a == [pass_order(rows, 7, k) for k in range(1, 6)]
    assert all(sorted(o) == sorted(rows) for o in a)
    assert len({tuple(o) for o in a}) > 1  # passes differ from one another
    assert a != [pass_order(rows, 8, k) for k in range(1, 6)]  # and by seed


# --- /proc process-tree CPU ------------------------------------------------

def _stat(proc, pid, comm, ppid, utime, stime, cutime, cstime, state="S", sid=None):
    d = proc / str(pid)
    d.mkdir()
    sid = ppid if sid is None else sid
    rest = [state, ppid, ppid, sid, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, rest)) + " 20 0\n")


def test_tree_cpu_sums_own_and_reaped_time_of_descendants_only(tmp_path):
    t = procfs.CLK_TCK
    _stat(tmp_path, 10, "python3", 1, 1 * t, 1 * t, 0, 0)
    _stat(tmp_path, 11, "java", 10, 5 * t, 2 * t, 0, 0)
    # A comm with spaces and parentheses must not shift the fields.
    _stat(tmp_path, 12, "py (daemon) x", 11, 0, 0, 3 * t, 1 * t)
    _stat(tmp_path, 13, "python3", 12, 2 * t, 0, 0, 0)
    _stat(tmp_path, 99, "other", 1, 50 * t, 0, 0, 0)  # not in the tree
    (tmp_path / "self").mkdir()  # non-numeric entries are ignored
    tree = procfs.tree_cpu(10, str(tmp_path))
    assert sorted(tree) == [10, 11, 12, 13]
    assert tree[11] == ("java", 7.0)
    assert tree[12] == ("py (daemon) x", 4.0)
    assert sum(cpu for _, cpu in tree.values()) == pytest.approx(2 + 7 + 4 + 2)


def test_session_pids_lists_live_members_of_one_session(tmp_path):
    _stat(tmp_path, 20, "python3", 1, 0, 0, 0, 0, sid=20)
    _stat(tmp_path, 21, "java", 20, 0, 0, 0, 0, sid=20)
    _stat(tmp_path, 22, "py (w) 7", 21, 0, 0, 0, 0, sid=20)
    _stat(tmp_path, 23, "python3", 21, 0, 0, 0, 0, state="Z", sid=20)  # zombie
    _stat(tmp_path, 24, "other", 1, 0, 0, 0, 0, sid=24)
    assert procfs.session_pids(20, str(tmp_path)) == [20, 21, 22]


def test_steal_pct_from_cpu_line(tmp_path):
    (tmp_path / "stat").write_text("cpu 100 0 50 800 10 0 0 40 7 0\ncpu0 1 2 3\n")
    before = procfs.cpu_times(str(tmp_path))
    assert before == (40, 1000)  # guest time is not added to the total
    assert procfs.steal_pct(before, (60, 1200)) == pytest.approx(10.0)
    assert procfs.steal_pct(before, before) == 0.0


# --- spans -----------------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": str(i)}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),   # overlaps child 1: 1..5 counted once
        _span(3, 0, 9.0, 12.0),  # runs past the parent: clipped to 9..10
        _span(4, 1, 1.5, 2.0),   # grandchild: only its parent's self time
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(2.0)
    assert own[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_shares_run_id():
    tr = Tracer("run-1", True)
    with tr.span("setup"):
        with tr.span("session.get_spark"):
            pass
    with tr.span("row", row="q"):
        pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [
        ("setup", None), ("session.get_spark", 0), ("row", None)]
    assert {s["run_id"] for s in tr.spans} == {"run-1"}
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = Tracer("run-2", False)
    with off.span("setup"):
        pass
    assert off.spans == []


# --- comparison verdicts ---------------------------------------------------

BASE = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]


def test_verdict_improved_needs_nine_in_ten_wins_and_gap_beyond_spread():
    faster = [x * 0.8 for x in BASE]
    assert compare.verdict(BASE, faster, "lower", 0.1)["verdict"] == "improved"
    # 8 of 10 wins is not enough, even with a large median gap.
    mixed = faster[:8] + [x * 1.05 for x in BASE[8:]]
    assert compare.verdict(BASE, mixed, "lower", 0.25)["verdict"] == "no worse"


def test_verdict_worse_and_no_worse_against_the_bound():
    assert compare.verdict(BASE, [x * 1.2 for x in BASE], "lower", 0.1)["verdict"] == "worse"
    assert compare.verdict(BASE, [x * 1.05 for x in BASE], "lower", 0.1)["verdict"] == "no worse"
    # "higher is better": a 20% drop is worse.
    assert compare.verdict(BASE, [x * 0.8 for x in BASE], "higher", 0.1)["verdict"] == "worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    v = compare.verdict(noisy, list(reversed(noisy)), "lower", 0.1)
    assert v["verdict"] == "unresolved"
    # ...unless every change run beats every base run.
    assert compare.verdict(noisy, [4.0] * 10, "lower", 0.1)["verdict"] == "improved"


def test_pair_uses_shared_seeds_only():
    a = {1: {"m": 1.0}, 2: {"m": 2.0}, 3: {"m": 3.0}}
    b = {2: {"m": 20.0}, 3: {"m": 30.0}, 4: {"m": 40.0}}
    assert compare.pair(a, b, "m") == ([2.0, 3.0], [20.0, 30.0])
    assert compare.pair(a, {9: {"m": 9.0}}, "m") == ([], [])


def test_ties_count_for_neither_side():
    v = compare.verdict(BASE, list(BASE), "lower", 0.1)
    assert v["win_share"] == 0.0 and v["verdict"] == "no worse"


# --- which passes the end-to-end metrics read -------------------------------

def _pass(no, wall, timed=True, traced=False):
    return {"pass": no, "timed": timed, "traced": traced, "wall_s": wall,
            "cpu": {"total": 2 * wall},
            "rows": [{"name": "a", "lat_s": wall / 2}, {"name": "b", "lat_s": wall / 2}]}


def test_end_to_end_skips_cold_warmup_and_traced_passes():
    out = {"setup_s": 20.0, "first_result_s": 25.0, "hwm_mb": {"driver": 100.0, "jvm": 900.0},
           "passes": [_pass(0, 12.0), _pass(1, 9.0, timed=False), _pass(2, 4.0),
                      _pass(3, 5.0, traced=True), _pass(4, 3.0), _pass(5, 6.0)]}
    m = run.end_to_end(out, attempted=12, failed=3)
    assert m["cold_pass_s"] == 12.0
    assert m["warm_pass_s"] == 4.0  # median of 4, 3 and 6
    assert m["cpu_s"] == 8.0
    assert m["query_geomean_s"] == pytest.approx(2.0)
    assert m["peak_rss_mb"] == 1000.0
    assert m["query_success_rate"] == 0.75


# --- oracle mismatch counting ----------------------------------------------

def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(r[i] for i in order) for r in rows)


def test_count_failures_counts_errors_and_each_kind_of_mismatch():
    want = {"a": (["x", "y"], [(1, 2), (3, 4)]), "b": None}
    ok = {"name": "a", "pass": 0, "error": None, "cols": ["Y", "X"], "rows": [(4, 3), (2, 1)]}
    results = [
        ok,
        dict(ok, **{"pass": 1, "rows": [(4, 3), (2, 9)]}),         # values differ
        dict(ok, **{"pass": 2, "rows": [(4, 3)]}),                 # row count
        dict(ok, **{"pass": 3, "cols": ["y", "z"]}),               # columns
        dict(ok, **{"pass": 4, "error": "Py4JError: boom", "rows": None}),
        {"name": "b", "pass": 0, "error": None, "cols": ["k"], "rows": [(1,)]},  # rows-only
        {"name": "b", "pass": 1, "error": "boom", "cols": None, "rows": None},
    ]
    attempted, bad = oracle.count_failures(results, want, _norm)
    assert attempted == 7
    assert [m.split(":")[0] for m in bad] == [
        "a pass 1", "a pass 2", "a pass 3", "a pass 4", "b pass 1"]
    assert "values differ" in bad[0] and "rowcount" in bad[1]
    assert "columns" in bad[2] and "error" in bad[3]
