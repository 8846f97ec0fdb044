"""Property tests for the round-12 dialect conformance macros.

Each macro is pinned against an independent Python oracle — the same
differential discipline as the DuckDB registry checks, but over
hypothesis-generated inputs so edge shapes (overlaps, empty strings,
boundary instances, unsorted bins) are explored rather than
enumerated.  Spark evaluation is batched: each property collects its
generated cases and runs ONE query over an inline DataFrame, keeping
runtime sane (the round-goal is coverage, not per-example jobs).
"""

from __future__ import annotations

import bisect
import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from presto_spark.functions.dialect import translate
from presto_spark.functions.registry import run_sql

# Spark-per-example hypothesis sweeps are the heavy tier (VERDICT r15
# next-round #1); the single-case parity pins stay in the default run.
pytestmark = pytest.mark.slow

SHORT = st.text(alphabet="ab", max_size=6)


def _run_batch(spark, rows, schema, expr):
    df = spark.createDataFrame(rows, schema)
    df.createOrReplaceTempView("conf_prop_t")
    out = run_sql(spark, translate(
        f"SELECT {expr} AS v FROM conf_prop_t ORDER BY rid"))
    return [r.v for r in out.collect()]


def _strpos_oracle(s: str, sub: str, inst: int) -> int:
    """StringFunctions.stringPositionFromStart reimplemented."""
    if not sub:
        return 1
    found, idx = 0, -1
    while found < inst:
        idx = s.find(sub, idx + 1)
        if idx < 0:
            return 0
        found += 1
    return idx + 1


def _strrpos_oracle(s: str, sub: str, inst: int) -> int:
    """stringPositionFromEnd: Nth occurrence counting from the end,
    position reported from the start."""
    if not sub:
        return 1
    starts = []
    idx = -1
    while True:
        idx = s.find(sub, idx + 1)
        if idx < 0:
            break
        starts.append(idx)
    if len(starts) < inst:
        return 0
    return starts[-inst] + 1


@given(st.lists(st.tuples(SHORT, st.text(alphabet="ab", min_size=0,
                                         max_size=3),
                          st.integers(1, 5)),
                min_size=1, max_size=30))
@settings(max_examples=15, deadline=None)
def test_strpos_instance_matches_reference_walk(spark, cases):
    rows = [(i, s, sub, n) for i, (s, sub, n) in enumerate(cases)]
    got = _run_batch(spark, rows, "rid int, s string, sub string, n int",
                     "strpos(s, sub, n)")
    want = [_strpos_oracle(s, sub, n) for _, s, sub, n in rows]
    assert got == want
    got_r = _run_batch(spark, rows, "rid int, s string, sub string, n int",
                       "strrpos(s, sub, n)")
    want_r = [_strrpos_oracle(s, sub, n) for _, s, sub, n in rows]
    assert got_r == want_r


@given(st.lists(st.tuples(st.lists(st.integers(0, 9), max_size=7),
                          st.integers(0, 5)),
                min_size=1, max_size=20))
@settings(max_examples=15, deadline=None)
def test_combinations_matches_itertools_in_colex_order(spark, cases):
    rows = [(i, arr, n) for i, (arr, n) in enumerate(cases)]
    got = _run_batch(spark, rows, "rid int, a array<int>, n int",
                     "combinations(a, n)")
    for (_, arr, n), v in zip(rows, got):
        if n > len(arr):
            assert v == []
            continue
        # colex order == itertools.combinations over indices sorted by
        # reversed index tuple
        idx_combos = sorted(
            itertools.combinations(range(len(arr)), n),
            key=lambda c: tuple(reversed(c)))
        want = [[arr[i] for i in c] for c in idx_combos]
        assert v == want, (arr, n)


@given(st.lists(st.tuples(st.floats(-1e6, 1e6),
                          st.lists(st.floats(-100, 100), min_size=1,
                                   max_size=6).map(sorted)),
                min_size=1, max_size=25))
@settings(max_examples=15, deadline=None)
def test_width_bucket_bins_matches_bisect(spark, cases):
    rows = [(i, x, bins) for i, (x, bins) in enumerate(cases)]
    got = _run_batch(spark, rows, "rid int, x double, bins array<double>",
                     "width_bucket(x, bins)")
    want = [bisect.bisect_right(bins, x) for _, x, bins in rows]
    assert got == want


@given(st.lists(st.tuples(st.integers(-2**63, 2**63 - 1),
                          st.integers(2, 64)),
                min_size=1, max_size=30))
@settings(max_examples=15, deadline=None)
def test_bit_count_two_arg_matches_reference(spark, cases):
    # keep only representable (num, bits) pairs — the raise arm is
    # vector-pinned in test_functions
    ok = []
    for num, bits in cases:
        if bits == 64:
            ok.append((num, bits))
        else:
            low = (1 << (bits - 1)) - 1
            if -low - 1 <= num <= low:
                ok.append((num, bits))
    if not ok:
        return
    rows = [(i, num, bits) for i, (num, bits) in enumerate(ok)]
    got = _run_batch(spark, rows, "rid int, num long, bits long",
                     "bit_count(num, bits)")
    want = [bin(num & ((1 << bits) - 1)).count("1") for _, num, bits in rows]
    assert got == want


def _classification_oracle(rows, b, metric, weighted):
    """PrecisionRecallAggregation.java bucket walk re-derived
    independently: two fixed histograms, running/remaining weights,
    emit while true weight remains."""
    tw, fw = [0.0] * b, [0.0] * b
    for (_, o, p, w) in rows:
        if o is None or p is None or w is None:
            continue
        wt = w if weighted else 1.0
        j = min(int(b * min(p, 0.99999999999)), b - 1)
        (tw if o else fw)[j] += wt
    tt, tf = sum(tw), sum(fw)
    rt = rf = 0.0
    out = []
    for j in range(b):
        if not tt - rt > 0:
            break
        out.append({
            "thresholds": j * 1.0 / b,
            "precision": (tt - rt) / ((tt - rt) + (tf - rf)),
            "recall": (tt - rt) / tt,
            "miss_rate": rt / tt,
            "fall_out": (tf - rf) / tf if tf > 0 else None,
        }[metric])
        rt += tw[j]
        rf += fw[j]
    return out


@settings(max_examples=12, deadline=None)
@given(st.lists(
    st.tuples(
        st.one_of(st.none(), st.booleans()),
        st.one_of(st.none(),
                  st.floats(min_value=0.0, max_value=1.0,
                            allow_nan=False)),
        st.floats(min_value=0.0, max_value=4.0, allow_nan=False),
    ),
    min_size=1, max_size=40,
), st.integers(min_value=2, max_value=9))
def test_classification_spellings_match_bucket_walk(spark, cases, b):
    """classification_* spellings vs an independent re-derivation of
    the reference's two-histogram bucket walk, arbitrary NULL mixes,
    weights, and bucket counts.  One Spark job per example set; float
    compares at 1e-9 (sums of hypothesis floats are order-sensitive
    at the last ulp)."""
    rows = [(i, o, p, w) for i, (o, p, w) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "rid int, o boolean, p double, w double")
    df.createOrReplaceTempView("cls_prop_t")
    got = spark.sql(translate(
        "SELECT classification_thresholds({b}, o, p) AS thr, "
        "classification_precision({b}, o, p, w) AS prec, "
        "classification_recall({b}, o, p) AS rec, "
        "classification_miss_rate({b}, o, p, w) AS miss, "
        "classification_fall_out({b}, o, p) AS fall "
        "FROM cls_prop_t".format(b=b))).collect()[0]

    def close(a, e):
        assert len(a) == len(e)
        for x, y in zip(a, e):
            if y is None:
                assert x is None
            else:
                assert abs(x - y) < 1e-9, (x, y)

    close(list(got.thr),
          _classification_oracle(rows, b, "thresholds", False))
    close(list(got.prec),
          _classification_oracle(rows, b, "precision", True))
    close(list(got.rec), _classification_oracle(rows, b, "recall", False))
    close(list(got.miss),
          _classification_oracle(rows, b, "miss_rate", True))
    close(list(got.fall),
          _classification_oracle(rows, b, "fall_out", False))
