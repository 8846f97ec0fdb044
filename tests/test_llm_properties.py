"""Property tests for the round-14 LLM additions — each operator
pinned against an independent Python oracle over hypothesis-generated
inputs (same discipline as tests/test_conformance_properties.py:
edge shapes explored, not enumerated; Spark evaluation batched into
one job per example)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import pytest

# Spark-per-example hypothesis sweeps are the heavy tier (VERDICT r15
# next-round #1); tests/test_llm.py keeps the deterministic pins.
pytestmark = pytest.mark.slow

MOD, BASE = 1_000_000_007, 31

WORDS = st.lists(st.text(alphabet="abc", min_size=1, max_size=3),
                 min_size=1, max_size=12)


def _py_tokens(s: str) -> list[str]:
    return s.strip().lower().split()


def _py_poly(s: str) -> int:
    acc = 0
    for c in s:
        acc = (acc * BASE + ord(c)) % MOD
    return acc


def _py_shingles(s: str, n: int = 3) -> set[int]:
    th = [_py_poly(t) for t in _py_tokens(s)]

    def comb(arr):
        acc = 0
        for h in arr:
            acc = (acc * BASE + h) % MOD
        return acc

    if len(th) < n:
        return {comb(th)}
    return {comb(th[i:i + n]) for i in range(len(th) - n + 1)}


# ---------------------------------------------------------------------------
# pack_sequences invariants
# ---------------------------------------------------------------------------

@given(st.lists(st.tuples(st.sampled_from(["g1", "g2"]),
                          st.integers(0, 23)),
                min_size=1, max_size=20),
       st.integers(1, 9))
@settings(max_examples=15, deadline=None)
def test_pack_sequences_invariants(spark, docs, context_len):
    """For arbitrary per-doc token counts and context lengths: each
    doc's segments partition [0, n_tokens) in order; per group, every
    sequence except the last is exactly full; offsets stay inside the
    sequence; boundary flags mark exactly the first/last segment."""
    from presto_spark.llm import mix

    rows = [(i, g, n) for i, (g, n) in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id int, source string, n_tokens_in int")
    out = mix.pack_sequences(
        df, context_len=context_len, token_count_col="n_tokens_in"
    ).collect()

    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    n_by_id = {i: n for i, (_, n) in enumerate(docs)}
    for i, n in n_by_id.items():
        segs = sorted(by_doc.get(i, []), key=lambda r: r.seq_id)
        if n == 0:
            assert segs == []  # zero-token docs emit nothing
            continue
        assert sum(r.seg_tokens for r in segs) == n
        assert segs[0].seg_start == 0 and segs[0].is_doc_start
        assert segs[-1].is_doc_end
        pos = 0
        for j, r in enumerate(segs):
            assert r.seg_start == pos
            assert 0 <= r.seq_offset < context_len
            assert 1 <= r.seg_tokens <= context_len
            assert r.is_doc_start == (j == 0)
            assert r.is_doc_end == (j == len(segs) - 1)
            if j > 0:  # spilled continuation opens the next sequence
                assert r.seq_id == segs[j - 1].seq_id + 1
                assert r.seq_offset == 0
            pos += r.seg_tokens
    per_seq: dict[tuple, int] = {}
    for r in out:
        key = (r.source, r.seq_id)
        per_seq[key] = per_seq.get(key, 0) + r.seg_tokens
    for g in {r.source for r in out}:
        seqs = {s for (gg, s) in per_seq if gg == g}
        last = max(seqs)
        assert seqs == set(range(last + 1))  # no gaps
        for s in seqs:
            if s != last:
                assert per_seq[(g, s)] == context_len
            else:
                assert 1 <= per_seq[(g, s)] <= context_len


# ---------------------------------------------------------------------------
# SQL-spelling parity beyond sampled corpus text
# ---------------------------------------------------------------------------

TEXTY = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=60)


@given(st.lists(TEXTY, min_size=1, max_size=12))
@settings(max_examples=15, deadline=None)
def test_sql_spellings_match_column_tier_on_arbitrary_ascii(spark, texts):
    """functions/llm_sql.py bodies vs the Column builders over
    hypothesis ASCII (quotes, backslashes, angle brackets, entity
    fragments): any lexer-escape or transliteration drift shows here
    before it could show on corpus text."""
    from presto_spark.functions.llm_sql import llm_sql_udfs
    from presto_spark.functions.registry import register_functions
    from presto_spark.llm import dedup, text

    register_functions(spark, *(f"{name}()" for name in llm_sql_udfs()))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "rid int, t string")
    got = df.select(
        "rid",
        F.expr("poly_hash(t)").alias("sp"),
        F.expr("simhash16(t)").alias("ss"),
        F.expr("quality_score(t)").alias("sq"),
        F.expr("html_to_text(t)").alias("sh"),
        text.poly_hash(F.col("t")).alias("cp"),
        dedup.simhash16(F.col("t")).alias("cs"),
        text.html_to_text(F.col("t")).alias("ch"),
    ).collect()
    cq = {r.rid: r.quality for r in text.quality_score(
        df, text_col="t").collect()}
    for r in got:
        assert r.sp == r.cp
        assert r.ss == r.cs
        assert r.sh == r.ch
        assert r.sq == cq[r.rid]
    # python replay of the poly fold (ASCII ⇒ ascii()==ord())
    for r, t in zip(sorted(got, key=lambda r: r.rid), texts):
        assert r.cp == _py_poly(t)


# ---------------------------------------------------------------------------
# near_dedup_against vs a brute-force Python oracle
# ---------------------------------------------------------------------------

@given(st.lists(st.builds(" ".join, WORDS), min_size=1, max_size=6),
       st.lists(st.builds(" ".join, WORDS), min_size=1, max_size=6))
@settings(max_examples=10, deadline=None)
def test_near_dedup_against_subset_and_exact_recall(spark, new_texts,
                                                    ref_texts):
    """Every reported cross pair carries the EXACT shingle Jaccard
    (Python-replayed) and is above threshold; every exact-duplicate
    cross pair (identical text ⇒ identical signature ⇒ co-banded in
    every band) is reported at jaccard 1.0."""
    from presto_spark.llm import dedup

    new_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(new_texts)],
        "doc_id int, text string")
    ref_df = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(ref_texts)],
        "doc_id int, text string")
    got = {(r.new_id, r.ref_id): r.jaccard
           for r in dedup.near_dedup_against(
               new_df, ref_df, threshold=0.5).collect()}
    sh_new = {i: _py_shingles(t) for i, t in enumerate(new_texts)}
    sh_ref = {100 + i: _py_shingles(t)
              for i, t in enumerate(ref_texts)}
    for (a, b), j in got.items():
        inter = len(sh_new[a] & sh_ref[b])
        union = len(sh_new[a]) + len(sh_ref[b]) - inter
        assert j == round(inter / union, 6)
        assert j >= 0.5
    for i, t in enumerate(new_texts):
        for k, u in enumerate(ref_texts):
            if _py_tokens(t) == _py_tokens(u):
                assert got.get((i, 100 + k)) == 1.0
