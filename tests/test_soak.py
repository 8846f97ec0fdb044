"""Long-session soak: the heaviest registry queries run twice in ONE
session and must leave no persisted/checkpointed state behind, and must
not get slower on the second pass.

Locks in the lifecycle of the iterative operators (the k-means
trainer; dedup_clusters and train_bpe, which collect a bounded input
to the driver and loop there) and of the lazy LSH near-dedup plans,
none of which should pin anything: a regression that leaks
strongly-pinned blocks would show up here as RDDs that survive
explicit release, the exact failure mode that poisoned the r2 bench
session (DataFrame.unpersist cannot drop local-checkpoint blocks).

Protocol: after each query, any NEW persistent blocks (caller-owned
checkpoints such as operators/geo_agg.py's keyed frame) are released
explicitly via the SparkContext registry — the same cleanup bench.py's
_isolate performs, and what a long-lived production session does when
it drops a result.  This keeps the assertion deterministic: GC-based
reclamation also works, but its latency depends on py4j handle-release
timing, which can stall arbitrarily when Structured Streaming
machinery shares the session — not a property worth gating CI on.
"""

from __future__ import annotations

import time

import pytest

from presto_spark.queries import REGISTRY
from tests.conftest import SF_DIR

# Soak is the heavy tier by definition (VERDICT r15 next-round #1):
# the heaviest queries run twice in one session.
pytestmark = pytest.mark.slow

# The heaviest bench-tagged queries by BENCH_r03 wall time — the set
# whose lifecycle behavior matters in a long-lived session (iterative
# checkpointing, LSH shingle exchanges, applyInPandas sketch tiers,
# recursive CTEs, big self-joins).
_HEAVY = [
    "llm_dedup_clusters",
    "llm_lsh_near_dedup",
    # round-14: cross-corpus near-dedup — two shingle tables, each
    # behind one reused exchange; nothing may stay pinned
    "llm_cross_near_dedup",
    "analytics_market_basket",
    "analytics_yoy_growth",
    "sketch_quantile_mergeable_rollup",
    "recursive_date_spine",
    "recursive_tree_rollup",
    "llm_vocabulary",
    "llm_chunk_documents",
    "event_tumbling_window",
    # round-6 heavy tiers: theta build (distinct+rank windows +
    # pairwise set algebra), two-level pandas hull, classification
    # spine+window, reservoir windows — none may pin blocks or slow
    # down across reruns.
    "sketch_theta_exact_ops",
    "geo_aggregate_hulls",
    "agg_classification_curves",
    "agg_reservoir_sample_envelope",
    # round-7 heavy tiers: SFM build + randomized merge (bitmap-sized
    # HOF expressions), the convex overlay trio and the n-ary union
    # stitch (deep nested-lambda trees — the codegen-cost class), and
    # the RDP Arrow tier.
    "sketch_sfm_exact_ops",
    "geo_overlay_polygon_golden",
    "geo_union_agg_golden",
    "geo_simplify_flatten_golden",
    # round-15 heavy tiers: the iterative k-means trainer + SemDeDup
    # pair join (now the suite's heaviest row), and BPE training,
    # whose vocabulary collect and driver-side merge loop must leave
    # no blocks behind across reruns.
    "llm_kmeans_semdedup",
    "llm_bpe_train",
]


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _release(spark, ids) -> list:
    """Explicitly unpersist blocks by id; returns ids that REFUSED to
    release (the true leak signal)."""
    live = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        if i in live:
            live[i].unpersist()
    time.sleep(0.2)
    still = _persistent_ids(spark)
    return [i for i in ids if i in still]


def _run_pass(spark, baseline: set) -> tuple[float, list]:
    stuck: list = []
    t0 = time.time()
    for name in _HEAVY:
        REGISTRY[name].spark(spark, SF_DIR).collect()
        new = _persistent_ids(spark) - baseline
        stuck += [(name, i) for i in _release(spark, new)]
    return time.time() - t0, stuck


def test_soak_no_leaks_and_steady_timing(spark):
    for name in _HEAVY:
        assert name in REGISTRY, name
    # baseline: blocks other tests in the shared session hold (e.g.
    # streaming memory sinks) — out of scope here.
    baseline = _persistent_ids(spark)
    # Pass 1 warms codegen/JIT/footers; pass 2 is the steady-state probe.
    t1, stuck = _run_pass(spark, baseline)
    assert not stuck, f"blocks refused release after pass 1: {stuck}"
    assert not (_persistent_ids(spark) - baseline)
    t2, stuck = _run_pass(spark, baseline)
    assert not stuck, f"blocks refused release after pass 2: {stuck}"
    assert not (_persistent_ids(spark) - baseline)
    # Steady-state bound: pass 2 must not degrade. 1.3x + 3s absorbs
    # scheduler jitter on sub-second queries at test SF while still
    # catching a leak-driven slowdown (r2's was >5x).  A violation
    # must SURVIVE a confirming pass (bench.py _confirm_flags
    # philosophy, added r14 after a one-off GC/JIT spike failed the
    # bound at the tail of a 65-minute full-suite session while two
    # standalone runs passed): a real leak slows every subsequent
    # pass, a compilation/GC spike hits one.
    bound = 1.3 * t1 + 3.0
    if t2 > bound:
        t3, stuck = _run_pass(spark, baseline)
        assert not stuck, f"blocks refused release after pass 3: {stuck}"
        assert min(t2, t3) <= bound, (
            f"pass2 {t2:.1f}s AND pass3 {t3:.1f}s vs pass1 {t1:.1f}s "
            f"(bound {bound:.1f}s) — degradation persists, not a spike")
