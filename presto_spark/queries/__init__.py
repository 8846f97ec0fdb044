"""Query registry — importing this package registers all query suites.

The registry is the single source of truth consumed by
``__spark_entry__.py`` (driver contract), ``tests/`` (differential
correctness), and ``bench.py`` (throughput).
"""

from presto_spark.queries.base import REGISTRY, Query

# Importing the suite modules populates REGISTRY via their module-level
# sql_query()/register() calls.
from presto_spark.queries import llm  # noqa: F401,E402
from presto_spark.queries import events_suite  # noqa: F401,E402
from presto_spark.queries import sketch_suite  # noqa: F401,E402
from presto_spark.queries import dml_suite  # noqa: F401,E402
from presto_spark.queries import presto_dialect_suite  # noqa: F401,E402
from presto_spark.queries import tpch  # noqa: F401,E402
from presto_spark.queries import relational  # noqa: F401,E402
from presto_spark.queries import functions_suite  # noqa: F401,E402
from presto_spark.queries import functions_suite2  # noqa: F401,E402
from presto_spark.queries import tpcds_suite  # noqa: F401,E402
from presto_spark.queries import geo_suite  # noqa: F401,E402
from presto_spark.queries import ml_suite  # noqa: F401,E402
from presto_spark.queries import corpus_suite  # noqa: F401,E402

# Driver-window rotation: the driver's correctness harness samples the
# first 50 registry entries each round, so registry ORDER decides which
# queries earn a hard CORRECTNESS row.
#
# STANDING RULES (VERDICT r9 next-round #3/#7):
#   * New queries MUST be swapped into the front in the same commit
#     that registers them (displace the stalest tail rows, never the
#     never-checked or red blocks), and COVERAGE.md's total must be
#     bumped or tests/test_registry_front.py fails.
#   * EDITED => RE-FRONT: any query whose Spark or oracle text changes
#     must re-enter the front in the SAME commit as the edit — a
#     fixed-but-unchecked row must never be reported green by
#     staleness.
#
# Round-16 front (optimization round 2; staleness-burn protocol +
# EDITED => RE-FRONT, continuing the r15 comment's queued debt order):
#   1. Fourteen edited => re-front rows (standing rule) — every
#      registry row that traverses code changed this round:
#      * the bottom-k size gate (operators/_bottomk.py, VERDICT r15
#        #3) feeds khll/theta/setdigest/reservoir:
#        sketch_khll_privacy_audit, sketch_theta_estimate_envelope
#        (also the exact-count NULL-group fix, ADVICE r15),
#        sketch_theta_exact_ops, sketch_setdigest_exact_ops,
#        sketch_setdigest_minhash_envelope,
#        agg_reservoir_sample_envelope,
#        agg_differential_entropy_histogram,
#        agg_reservoir_vasicek_entropy;
#      * the kmeans driver-local trainer + id-type/dup-id fixes
#        (llm/clustering.py, VERDICT r15 #6 + ADVICE r15):
#        llm_kmeans_semdedup, and llm_ann_ivf_topk whose optional
#        trained-centroid bank rides the same module (its rotation
#        was already queued from r15 as the post-refactor check).
#      * the lazy-vocab one-plan scoring form (llm/lm.py, r16
#        continuation): llm_lm_perplexity;
#      * the driver-local-table Arrow/LocalRelation route
#        (local_table.py + the geo golden VALUES inline, r16
#        continuation): llm_dedup_clusters, llm_bpe_train,
#        geo_aggregate_hulls.
#   2. The staleness burn, the debt order the r15 comment queued as
#      far as the window allows: the 4 deferred r8 rows
#      (q58/q59/q64/q66), then 32 of the 34-row r9 block.  The 14
#      edited re-fronts leave no room for the last 2 r9 rows
#      (tpcds_q35_or_exists_demographic_stats,
#      tpcds_q71_brand_time_bucket_breakdown — the equi-join +
#      demographic/group-report shapes most densely re-proven by the
#      r12-r15 fronts, so they carry the least drift risk of the
#      block, same deferral rationale as r15's r8 spill) or any r10
#      row; that remainder leads the r17 burn.
#   NO new rows: VERDICT r15 #10 — the four pre-built tiers
#   (dupspan, temperature mix, perceptual image/audio) wait for the
#   next build round to register.
# Lazy LSH builders (llm/dedup.py near_dedup_pairs/near_dedup_against
# return plans; no persist or eager checkpoint): EDITED => RE-FRONT
# brings in llm_lsh_near_dedup and llm_cross_near_dedup
# (llm_dedup_clusters and llm_bpe_train, whose gate constants also
# changed, are already in group 1).  They displace the last two r9
# burn rows, tpcds_q8_supplier_rich_nations and
# tpcds_q18_rollup_dimension_averages, which join the r17 burn queue
# after q35/q71 and ahead of the r10 block.
# On-demand shim registration (functions/registry.py register_functions
# runs per query text; prepare registers none): EDITED => RE-FRONT
# brings in the rows whose builders changed to hand their text to the
# registrar — geo_sql_measures_golden, llm_sql_spellings,
# corpus_product_golden, ml_learn_classify_golden (F.expr spellings) —
# and the _presto_sql rows that call shims, fn_datetime_format_suite,
# fn_jsonpath_suite, presto_dialect_try_and_generics and
# presto_dialect_scalar_breadth.  fn_color_bar_golden (the __hsb_*
# dependency closure) and ml_learn_classify_golden were already in the
# front.  They displace the last seven burn rows, tpcds_q90, q26, q76,
# q91, q22, q50 and q77, which join the r17 burn queue after q8/q18.
# tests/test_registry_front.py pins list(REGISTRY)[:50] == this list.
_DRIVER_FRONT = [
    # 1. edited => re-front (bottom-k gate, clustering, lazy LSH edits)
    "sketch_khll_privacy_audit",
    "sketch_theta_estimate_envelope",
    "sketch_theta_exact_ops",
    "sketch_setdigest_exact_ops",
    "sketch_setdigest_minhash_envelope",
    "agg_reservoir_sample_envelope",
    "agg_differential_entropy_histogram",
    "agg_reservoir_vasicek_entropy",
    "llm_kmeans_semdedup",
    "llm_ann_ivf_topk",
    "llm_lm_perplexity",
    "llm_dedup_clusters",
    "llm_lsh_near_dedup",
    "llm_cross_near_dedup",
    "llm_bpe_train",
    "geo_aggregate_hulls",
    # 1b. edited => re-front (on-demand shim registration)
    "geo_sql_measures_golden",
    "llm_sql_spellings",
    "corpus_product_golden",
    "ml_learn_classify_golden",
    "fn_datetime_format_suite",
    "fn_jsonpath_suite",
    "presto_dialect_try_and_generics",
    "presto_dialect_scalar_breadth",
    "fn_color_bar_golden",
    # 2a. the 4 deferred r8 rows
    "tpcds_q58_channel_parity_band",
    "tpcds_q59_weekday_pivot_yoy",
    "tpcds_q64_cross_year_repeat_purchases",
    "tpcds_q66_monthly_pivot_report",
    # 2b. 21 rows of the 34-row r9 block
    "tpcds_q4_triple_channel_growth",
    "tpcds_q9_bucket_case_subqueries",
    "tpcds_q10_disjunctive_exists",
    "tpcds_q13_disjunctive_band_join",
    "tpcds_q16_multi_supplier_no_returns",
    "tpcds_q28_bucket_aggregate_crossjoin",
    "tpcds_q62_ship_lag_buckets",
    "geo_multipolygon_golden",
    "sample_bernoulli_envelope",
    "lateral_top_orders_per_nation",
    "window_groups_frame_emulation",
    "analytics_market_basket",
    "tpcds_q38_triple_intersect_customers",
    "tpcds_q41_distinct_names_disjunctive_exists",
    "tpcds_q45_geo_or_item_subquery",
    "tpcds_q69_exists_not_exists_demographics",
    "tpcds_q93_sales_net_of_returns",
    "tpcds_q32_excess_discount",
    "tpcds_q37_parts_in_band_with_sales",
    "tpcds_q61_promo_revenue_ratio",
    "tpcds_q72_ship_delay_per_priority",
]


def _rotate(front: list[str]) -> None:
    missing = [n for n in front if n not in REGISTRY]
    if missing:
        raise KeyError(f"_DRIVER_FRONT names not in REGISTRY: {missing}")
    ordered = {n: REGISTRY[n] for n in front}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_rotate(_DRIVER_FRONT)

__all__ = ["REGISTRY", "Query"]
