"""Plan-shape regression tests — the scale-readiness gate.

Mirrors the reference's golden-plan tests
(presto-benchto-benchmarks/src/test/.../TestTpchCostBasedPlan.java:39):
instead of snapshotting full plan text we assert the *properties* that
matter at 100 TB — filters reach the parquet scan, scans read only
needed columns, small dims broadcast, rank-filters become group limits,
and hot paths stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_spark.queries import REGISTRY
from tests.conftest import SF_DIR


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_filter_pushed_to_scan(spark):
    df = REGISTRY["q01_pricing_summary"].spark(spark, SF_DIR)
    plan = _physical(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_column_pruning(spark):
    """Q1 touches 7 of 11 lineitem columns; the scan must not read the
    join keys it doesn't need (l_orderkey, l_partkey, l_suppkey)."""
    df = REGISTRY["q01_pricing_summary"].spark(spark, SF_DIR)
    plan = _physical(df)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert unused not in scan, f"scan reads unused column {unused}"


def test_q05_small_dims_broadcast(spark):
    """nation/region/supplier are tiny — the 6-way star join must not
    shuffle them (DetermineJoinDistributionType.java REPLICATED analog)."""
    df = REGISTRY["q05_local_supplier_volume"].spark(spark, SF_DIR)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    # At least nation+region side must broadcast; no cartesian anywhere.
    assert "CartesianProduct" not in plan


def test_q06_no_join_no_shuffle_before_agg(spark):
    """Q6 is scan→filter→global-agg: exactly one exchange (final agg)."""
    df = REGISTRY["q06_forecast_revenue"].spark(spark, SF_DIR)
    plan = _physical(df)
    assert plan.count("Exchange") <= 1


def test_window_top_n_uses_group_limit(spark):
    """rank<=n filter must push into the window sort
    (reference: WindowFilterPushDown.java:63 → Spark InferWindowGroupLimit)."""
    df = REGISTRY["window_top_n_per_group"].spark(spark, SF_DIR)
    assert "WindowGroupLimit" in _physical(df)


def test_q01_wholestage_codegen_covers_agg(spark):
    """The agg pipeline must be inside whole-stage codegen — a Python
    UDF in the hot path would break this.  AQE only materializes codegen
    stages in the final plan, so execute first."""
    df = REGISTRY["q01_pricing_summary"].spark(spark, SF_DIR)
    df.collect()
    plan = _physical(df)
    # "*(n)" prefixes mark whole-stage-codegen stages in the final plan.
    assert "*(" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_no_python_udf_in_any_tpch_plan(spark):
    """The whole TPC-H suite must stay JVM-side (SURVEY §7: UDFs are the
    slow path; every shim is a Column expression)."""
    for name, q in REGISTRY.items():
        if "tpch" not in q.tags:
            continue
        plan = _physical(q.spark(spark, SF_DIR))
        assert "EvalPython" not in plan, f"{name} fell off codegen into Python"


def test_exists_becomes_semi_join(spark):
    df = REGISTRY["q04_order_priority"].spark(spark, SF_DIR)
    assert "LeftSemi" in _optimized(df)


def test_not_exists_becomes_anti_join(spark):
    df = REGISTRY["q22_global_sales_opportunity"].spark(spark, SF_DIR)
    assert "LeftAnti" in _optimized(df)


def test_distinct_limit_fuses(spark):
    df = REGISTRY["distinct_limit"].spark(spark, SF_DIR)
    plan = _physical(df)
    # map-side partial distinct before the exchange, early-out limit after
    # (DistinctLimitOperator.java:288 analog: LocalLimit short-circuits).
    assert "HashAggregate" in plan and "LocalLimit" in plan


def test_scan_count_q14_reads_two_tables_once(spark):
    """Q14 (lineitem⋈part) must scan each table exactly once — no
    self-union double-scan from the CASE aggregation."""
    df = REGISTRY["q14_promo_effect"].spark(spark, SF_DIR)
    plan = _physical(df)
    assert plan.count("FileScan parquet") == 2


def test_histogram_table_two_level_no_raw_collect(spark):
    """The scalable histogram default must shuffle counted (group, value)
    rows, never collect raw values across the first exchange — the first
    aggregate below the exchange is a count, and collect_list appears
    only above it (operators/aggregates.py histogram_table)."""
    from presto_spark.operators.aggregates import histogram_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _physical(histogram_table(df, ["l_returnflag"], "l_linenumber"))
    first_exchange = plan.index("Exchange")
    below = plan[first_exchange:]
    # partial count below the first shuffle
    assert "partial_count" in below or "count" in below
    # no collect_list in the pre-shuffle (deepest) stage
    deepest = plan[plan.rindex("Exchange"):]
    assert "collect_list" not in deepest


def test_histogram_column_matches_table_spelling(spark):
    """Array-form histogram (sorted run-count) and two-level
    histogram_table agree value-for-value."""
    from presto_spark.operators.aggregates import histogram, histogram_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(2000)
    a = {
        r.g: dict(r.h)
        for r in df.groupBy(F.col("l_returnflag").alias("g"))
        .agg(histogram(F.col("l_linenumber")).alias("h")).collect()
    }
    b = {
        r.l_returnflag: dict(r.hist)
        for r in histogram_table(df, ["l_returnflag"], "l_linenumber").collect()
    }
    assert a == b and len(a) >= 2


def test_multimap_agg_matches_table_spelling(spark):
    from presto_spark.operators.aggregates import multimap_agg, multimap_table

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(500)
    a = {
        r.g: {k: sorted(v) for k, v in r.m.items()}
        for r in df.groupBy(F.col("o_orderpriority").alias("g"))
        .agg(multimap_agg(F.col("o_orderstatus"), F.col("o_orderkey")).alias("m"))
        .collect()
    }
    b = {
        r.o_orderpriority: {k: sorted(v) for k, v in r.mmap.items()}
        for r in multimap_table(
            df, ["o_orderpriority"], "o_orderstatus", "o_orderkey"
        ).collect()
    }
    assert a == b and len(a) >= 3


def test_embedding_near_dup_lsh_plan_no_corpus_broadcast(spark):
    """The default (LSH) embedding near-dup path must plan as an
    equi-join on (table, bucket) cells.  With broadcast suppressed the
    plan contains no BroadcastExchange and no NestedLoop/Cartesian —
    i.e. the corpus-sized broadcast of the exact tier does NOT survive
    into the scale path (llm/dedup.py embedding_near_dup_pairs)."""
    from presto_spark.llm import dedup

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = dedup.embedding_near_dup_pairs(df, threshold=0.4)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "BroadcastExchange" not in plan


def test_embedding_near_dup_lsh_subset_of_exact(spark):
    """Every LSH-path pair is a true above-threshold pair (the verifier
    is exact), and bucket ids stay within [0, 2^n_planes) for every
    plane_offset table (the offset shifts the plane family, not the bit
    positions)."""
    from pyspark.sql import functions as F

    from presto_spark.llm import dedup, similarity

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in dedup.embedding_near_dup_pairs(
        df, threshold=0.4, method="exact").collect()}
    approx = {(r.id_a, r.id_b) for r in dedup.embedding_near_dup_pairs(
        df, threshold=0.4, method="lsh").collect()}
    assert approx and approx <= exact
    v = df.select(F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    for off in (0, 4, 28):
        lo, hi = v.select(
            F.min(similarity.lsh_bucket(F.col("e"), 4, 64, plane_offset=off)),
            F.max(similarity.lsh_bucket(F.col("e"), 4, 64, plane_offset=off)),
        ).first()
        assert 0 <= lo <= hi <= 15, off


def test_asof_join_plan_no_nested_loop(spark):
    """The union-marker as-of join must plan as shuffle+window, never a
    range-predicate BroadcastNestedLoop/Cartesian (operators/asof.py)."""
    from presto_spark.queries import REGISTRY

    df = REGISTRY["event_asof_join_enrichment"].spark(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Window" in plan


def test_range_join_plan_no_nested_loop(spark):
    """The binned range join must plan as explode + equi hash join —
    the raw BETWEEN predicate would produce BroadcastNestedLoop
    (operators/range_join.py)."""
    from presto_spark.queries import REGISTRY

    df = REGISTRY["event_range_join_attribution"].spark(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_sketch_builds_two_level_bottom_k(spark):
    """VERDICT r6 #1: no sketch/sample build may contain a Window whose
    partition key is the bare group columns over unbounded rows — every
    per-group rank must be preceded by a per-(group, input-partition)
    rank + filter (operators/_bottomk.py), so no task sorts a whole
    group.  Checked structurally: each windowspecdefinition either
    includes the __bk_pid partition column or sits above the __bk_rk
    survivor filter produced by that first level."""
    from presto_spark.operators import khll, reservoir, setdigest, theta

    df = (
        spark.range(5000)
        .withColumn("g", (F.col("id") % 3).cast("int"))
        .withColumn("u", F.col("id") % 97)
    )
    builds = {
        "reservoir": reservoir.reservoir_sample(df, ["g"], "id", k=20),
        "theta": theta.sketch_theta(df, ["g"], "id", k=64),
        "setdigest": setdigest.make_set_digest(df, ["g"], "id", max_hashes=64),
        "khll": khll.khyperloglog_agg(df, ["g"], "id", "u", max_hashes=64),
        "theta_merge": theta.merge_theta_sketches(
            theta.sketch_theta(df, ["g"], "id", k=64).withColumn(
                "g2", F.lit(0)), ["g2"]),
    }
    for name, out in builds.items():
        lines = _optimized(out).splitlines()
        for i, ln in enumerate(lines):
            if "windowspecdefinition" not in ln:
                continue
            if "__bk_pid" in ln:
                continue  # the distributed per-partition level
            below = "\n".join(lines[i + 1:])
            assert "__bk_rk" in below, (
                f"{name}: bare per-group window over unbounded rows:\n{ln}"
            )


def test_geometry_union_agg_two_level(spark):
    """VERDICT r7 #5: geometry_union_agg must not collect a whole
    group's shells into one row — the shell collect_list must sit in
    an Aggregate grouped by (group, __pid) (level 1, map-side bounded
    state); only partial boundary rings may be collected per group
    (level 2, state priced in partition count, never row count)."""
    from presto_spark.functions import geo
    from presto_spark.operators import geo_agg

    df = (
        spark.createDataFrame(
            [(0, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
             (0, "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")],
            "g int, wkt string")
        .select("g", geo.st_geometry_from_text(F.col("wkt")).alias("geom"))
    )
    out = geo_agg.geometry_union_agg(df, ["g"], "geom")
    lines = _optimized(out).splitlines()
    saw_shell_collect = False
    for ln in lines:
        if "collect_list(__s" not in ln:
            continue
        saw_shell_collect = True
        assert "__pid" in ln, (
            f"shell collect_list not partition-scoped:\n{ln}")
    assert saw_shell_collect, "expected a level-1 shell collect_list"


def test_q69_one_semi_two_anti(spark):
    """q69 shape: EXISTS + 2x NOT EXISTS on the same correlation key
    must plan as one semi and two anti joins — never a subquery
    re-execution per row."""
    df = REGISTRY["tpcds_q69_exists_not_exists_demographics"].spark(
        spark, SF_DIR)
    plan = _optimized(df)
    assert plan.count("LeftSemi") == 1
    assert plan.count("LeftAnti") == 2


def test_q45_or_membership_is_existence_join(spark):
    """q45 shape: IN-subquery under OR cannot become a filtering semi
    join — it must surface as an ExistenceJoin producing a boolean
    column consumed by the disjunction."""
    df = REGISTRY["tpcds_q45_geo_or_item_subquery"].spark(spark, SF_DIR)
    assert "ExistenceJoin" in _optimized(df)


def test_q38_intersect_plans_as_semi_joins(spark):
    """q38 shape: the 3-way INTERSECT lowers to distinct + semi joins
    (set semantics), not a join-free union/aggregate."""
    df = REGISTRY["tpcds_q38_triple_intersect_customers"].spark(
        spark, SF_DIR)
    assert _optimized(df).count("LeftSemi") == 2


def _final_plan(df) -> str:
    """Execute ``df`` and return AQE's final physical plan — the plan
    in which exchange reuse (ReusedExchange) is visible."""
    df.collect()
    plan = _physical(df)
    return plan.split("== Initial Plan ==")[0]


def _cross_near_dedup(spark):
    from presto_spark.llm import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    return dedup.near_dedup_against(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0), threshold=0.5)


def test_cross_near_dedup_plan_no_corpus_broadcast(spark):
    """near_dedup_against (llm/dedup.py) must plan its candidate stage
    as an equi-join of the two banded signature tables on
    (band, bucket): with broadcast suppressed the plan contains no
    BroadcastExchange and no NestedLoop/Cartesian — neither corpus is
    ever broadcast or all-pairs joined (VERDICT r13 next-round #2).
    The public function returns a lazy plan, so both its pre-execution
    plan and AQE's final plan are the real pipeline."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = _cross_near_dedup(spark)
        plans = [_physical(out), _final_plan(out)]
    finally:
        spark.conf.set(key, prev)
    for plan in plans:
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        assert "BroadcastExchange" not in plan
        # the banded equi-join is really there: shuffle joins keyed on
        # band+bucket appear as SortMergeJoin/ShuffledHashJoin
        assert "Join" in plan
    # shuffle joins: each side's one shingle exchange also feeds the
    # verification join (reused, not re-shingled)
    assert plans[1].count("MapInPandas") == 2
    assert "ReusedExchange" in plans[1]


def test_cross_near_dedup_shingles_each_side_once(spark):
    """With broadcast joins allowed, each corpus is still shingled
    exactly once: the verification join's broadcast reads the reused
    shingle exchange instead of re-running the Arrow pass."""
    plan = _final_plan(_cross_near_dedup(spark))
    assert plan.count("MapInPandas") == 2
    assert plan.count("ReusedExchange") == 2


def test_near_dedup_pairs_shingles_corpus_once(spark):
    """near_dedup_pairs' three shingle-table consumers (signatures and
    both verification sides) share one exchange: one Arrow pass."""
    from presto_spark.llm import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    plan = _final_plan(dedup.near_dedup_pairs(docs, threshold=0.5))
    assert plan.count("MapInPandas") == 1
    assert "ReusedExchange" in plan


def test_perceptual_hash_pairs_plan_no_cartesian(spark):
    """image_near_dup_pairs (llm/multimodal.py) must plan its
    candidate stage as an equi-join on (band, key) — with broadcast
    suppressed there is no BroadcastExchange and no NestedLoop/
    Cartesian, and the binary payload column never appears in the
    post-decode plan (only (doc_id, 4 band ints) ride the shuffle)."""
    import pandas as pd

    from presto_spark.llm import multimodal

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [multimodal.synth_pgm_pair(int(d))
                            for d in pdf.doc_id],
            })

    docs = (spark.range(8).withColumnRenamed("id", "doc_id")
            .mapInPandas(synth, "doc_id long, payload binary"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = multimodal.image_near_dup_pairs(docs, max_hamming=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "BroadcastExchange" not in plan
    assert "Join" in plan
    # payload stays inside the decode stage: every exchange carries
    # the signature projection, never the binary column
    for frag in plan.split("Exchange")[1:]:
        assert "payload" not in frag.split("\n")[0]


def test_duplication_report_plan_no_cartesian(spark):
    """duplication_report (llm/dupspan.py): gram-count and coverage
    stages are equi-joins on gram_hash / doc id — no NestedLoop or
    Cartesian anywhere, even with broadcast suppressed."""
    from presto_spark.llm import dupspan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = dupspan.duplication_report(docs, k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
