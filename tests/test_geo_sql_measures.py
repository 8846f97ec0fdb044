"""Bit-parity gate: SQL measure tier == Column measure tier.

functions/geo_sql_measures.py carries hand-transliterated SQL twins of
the Column folds in functions/geo.py and functions/geo_spherical.py
(Spark cannot serialize a Column back to re-parseable SQL).  These
tests pin the two tiers EXACTLY EQUAL over a vector sweep — identical
operation order means identical IEEE results, so any edit to one tier
without the other fails here, which is what makes the duplicated
formula text maintainable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from presto_spark.functions import geo as G
from presto_spark.functions import geo_spherical as GS
from presto_spark.functions.geo import st_geometry_from_text
from presto_spark.functions.geo_sql_measures import sql_measure_udfs
from presto_spark.functions.registry import register_functions, run_sql

# Sweep: every kind, degenerate shapes, CW/CCW rings, holes,
# antimeridian-adjacent and polar coordinates.
WKTS = [
    "POINT (0 0)",
    "POINT (-179.5 89.5)",
    "POINT (13.37 -45.001)",
    "MULTIPOINT (0 0, 2 0)",
    "MULTIPOINT (10 10, -10 -10, 30 5, 7 -3)",
    "LINESTRING (0 0, 3 4)",
    "LINESTRING (0 0, 0 1, 1 1, 1 0)",
    "LINESTRING (-179 0, 179 0)",
    "MULTILINESTRING ((0 0, 1 0), (0 1, 1 1, 1 2))",
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
    "POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))",  # CW shell
    "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
    "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
    "MULTIPOLYGON (((0 0, 8 0, 8 8, 0 8, 0 0), "
    "(2 2, 2 4, 4 4, 4 2, 2 2)), ((10 10, 12 10, 12 12, 10 12, 10 10)))",
]

# A ring around the north pole: exercises the |courseDelta| < pi/4
# correction branch of the spherical-excess fold.
POLAR_WKT = ("POLYGON ((0 85, 90 85, 180 85, -90 85, 0 85))")

SPH_AREA_KINDS = ("POLYGON", "MULTIPOLYGON")
SPH_LEN_KINDS = ("LINESTRING", "MULTILINESTRING")


@pytest.fixture(scope="module")
def geo_df(spark):
    register_functions(spark, *(f"{name}()" for name in sql_measure_udfs()))
    wkts = WKTS + [POLAR_WKT]
    df = spark.createDataFrame([(w,) for w in wkts], "wkt string")
    return df.withColumn("g", st_geometry_from_text(F.col("wkt"))).cache()


def _pairs(rows, a, b):
    return [(r["wkt"], r[a], r[b]) for r in rows]


def test_planar_area_length_parity(geo_df):
    rows = geo_df.select(
        "wkt",
        G.st_area(F.col("g")).alias("col_area"),
        F.expr("st_area(g)").alias("sql_area"),
        G.st_length(F.col("g")).alias("col_len"),
        F.expr("st_length(g)").alias("sql_len"),
    ).collect()
    for w, c, s in _pairs(rows, "col_area", "sql_area"):
        assert c == s, f"st_area drift on {w}: column={c!r} sql={s!r}"
    for w, c, s in _pairs(rows, "col_len", "sql_len"):
        assert c == s, f"st_length drift on {w}: column={c!r} sql={s!r}"


def test_planar_centroid_parity(geo_df):
    rows = geo_df.filter(
        ~F.col("g")["kind"].isin("MULTILINESTRING")  # Column tier: poly arm
    ).select(
        "wkt",
        G.st_centroid(F.col("g")).alias("col_c"),
        F.expr("st_centroid(g)").alias("sql_c"),
    ).collect()
    for r in rows:
        cc, sc = r["col_c"], r["sql_c"]
        assert (cc["rings"][0][0]["x"], cc["rings"][0][0]["y"]) == (
            sc["rings"][0][0]["x"], sc["rings"][0][0]["y"]
        ), f"st_centroid drift on {r['wkt']}"
        assert sc["kind"] == "POINT"


def test_planar_distance_parity(geo_df):
    # all pairs, including intersecting/contained (distance 0 arm)
    a = geo_df.select(
        F.col("wkt").alias("wa"), F.col("g").alias("ga"))
    b = geo_df.select(
        F.col("wkt").alias("wb"), F.col("g").alias("gb"))
    rows = a.crossJoin(b).select(
        "wa", "wb",
        G.st_distance(F.col("ga"), F.col("gb")).alias("col_d"),
        F.expr("st_distance(ga, gb)").alias("sql_d"),
    ).collect()
    assert len(rows) == (len(WKTS) + 1) ** 2
    for r in rows:
        assert r["col_d"] == r["sql_d"], (
            f"st_distance drift on ({r['wa']}, {r['wb']}): "
            f"column={r['col_d']!r} sql={r['sql_d']!r}")


def test_spherical_parity(geo_df):
    # both tiers RAISE on kind mismatches, and a raising SQL UDF cannot
    # be CASE-guarded (inlining projects the body below the CASE —
    # geo_sql_measures.py module note), so each measure runs on a
    # kind-FILTERED frame
    k = F.col("g")["kind"]
    checked = 0
    area_rows = geo_df.filter(k.isin(*SPH_AREA_KINDS)).select(
        "wkt",
        GS.st_area_sphere(F.col("g")).alias("c"),
        F.expr("st_area(to_spherical_geography(g))").alias("s"),
    ).collect()
    for r in area_rows:
        checked += 1
        assert r["c"] == r["s"], (
            f"spherical st_area drift on {r['wkt']}: "
            f"column={r['c']!r} sql={r['s']!r}")
    len_rows = geo_df.filter(k.isin(*SPH_LEN_KINDS)).select(
        "wkt",
        GS.st_length_sphere(F.col("g")).alias("c"),
        F.expr("st_length(to_spherical_geography(g))").alias("s"),
    ).collect()
    for r in len_rows:
        checked += 1
        assert r["c"] == r["s"], f"spherical st_length drift on {r['wkt']}"
    cen_rows = geo_df.filter(k.isin("POINT", "MULTIPOINT")).select(
        "wkt",
        GS.st_centroid_sphere(F.col("g")).alias("c"),
        F.expr("to_geometry(st_centroid(to_spherical_geography(g)))"
               ).alias("s"),
    ).collect()
    for r in cen_rows:
        checked += 1
        cc, sc = r["c"], r["s"]
        assert (cc["rings"][0][0]["x"], cc["rings"][0][0]["y"]) == (
            sc["rings"][0][0]["x"], sc["rings"][0][0]["y"]
        ), f"spherical st_centroid drift on {r['wkt']}"
    assert checked >= 13  # every kind class exercised


def test_polar_ring_correction_branch(geo_df, spark):
    # the polar cap is ~2.4e11 m^2; the UNcorrected excess would be the
    # whole-sphere complement (~5.1e14).  Both tiers must agree AND hit
    # the corrected value.
    row = geo_df.filter(F.col("wkt") == POLAR_WKT).select(
        GS.st_area_sphere(F.col("g")).alias("c"),
        F.expr("st_area(to_spherical_geography(g))").alias("s"),
    ).collect()[0]
    assert row["c"] == row["s"]
    assert 1e11 < row["s"] < 1e12, f"pole correction missing: {row['s']}"


def test_spherical_point_distance_parity(geo_df):
    pts = geo_df.filter(F.col("g")["kind"] == "POINT")
    a = pts.select(F.col("g").alias("ga"))
    b = pts.select(F.col("g").alias("gb"))
    rows = a.crossJoin(b).select(
        GS.st_distance_sphere(F.col("ga"), F.col("gb")).alias("col_d"),
        F.expr("st_distance(to_spherical_geography(ga), "
               "to_spherical_geography(gb))").alias("sql_d"),
    ).collect()
    for r in rows:
        assert r["col_d"] == r["sql_d"]


def test_sql_roundtrip_and_null_propagation(spark):
    row = run_sql(
        spark,
        "SELECT to_geometry(to_spherical_geography("
        "st_geometryfromtext('LINESTRING (0 0, 0 1)'))) AS rt, "
        "st_area(CAST(NULL AS STRUCT<kind: STRING, "
        "rings: ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>>)) AS na, "
        "st_length(CAST(NULL AS STRUCT<kind: STRING, "
        "rings: ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>>)) AS nl, "
        "st_centroid(CAST(NULL AS STRUCT<kind: STRING, "
        "rings: ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>>)) AS nc, "
        "to_spherical_geography(CAST(NULL AS STRUCT<kind: STRING, "
        "rings: ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>>)) AS ns"
    ).collect()[0]
    assert row["rt"]["kind"] == "LINESTRING"
    assert row["na"] is None and row["nl"] is None
    assert row["nc"] is None and row["ns"] is None


def test_sql_raise_arms(spark):
    # coalesce(1) single-tasks the raise so a concurrently-cancelled
    # peer task can't win the race to the client (r11 deflake rule)
    for sql, msg in [
        ("SELECT to_spherical_geography("
         "st_geometryfromtext('POINT (200 0)')) AS v", "invalid input"),
        ("SELECT st_area(to_spherical_geography("
         "st_geometryfromtext('LINESTRING (0 0, 1 1)'))) AS v",
         "only supports POLYGON"),
        ("SELECT st_distance(to_spherical_geography("
         "st_geometryfromtext('LINESTRING (0 0, 1 1)')), "
         "to_spherical_geography("
         "st_geometryfromtext('POINT (0 0)'))) AS v",
         "only supports POINT"),
        ("SELECT st_length(to_spherical_geography("
         "st_geometryfromtext('POINT (0 0)'))) AS v",
         "only supports LINE_STRING"),
    ]:
        with pytest.raises(Exception, match=msg):
            run_sql(spark, sql).coalesce(1).collect()
