"""Round-6 optimization regression tests.

- nearest_zone_distance: the cell-bucketed plan must produce the rows of
  an unpruned broadcast nested loop and of its DuckDB oracle (verdict
  ask #1 — the `weak` component's done-criterion).
- pick_join_resolution: the sampled resolution must not depend on the
  zone table's partition layout (verdict ask #5).
"""

from __future__ import annotations

import duckdb
import pytest

from gdal_common_python_spark import synth
from gdal_common_python_spark.operators import spatial_join as sj
from gdal_common_python_spark.operators.util import release


@pytest.fixture(scope="module")
def sdir():
    return synth.ensure("sf0.01")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _nearest_zone_broadcast_reference(spark, docs, zones, edges):
    """Unpruned broadcast nested loop: every uncovered point meets every
    boundary edge, the exact clamped-projection distance is quantized to
    dist_micro, and a (dist_micro, zone_id) struct-min picks the winner —
    no cell index, no bound, no ring."""
    from pyspark.sql import functions as F

    uncov = sj.spatial_anti_join(spark, docs, zones).where(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    e = edges.select("zone_id", "ex1", "ey1", "ex2", "ey2")
    px_, py_ = F.col("x"), F.col("y")
    ax, ay, bx, by = F.col("ex1"), F.col("ey1"), F.col("ex2"), F.col("ey2")
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t_raw = ((px_ - ax) * dx + (py_ - ay) * dy) / len2
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    )
    cx_, cy_ = ax + t * dx, ay + t * dy
    d = F.sqrt((px_ - cx_) * (px_ - cx_) + (py_ - cy_) * (py_ - cy_))
    best = (
        uncov.join(F.broadcast(e))
        .select(
            "doc_id", "offset",
            F.struct(
                F.floor(d * 1e6).cast("long").alias("dist_micro"),
                F.col("zone_id").alias("nearest_zone"),
            ).alias("__dz"),
        )
        .groupBy("doc_id", "offset")
        .agg(F.min("__dz").alias("__dz"))
    )
    return best.select(
        "doc_id", "offset",
        F.col("__dz.nearest_zone").alias("nearest_zone"),
        F.col("__dz.dist_micro").alias("dist_micro"),
    )


def test_nearest_zone_distance_bucketed_matches_broadcast(spark, sdir):
    docs = spark.read.parquet(f"{sdir}/documents_spans.parquet")
    zones = spark.read.parquet(f"{sdir}/zones.parquet")
    edges = spark.read.parquet(f"{sdir}/zone_edges.parquet")
    bk = sj.nearest_zone_distance(spark, docs, zones, edges)
    rk = _rows(bk)
    release(bk)
    rb = _rows(_nearest_zone_broadcast_reference(spark, docs, zones, edges))
    assert rb == rk
    assert len(rb) > 0


def test_nearest_zone_distance_auto_is_bucketed_and_equal(spark, sdir):
    import __spark_entry__ as entry

    docs = spark.read.parquet(f"{sdir}/documents_spans.parquet")
    zones = spark.read.parquet(f"{sdir}/zones.parquet")
    edges = spark.read.parquet(f"{sdir}/zone_edges.parquet")
    # the default call runs the cell-bucketed search; its rows must equal
    # the DuckDB oracle
    out = sj.nearest_zone_distance(spark, docs, zones, edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "cx" in plan and "cy" in plan  # cell-disk equi-join present
    got = _rows(out)
    release(out)
    sql = sj.nearest_zone_distance_oracle_sql(entry._SQL_SPATIAL_ANTI_JOIN, entry._EDGES)
    con = duckdb.connect()
    oracle = sorted(con.sql(sql).fetchall())
    assert got == oracle
    assert len(got) > 0


def test_pick_join_resolution_stable_under_repartition(spark, sdir):
    zones = spark.read.parquet(f"{sdir}/zones.parquet")
    r1 = sj.pick_join_resolution(zones)
    r2 = sj.pick_join_resolution(zones.repartition(7))
    r3 = sj.pick_join_resolution(zones.repartition(3))
    assert r1 == r2 == r3


# ---- batch 2: single-evaluation re-shapes (this round's later commits) ----


def _fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_track_resample_single_scan_single_exchange(spark, sdir):
    """The k-grid explode form: the whole query must read the corpus ONCE
    and shuffle ONCE (the track_id window hash) — the groupBy+join form it
    replaced evaluated the segment pipeline twice and shuffled four times."""
    from gdal_common_python_spark.operators import tracks

    docs = spark.read.parquet(f"{sdir}/documents_spans.parquet")
    pts = sj.geo_points(docs)
    out = tracks.track_resample(pts, n_points=5)
    p = _fmt_plan(out)
    assert p.count("Location: InMemoryFileIndex") == 1, p[:1500]
    shuffles = [ln for ln in p.splitlines() if "+- Exchange" in ln]
    assert len(shuffles) == 1, shuffles


def test_track_resample_midpoint_matches_line_interpolate(spark, sdir):
    """k=2 of n_points=5 targets (total*2) div 4 == (total*1) div 2 — the
    line_interpolate(1,2) target — so the interpolated positions must be
    bit-identical between the two operators."""
    from gdal_common_python_spark.operators import tracks

    docs = spark.read.parquet(f"{sdir}/documents_spans.parquet")
    pts = sj.geo_points(docs)
    mid = {
        r["track_id"]: (r["pos_x"], r["pos_y"])
        for r in tracks.track_resample(pts, n_points=5).filter("k = 2").collect()
    }
    ref = {
        r["track_id"]: (r["pos_x"], r["pos_y"])
        for r in tracks.line_interpolate(pts, 1, 2).collect()
    }
    assert mid == ref and len(ref) > 0


def test_zone_dedup_profile_fingerprint_computed_once(spark, sdir):
    """The duplicate-group size is a count window over ONE fingerprint
    pass; the groupBy+join-back form it replaced evaluated the interpreted
    fingerprint fold on both sides of a self-join."""
    docs = spark.read.parquet(f"{sdir}/documents_spans.parquet")
    zones = spark.read.parquet(f"{sdir}/zones.parquet")
    out = sj.zone_dedup_profile(spark, docs, zones)
    p = _fmt_plan(out)
    # the md5 span fold appears in exactly one plan node
    assert p.count("md5(cast(concat_ws") == 1, p.count("md5(cast(concat_ws")


def test_rewrite_without_posexplode_offsets():
    """posexplode of the filtered span array re-binds dense offsets —
    identical to the transform-lambda rebind it replaced, including
    struck-middle, struck-all and untouched documents."""
    from pyspark.sql import SparkSession

    from gdal_common_python_spark.operators.multimodal import rewrite_without

    spark = SparkSession.getActiveSession()
    span = "kind string, text string, media_ref string, offset int"
    docs = spark.createDataFrame(
        [
            ("d1", [("text", "a", None, 0), ("media", None, "m1", 1), ("text", "b", None, 2)]),
            ("d2", [("text", "only", None, 0)]),
            ("d3", [("text", "gone", None, 0)]),
        ],
        f"doc_id string, spans array<struct<{span}>>",
    )
    strikes = spark.createDataFrame(
        [("d1", 1), ("d3", 0)], "doc_id string, offset int"
    )
    rows = sorted(tuple(r) for r in rewrite_without(docs, strikes).collect())
    assert rows == [
        ("d1", 0, "text", "a", None),
        ("d1", 1, "text", "b", None),
        ("d2", 0, "text", "only", None),
    ]


def test_dwell_points_linear_fold_semantics(spark):
    """The per-track array fold must reproduce the anchor rule exactly:
    first point opens dwell 1; a point beyond radius of the CURRENT
    anchor (not the previous point) opens the next dwell; in-radius
    points extend the current dwell."""
    from gdal_common_python_spark.operators import tracks

    pts = spark.createDataFrame(
        [
            # track A: (0,0) anchor; (3,0) within r=5 of anchor; (7,0) is
            # beyond (0,0) even though only 4 from (3,0) -> new dwell
            ("a", 0, 0.0, 0.0),
            ("a", 1, 3.0, 0.0),
            ("a", 2, 7.0, 0.0),
            ("a", 3, 8.0, 0.0),
            # track B: single point
            ("b", 0, 1.0, 1.0),
        ],
        "doc_id string, offset int, x double, y double",
    )
    rows = sorted(
        tuple(r) for r in tracks.dwell_points(pts, radius=5.0).collect()
    )
    assert rows == [
        ("a", 1, 2, 0.0, 0.0),
        ("a", 2, 2, 7.0, 0.0),
        ("b", 1, 1, 1.0, 1.0),
    ]


def test_dwell_points_single_exchange(spark, sdir):
    from gdal_common_python_spark.operators import tracks

    docs = spark.read.parquet(f"{sdir}/documents_spans.parquet")
    pts = sj.geo_points(docs)
    p = _fmt_plan(tracks.dwell_points(pts, radius=5.0))
    shuffles = [ln for ln in p.splitlines() if "+- Exchange" in ln]
    assert len(shuffles) == 1, shuffles
