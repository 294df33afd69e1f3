"""skew_report / join_partition_metrics / grid_disk / grid_distance."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdal_common_python_spark.kernels import cells as cellk
from gdal_common_python_spark.operators import layout, spatial_join as sj


def test_grid_disk_matches_kernel(spark):
    """The Column forms in kernels.cells (and layout.grid_disk built on
    them) equal the numpy forms, including at the domain edges x=±180 /
    y=±90, at exact multiples of the cell pitch and at a 3857-magnitude x
    that only the clamp keeps on the grid."""
    res, k = 6, 2
    w, h = cellk.cell_size(res)
    pts = [
        (-87.6, 41.8), (0.0, 0.0), (-179.99, -89.99), (179.99, 89.99),
        (-180.0, -90.0), (180.0, 90.0), (-180.0, 90.0), (180.0, -90.0),
        (-180.0 + 17 * w, -90.0 + 9 * h), (3 * w, -5 * h),
        (2e7, 1e6), (-2e7, 30.0),
    ]
    ids = [int(cellk.encode(lon, lat, res)) for lon, lat in pts]
    pdf = pd.DataFrame({"x": [p[0] for p in pts], "y": [p[1] for p in pts], "cell": ids})
    df = spark.createDataFrame(pdf)
    r_c, ix_c, iy_c = cellk.decode_col("cell")
    rows = df.select(
        "x", "y", "cell",
        cellk.encode_col(F.col("x"), F.col("y"), res).alias("enc"),
        r_c.alias("r"), ix_c.alias("ix"), iy_c.alias("iy"),
        cellk.pack_col(res, ix_c, iy_c).alias("packed"),
        cellk.ring_min_distance_col(ix_c, iy_c, k, F.col("x"), F.col("y"), res).alias("rmd"),
    ).collect()
    for r in rows:
        assert r.enc == r.cell == r.packed
        assert (r.r, r.ix, r.iy) == tuple(int(v) for v in cellk.decode(np.int64(r.cell)))
        assert r.rmd == cellk.ring_min_distance(r.cell, k, r.x, r.y)

    got = (
        layout.grid_disk(df.select("cell").distinct(), res=res, k=k)
        .groupBy("cell")
        .agg(F.sort_array(F.collect_list("neighbor")).alias("nbs"))
        .collect()
    )
    by_cell = {r["cell"]: r["nbs"] for r in got}
    for c in ids:
        expect = sorted(int(x) for x in cellk.disk(c, k))
        assert by_cell[c] == expect
    # interior cell: full (2k+1)^2; corner cell: clamped to (k+1)^2
    assert len(by_cell[ids[0]]) == (2 * k + 1) ** 2
    assert len(by_cell[ids[2]]) == (k + 1) ** 2

    boxes = [
        (-180.0, -90.0, -180.0 + 2 * w, -90.0 + h),
        (170.0, 80.0, 180.0, 90.0),
        (-87.6, 41.8, -80.0, 45.0),
        (3 * w, -5 * h, 4 * w, -5 * h),
        (2e7, -1e6, 2.1e7, 1e6),
    ]
    bdf = spark.createDataFrame(
        pd.DataFrame(boxes, columns=["xmin", "ymin", "xmax", "ymax"]).reset_index()
    )
    cov = cellk.explode_cover_bbox(
        bdf, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res
    ).groupBy("index").agg(
        F.sort_array(F.collect_list(cellk.pack_col(res, "ix", "iy"))).alias("cells")
    )
    by_box = {r["index"]: r["cells"] for r in cov.collect()}
    for i, b in enumerate(boxes):
        assert by_box[i] == sorted(int(c) for c in cellk.cover_bbox(*b, res))


def test_grid_distance_chebyshev(spark):
    res = 8
    a = int(cellk.encode(10.0, 10.0, res))
    # 3 cells east, 1 cell north of a
    ra, ixa, iya = cellk.decode(np.int64(a))
    b = int(cellk.pack(res, int(ixa) + 3, int(iya) + 1))
    df = spark.createDataFrame(pd.DataFrame({"ca": [a, a], "cb": [b, a]}))
    got = df.select(
        layout.grid_distance(F.col("ca"), F.col("cb")).alias("d")
    ).collect()
    assert sorted(r["d"] for r in got) == [0, 3]


def test_skew_report_census(spark, docs):
    rep = sj.skew_report(spark, docs, res=7, top_k=1000, target_rows=10)
    pdf = rep.toPandas()
    pts = sj.geo_points(docs).toPandas()
    n = 1 << 7
    ix = np.clip(np.floor((pts.x + 180.0) / (360.0 / n)), 0, n - 1).astype(int)
    iy = np.clip(np.floor((pts.y + 90.0) / (180.0 / n)), 0, n - 1).astype(int)
    manual = pd.DataFrame({"ix": ix, "iy": iy}).value_counts().to_dict()
    got = {(r.cell_ix, r.cell_iy): r.n_points for r in pdf.itertuples()}
    assert got == manual
    total = sum(manual.values())
    for r in pdf.itertuples():
        assert r.share_ppm == (r.n_points * 1_000_000) // total
        assert r.salt == -(-r.n_points // 10)  # ceil
    # deterministic ordering: count desc then ix, iy
    key = list(zip(-pdf.n_points, pdf.cell_ix, pdf.cell_iy))
    assert key == sorted(key)


def test_join_partition_metrics_conserves_counts(spark, docs, zones):
    m = sj.join_partition_metrics(spark, docs, zones, n_buckets=16).toPandas()
    assert set(m.partition_id) <= set(range(16))
    assert m.partition_id.is_unique
    pip_n = sj.spatial_join_points(spark, docs, zones).count()
    pts = sj.geo_points(docs)
    assert int(m.output_rows.sum()) == pip_n
    assert int(m.input_points.sum()) == pts.count()
    assert int(m.input_docs.sum()) == pts.select("doc_id").distinct().count()


def test_grid_disk_k0_identity(spark):
    import pandas as pd

    from gdal_common_python_spark.operators import layout
    from gdal_common_python_spark.kernels import cells as cellk

    c = int(cellk.encode(10.0, 10.0, 9))
    df = spark.createDataFrame(pd.DataFrame({"cell": [c]}))
    got = layout.grid_disk(df, res=9, k=0).collect()
    assert len(got) == 1 and got[0]["neighbor"] == c


def test_grid_disk_rejects_bad_params(spark):
    import pandas as pd
    import pytest

    from gdal_common_python_spark.operators import layout

    df = spark.createDataFrame(pd.DataFrame({"cell": [0]}))
    with pytest.raises(ValueError):
        layout.grid_disk(df, res=30, k=1)
    with pytest.raises(ValueError):
        layout.grid_disk(df, res=9, k=-1)


def test_skew_report_empty_corpus(spark):
    import pandas as pd

    from gdal_common_python_spark.operators import spatial_join as sj

    empty = spark.createDataFrame(
        [],
        schema="doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    assert sj.skew_report(spark, empty, res=9).count() == 0


def test_skew_report_rejects_bad_params(spark, docs):
    import pytest

    from gdal_common_python_spark.operators import spatial_join as sj

    with pytest.raises(ValueError):
        sj.skew_report(spark, docs, top_k=0)
    with pytest.raises(ValueError):
        sj.skew_report(spark, docs, target_rows=0)


def test_polyfill_center_containment(spark, zones, sf_dir):
    import os

    import numpy as np

    from gdal_common_python_spark.kernels import cells as cellk, geom
    from gdal_common_python_spark.operators import layout

    edges = spark.read.parquet(os.path.join(sf_dir, "zone_edges.parquet"))
    got = layout.polyfill(zones, edges, res=9).toPandas()
    rings = {
        r["zone_id"]: geom.rings_from_cell(r["rings4326"])
        for r in zones.select("zone_id", "rings4326").collect()
    }
    # exhaustively recompute via the kernel: bbox cover + center PIP
    expect = set()
    n = 1 << 9
    w, h = 360.0 / n, 180.0 / n
    for r in zones.select("zone_id", "bbox4326").collect():
        b = r["bbox4326"]
        cover = cellk.cover_bbox(b["xmin"], b["ymin"], b["xmax"], b["ymax"], 9)
        e = geom.rings_to_edges(rings[r["zone_id"]])
        _, ix, iy = cellk.decode(cover)
        cx = -180.0 + (ix + 0.5) * w
        cy = -90.0 + (iy + 0.5) * h
        inside = geom.points_in_rings(cx, cy, e)
        for c in cover[inside]:
            expect.add((r["zone_id"], int(c)))
    assert set(zip(got.zone_id, got.cell)) == expect
    assert len(expect) > 0


def test_cell_bounds_contains_encoded_point(spark):
    import pandas as pd

    from gdal_common_python_spark.kernels import cells as cellk
    from gdal_common_python_spark.operators import layout

    pts = [(-87.6, 41.8), (0.3, -0.2), (179.9, 89.9)]
    cells = [int(cellk.encode(x, y, 9)) for x, y in pts]
    df = spark.createDataFrame(pd.DataFrame({"cell": cells}))
    got = {r["cell"]: r for r in layout.cell_bounds(df, res=9).collect()}
    for (x, y), c in zip(pts, cells):
        r = got[c]
        assert r["cell_xmin"] <= x < r["cell_xmax"]
        assert r["cell_ymin"] <= y < r["cell_ymax"]


def test_cell_smooth_planted(spark):
    """3 points in one res-2 cell, 1 in an adjacent cell: the dilated map
    holds exact window sums and clipped areas."""
    import pandas as pd

    from gdal_common_python_spark.operators import layout

    # res=2 -> 4x4 grid of 90x45-degree cells; pick interior cells (1,1)=(x
    # in [-90,0), y in [-45,0)) and (2,1)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"x": [-45.0, -44.0, -43.0, 45.0], "y": [-22.0, -22.0, -22.0, -22.0]}
        )
    )
    out = {
        (int(r.cell) >> 29 & ((1 << 29) - 1), int(r.cell) & ((1 << 29) - 1)):
            (r.total, r.area, r.smooth)
        for r in layout.cell_smooth(pts, res=2, k=1).collect()
    }
    # cell (1,1) holds 3 points, (2,1) holds 1; k=1 windows are 3x3=9 inside
    assert out[(1, 1)] == (4, 9, 4 / 9)      # sees both data cells
    assert out[(2, 1)] == (4, 9, 4 / 9)
    assert out[(0, 1)] == (3, 6, 0.5)        # edge column: 2x3 window
    assert out[(3, 1)] == (1, 6, 1 / 6)
    # dilation support: union of the two 3x3 disks = x in 0..3, y in 0..2
    assert len(out) == 12


def test_cell_smooth_validation(spark):
    import pandas as pd
    import pytest

    from gdal_common_python_spark.operators import layout

    pts = spark.createDataFrame(pd.DataFrame({"x": [0.0], "y": [0.0]}))
    with pytest.raises(ValueError):
        layout.cell_smooth(pts, res=2, k=-1)


def test_cell_smooth_mass_conservation(spark):
    """Invariant: sum over output cells of `total` equals sum over data
    cells of n x |clipped disk(c)| — every data cell contributes its count
    to exactly the cells of its own (clipped) k-disk."""
    import numpy as np
    import pandas as pd

    from gdal_common_python_spark.operators import layout

    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "x": rng.uniform(-179, 179, 200),
                "y": rng.uniform(-89, 89, 200),
            }
        )
    )
    res, k = 3, 2
    n = 1 << res
    out = layout.cell_smooth(pts, res=res, k=k).toPandas()
    # recompute the data census in numpy
    ix = np.clip(np.floor((pts.toPandas().x + 180) / (360 / n)), 0, n - 1).astype(int)
    iy = np.clip(np.floor((pts.toPandas().y + 90) / (180 / n)), 0, n - 1).astype(int)
    census = {}
    for a, b in zip(ix, iy):
        census[(a, b)] = census.get((a, b), 0) + 1
    expected_mass = sum(
        c
        * (min(a + k, n - 1) - max(a - k, 0) + 1)
        * (min(b + k, n - 1) - max(b - k, 0) + 1)
        for (a, b), c in census.items()
    )
    assert int(out.total.sum()) == expected_mass
    # and every smooth value is total/area exactly
    assert (out.smooth == out.total / out.area).all()
