"""Operator-level tests vs pure-python oracles on synth sf0.001
(SURVEY.md §5.2 item 2)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_common_python_spark.kernels import geom, proj, raster as rk
from gdal_common_python_spark.operators import spatial_join as sj
from gdal_common_python_spark.operators.dissolve import dissolve
from gdal_common_python_spark.operators.equi_join import ManyMatchesError, attribute_join
from gdal_common_python_spark.operators.knn import knn, near_table
from gdal_common_python_spark.operators.mosaic import mosaic
from gdal_common_python_spark.operators.overlay import buffer_points, clip, intersect_pairs
from gdal_common_python_spark.operators.tile_assign import tile_assign
from gdal_common_python_spark.operators.zonal import counts_wide, zonal_statistics


@pytest.fixture(scope="module")
def zone_oracle_rings(zones):
    zp = zones.toPandas()
    return {
        int(z.zone_id): geom.rings_from_cell(z.rings4326) for _, z in zp.iterrows()
    }


def _pip_oracle(docs, zone_oracle_rings):
    pdfp = sj.geo_points(docs).toPandas()
    xy = pdfp[["x", "y"]].to_numpy()
    out = set()
    for zid, rings in zone_oracle_rings.items():
        m = geom.points_in_rings(xy[:, 0], xy[:, 1], geom.rings_to_edges(rings))
        for i in np.nonzero(m)[0]:
            out.add((pdfp.doc_id[i], int(pdfp.offset[i]), zid))
    return out


class TestSpatialJoin:
    def test_broadcast_and_salted_match_oracle(self, spark, docs, zones, zone_oracle_rings):
        oracle = _pip_oracle(docs, zone_oracle_rings)
        got_b = {
            (r.doc_id, r.offset, r.zone_id)
            for r in sj.spatial_join_points(spark, docs, zones).collect()
        }
        got_s = {
            (r.doc_id, r.offset, r.zone_id)
            for r in sj.spatial_join_points(
                spark, docs, zones, strategy="sortmerge", salt_threshold=50
            ).collect()
        }
        assert got_b == oracle
        assert got_s == oracle

    def test_distributed_refine_matches_oracle(self, spark, docs, zones, sf_dir, zone_oracle_rings):
        import os

        edges = spark.read.parquet(os.path.join(sf_dir, "zone_edges.parquet"))
        oracle = _pip_oracle(docs, zone_oracle_rings)
        got = {
            (r.doc_id, r.offset, r.zone_id)
            for r in sj.spatial_join_points_distributed(spark, docs, zones, edges).collect()
        }
        assert got == oracle
        # edges derived natively from the rings column (no companion table)
        derived = {
            (r.doc_id, r.offset, r.zone_id)
            for r in sj.spatial_join_points_distributed(spark, docs, zones).collect()
        }
        assert derived == oracle
        # auto-dispatch past the collect limit routes to the same plan
        dispatched = {
            (r.doc_id, r.offset, r.zone_id)
            for r in sj.spatial_join_points(spark, docs, zones, collect_zone_limit=1).collect()
        }
        assert dispatched == oracle

    def test_geoms_join_matches_oracle(self, spark, docs, zones, zone_oracle_rings):
        spans = sj.geo_spans(docs).toPandas()
        oracle = set()
        for zid, zrings in zone_oracle_rings.items():
            ze = geom.rings_to_edges(zrings)
            for _, s in spans.iterrows():
                kind, gr = geom.parse_wkt(s.wkt)
                if kind == "point":
                    hit = bool(geom.points_in_rings(gr[0][:, 0], gr[0][:, 1], ze)[0])
                else:
                    hit = geom.polygon_intersects(gr, zrings)
                if hit:
                    oracle.add((s.doc_id, int(s.offset), zid))
        got = {
            (r.doc_id, r.offset, r.zone_id)
            for r in sj.spatial_join_geoms(spark, docs, zones).collect()
        }
        assert got == oracle

    def test_anti_join_is_exact_complement(self, spark, docs, zones, zone_oracle_rings):
        """spatial_anti_join returns exactly the geo points the PIP oracle
        covers with NO zone, and together with the join's matched keys
        partitions the point set."""
        oracle = _pip_oracle(docs, zone_oracle_rings)
        matched_keys = {(d, o) for d, o, _ in oracle}
        pts = sj.geo_points(docs).toPandas()
        all_keys = {(d, int(o)) for d, o in zip(pts.doc_id, pts.offset)}
        got = {
            (r.doc_id, int(r.offset))
            for r in sj.spatial_anti_join(spark, docs, zones).collect()
        }
        assert got == all_keys - matched_keys
        assert got and matched_keys  # both sides non-trivial on synth data

    def test_span_sequence_invariant(self, spark, docs, zones):
        """Span-sequence invariant: joining derived tables back onto the
        document spine leaves (kind, text, media_ref, order) untouched."""
        result = sj.spatial_join_points(spark, docs, zones)
        carried = docs.join(result.select("doc_id").distinct(), "doc_id", "left_semi")
        rt = carried.select("doc_id", "spans").toPandas()
        orig = docs.select("doc_id", "spans").toPandas().set_index("doc_id")
        assert len(rt) > 0
        for _, row in rt.iterrows():
            a = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row.spans]
            b = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in orig.loc[row.doc_id, "spans"]
            ]
            assert a == b


class TestTileAssignZonal:
    def test_tile_assign_matches_kernel(self, zones, rasters):
        ta = tile_assign(zones, rasters).toPandas()
        zp = zones.toPandas()
        rp = rasters.toPandas()
        oracle = {}
        for _, z in zp.iterrows():
            bb = z.bbox4326
            for _, r in rp.iterrows():
                w = rk.window_snap(
                    bb["xmin"], bb["ymin"], bb["xmax"], bb["ymax"],
                    r.origin_x, r.origin_y, r.px_x, r.px_y, int(r.width), int(r.height),
                )
                if w is not None:
                    oracle[(int(z.zone_id), r.raster_id, int(r.band))] = w
        got = {
            (int(t.zone_id), t.raster_id, int(t.band)): (
                t.win_ox, t.win_oy, int(t.res_x), int(t.res_y), int(t.off_x), int(t.off_y)
            )
            for _, t in ta.iterrows()
        }
        assert set(got) == set(oracle)
        for k in got:
            assert tuple(map(float, got[k])) == tuple(map(float, oracle[k])), k

    def test_zonal_matches_reference_loop(self, spark, zones, rasters, tiles, zone_oracle_rings):
        rp = rasters.toPandas()
        tp = tiles.toPandas()
        full = {}
        for (rid, band), g in tp.groupby(["raster_id", "band"]):
            r = rp[(rp.raster_id == rid) & (rp.band == band)].iloc[0]
            arr = np.zeros((int(r.height), int(r.width)))
            for _, t in g.iterrows():
                ty, tx = int(t.tile_y) * 32, int(t.tile_x) * 32
                arr[ty : ty + int(t.tile_h), tx : tx + int(t.tile_w)] = np.asarray(
                    t.pixels
                ).reshape(int(t.tile_h), int(t.tile_w))
            full[(rid, int(band))] = (r, arr)
        ostats, ocounts = {}, {}
        for zid, rings in zone_oracle_rings.items():
            xmin, ymin, xmax, ymax = geom.rings_bbox(rings)
            pool = []
            for (rid, band), (r, arr) in full.items():
                w = rk.window_snap(
                    xmin, ymin, xmax, ymax, r.origin_x, r.origin_y, r.px_x, r.px_y,
                    int(r.width), int(r.height),
                )
                if w is None:
                    ocounts[(zid, rid, band)] = 0
                    continue
                win_ox, win_oy, rx, ry, ox_, oy_ = w
                m = rk.rasterize_mask(rings, win_ox, win_oy, r.px_x, r.px_y, rx, ry)
                vals = rk.masked_values(arr[oy_ : oy_ + ry, ox_ : ox_ + rx], m, [-9999.0])
                ocounts[(zid, rid, band)] = len(vals)
                pool.append(vals)
            v = np.concatenate(pool) if pool else np.array([])
            ostats[zid] = rk.stats(v)
            ostats[zid]["count_total"] = len(v)

        st, ct = zonal_statistics(spark, zones, rasters, tiles)
        stp = st.toPandas().set_index("zone_id")
        for zid, o in ostats.items():
            m = stp.loc[zid]
            assert int(m["count_total"]) == o["count_total"]
            for k in ["min", "max", "median", "perc90"]:
                assert m[k] == o[k], (zid, k)
            for k in ["mean", "var", "stdev"]:
                assert m[k] == pytest.approx(o[k], rel=1e-9)
        cm = {
            (int(r.zone_id), r.raster_id, int(r.band)): int(r.pixel_count)
            for _, r in ct.toPandas().iterrows()
        }
        for k, v in ocounts.items():
            assert cm.get(k, 0) == v

        wide = counts_wide(ct, rasters).toPandas().set_index("zone_id")
        assert set(wide.columns) >= {"count_total", "count_1", "count_5"}
        for zid, o in ostats.items():
            assert int(wide.loc[zid, "count_total"]) == o["count_total"]


def _knn_bruteforce(pts, k):
    """{(from_id, rank, to_id, distance)} ordered by (distance, to_id)."""
    xy = pts[["x", "y"]].to_numpy()
    d = np.sqrt(((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2))
    np.fill_diagonal(d, np.inf)
    ids = pts.point_id.to_numpy()
    out = set()
    for i in range(len(pts)):
        order = sorted(range(len(pts)), key=lambda j: (d[i, j], ids[j]))[:k]
        for rank, j in enumerate(order, 1):
            out.add((int(ids[i]), rank, int(ids[j]), float(d[i, j])))
    return out


class TestKnnNear:
    def test_knn_matches_bruteforce(self, spark, near_points):
        oracle = {t[:3] for t in _knn_bruteforce(near_points.toPandas(), 5)}
        got = {
            (r.from_id, r["rank"], r.to_id)
            for r in knn(spark, near_points, k=5).collect()
        }
        assert got == oracle

    def test_knn_tie_at_disk_boundary(self, spark):
        """Point 3's nearest candidate in its 3x3 disk (id 2, 1.5 cells
        south) lies exactly as far as the disk edge; id 1, 1.5 cells north
        and OUTSIDE the disk, ties on distance and wins on to_id — the
        disk alone must not resolve point 3."""
        import pandas as pd

        res = 7
        w, h = 360.0 / (1 << res), 180.0 / (1 << res)
        x, y0 = -180.0 + 70.5 * w, -90.0 + 40.5 * h
        pts = pd.DataFrame(
            {"point_id": [3, 2, 1], "x": [x, x, x], "y": [y0, y0 - 1.5 * h, y0 + 1.5 * h]}
        )
        got = {
            (r.from_id, r["rank"], r.to_id, r.distance)
            for r in knn(spark, spark.createDataFrame(pts), k=1, res=res).collect()
        }
        assert (3, 1, 1, 2.109375) in got
        assert got == _knn_bruteforce(pts, 1)

    def test_near_table_radius(self, spark, near_points):
        got = near_table(near_points, radius=0.5).collect()
        pts = near_points.toPandas()
        xy = pts[["x", "y"]].to_numpy()
        d = np.sqrt(((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2))
        ids = pts.point_id.to_numpy()
        oracle = {
            (int(ids[i]), int(ids[j]))
            for i in range(len(pts))
            for j in range(len(pts))
            if i != j and d[i, j] <= 0.5
        }
        assert {(r.from_id, r.to_id) for r in got} == oracle


class TestDissolveOverlayMosaic:
    def test_dissolve_counts(self, spark, zones):
        out = dissolve(zones, on_fields=["category"]).toPandas()
        zp = zones.toPandas()
        exp = zp.groupby("category").size().to_dict()
        got = dict(zip(out.group_key, out.feat_count))
        assert got == exp

    def test_single_part_components(self, spark, zones):
        z4326 = zones.select(
            "zone_id", "category", F.lit(4326).alias("srid"), F.col("rings4326").alias("rings")
        )
        out = dissolve(z4326, single_part=True).toPandas()
        # oracle: union-find over exact pairwise intersects
        zp = zones.toPandas()
        ringsets = [geom.rings_from_cell(r) for r in zp.rings4326]
        n = len(ringsets)
        parent = list(range(n))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i in range(n):
            for j in range(i + 1, n):
                if find(i) != find(j) and geom.polygon_intersects(ringsets[i], ringsets[j]):
                    parent[find(i)] = find(j)
        n_comp = len({find(i) for i in range(n)})
        assert len(out) == n_comp
        assert out.feat_count.sum() == n

    def test_clip_rect_area(self, spark):
        import pandas as pd

        def mk(rows):
            return spark.createDataFrame(
                pd.DataFrame(
                    [
                        dict(
                            zone_id=i,
                            rings=[[[x0, y0], [x1, y0], [x1, y1], [x0, y1]]],
                            bbox=dict(xmin=x0, ymin=y0, xmax=x1, ymax=y1),
                        )
                        for i, (x0, y0, x1, y1) in enumerate(rows)
                    ]
                )
            )

        left = mk([(0.0, 0.0, 4.0, 4.0)])
        right = mk([(2.0, 1.0, 6.0, 3.0)])
        out = clip(spark, left, right).collect()
        assert len(out) == 1 and out[0].area == pytest.approx(4.0)
        pairs = intersect_pairs(spark, left, right).collect()
        assert [(p.l_id, p.r_id) for p in pairs] == [(0, 0)]

    def test_buffer_points(self, spark, near_points):
        out = buffer_points(near_points.limit(3), dist=0.1, n=64).collect()
        for r in out:
            ring = np.asarray([[p[0], p[1]] for p in r.rings[0]])
            assert geom.signed_area(ring) == pytest.approx(np.pi * 0.01, rel=1e-2)

    def test_buffer_layer_negative(self, spark):
        import pandas as pd

        from gdal_common_python_spark.operators.overlay import buffer_layer

        df = spark.createDataFrame(
            pd.DataFrame(
                [
                    dict(zone_id=0, rings=[[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]]),
                    dict(zone_id=1, rings=[[[10.0, 10.0], [11.0, 10.0], [11.0, 11.0], [10.0, 11.0]]]),
                ]
            )
        )
        rows = {r.zone_id: r.rings for r in buffer_layer(df, dist=-1.0, n=16).collect()}
        area0 = geom.polygon_area(geom.rings_from_cell(rows[0]))
        assert area0 == pytest.approx(4.0, abs=1e-9)  # 4x4 shrinks to 2x2
        assert rows[1] == []  # 1x1 collapses; row survives with empty geometry

    def test_mosaic_later_wins_except_nodata(self, spark, tiles, rasters):
        m = mosaic(tiles, raster_ids=["r0", "r1", "r2"], band=1).toPandas()
        tp = tiles.toPandas()
        sel = tp[(tp.band == 1) & (tp.raster_id.isin(["r0", "r1", "r2"]))]
        for _, row in m.iterrows():
            g = sel[(sel.tile_x == row.tile_x) & (sel.tile_y == row.tile_y)].sort_values(
                "input_rank"
            )
            exp = np.full(len(row.pixels), -9999.0)
            for _, t in g.iterrows():
                px = np.asarray(t.pixels)
                exp = np.where(px != -9999.0, px, exp)
            np.testing.assert_array_equal(np.asarray(row.pixels), exp)

    def test_mosaic_rejects_mixed_grids(self, spark, tiles):
        with pytest.raises(ValueError):
            mosaic(tiles, raster_ids=["r0", "r3"], band=1)

    def _assemble(self, out, band=1):
        rows = out.filter(F.col("band") == band).collect()
        W = max(int(r.tile_x) * 32 + int(r.tile_w) for r in rows)
        H = max(int(r.tile_y) * 32 + int(r.tile_h) for r in rows)
        full = np.empty((H, W))
        for r in rows:
            px = np.asarray(r.pixels).reshape(int(r.tile_h), int(r.tile_w))
            full[r.tile_y * 32 : r.tile_y * 32 + r.tile_h, r.tile_x * 32 : r.tile_x * 32 + r.tile_w] = px
        return full

    def _source(self, tiles, rid, band=1):
        rows = tiles.filter((F.col("raster_id") == rid) & (F.col("band") == band)).collect()
        m = rows[0]
        W, H = int(m.width), int(m.height)
        full = np.empty((H, W))
        for r in rows:
            px = np.asarray(r.pixels).reshape(int(r.tile_h), int(r.tile_w))
            full[r.tile_y * 32 : r.tile_y * 32 + r.tile_h, r.tile_x * 32 : r.tile_x * 32 + r.tile_w] = px
        return full, m

    def test_mosaic_merge_mixed_grid_matches_numpy(self, spark, tiles):
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        got = self._assemble(mosaic_merge(spark, tiles, raster_ids=["r0", "r3"], band=1))
        s0, m0 = self._source(tiles, "r0")
        s3, m3 = self._source(tiles, "r3")
        # numpy oracle: r0 identity; r3 nearest-sampled onto r0's grid wins except nodata
        H, W = s0.shape
        oc, orr = np.meshgrid(np.arange(W), np.arange(H))
        cx = m0.origin_x + (oc + 0.5) * m0.px_x
        cy = m0.origin_y + (orr + 0.5) * m0.px_y
        sx = np.trunc((cx - m3.origin_x) / m3.px_x).astype(int)
        sy = np.trunc((cy - m3.origin_y) / m3.px_y).astype(int)
        inb = (sx >= 0) & (sx < int(m3.width)) & (sy >= 0) & (sy < int(m3.height))
        r3v = np.full_like(s0, m3.nodata)
        r3v[inb] = s3[sy[inb], sx[inb]]
        exp = np.where(r3v != m3.nodata, r3v, s0)
        np.testing.assert_array_equal(got, exp)

    def test_mosaic_merge_separate_init_ullr(self, spark, tiles):
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        # -separate: band i = input i (rank order), nodata replaced by -init
        out = mosaic_merge(
            spark, tiles, raster_ids=["r0", "r3"], band=1, separate=True, init=-1.0
        )
        s0, m0 = self._source(tiles, "r0")
        b1 = self._assemble(out, band=1)
        np.testing.assert_array_equal(b1, np.where(s0 != m0.nodata, s0, -1.0))
        b2 = self._assemble(out, band=2)
        assert b2.shape == s0.shape and (b2 == -1.0).any() and (b2 != -1.0).any()
        # -ul_lr crop: quarter window of r0's grid
        crop = mosaic_merge(
            spark, tiles, raster_ids=["r0"], band=1,
            ul_lr=(m0.origin_x, m0.origin_y, m0.origin_x + 16.0, m0.origin_y - 16.0),
        )
        got = self._assemble(crop)
        assert got.shape == (64, 64)
        np.testing.assert_array_equal(got, s0[:64, :64])

    def test_mosaic_merge_tap_aligns(self, spark, tiles):
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        _, m3 = self._source(tiles, "r3")
        # r3 alone with tap on its own 0.2-deg size: origin snaps to multiples
        out = mosaic_merge(spark, tiles, raster_ids=["r3"], band=1, tap=True)
        assert out.count() > 0  # grid construction sane; alignment below
        import math

        ulx = math.floor(m3.origin_x / m3.px_x) * m3.px_x
        assert abs(ulx / m3.px_x - round(ulx / m3.px_x)) < 1e-9

    @staticmethod
    def _many_input_tiles(spark, n_inputs, w=4, h=4):
        import pandas as pd

        rows = []
        for i in range(n_inputs):
            rows.append(
                dict(
                    raster_id=f"m{i}", band=1, input_rank=i, origin_x=0.0, origin_y=0.0,
                    px_x=1.0, px_y=-1.0, width=w, height=h, nodata=-1.0,
                    tile_x=0, tile_y=0, tile_w=w, tile_h=h,
                    off_x=0, off_y=0,
                    pixels=[float(i)] * (w * h),
                    color_table=[i, i + 1, i + 2],
                )
            )
        return spark.createDataFrame(pd.DataFrame(rows))

    def test_mosaic_merge_pct_copies_first_color_table(self, spark):
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        tiles = self._many_input_tiles(spark, 3)
        out = mosaic_merge(
            spark, tiles, raster_ids=["m0", "m1", "m2"], band=1, pct=True, tile_size=4
        ).collect()
        assert all(list(r.color_table) == [0, 1, 2] for r in out)  # first input wins
        # last rank wins on pixels (no nodata in play)
        assert all(set(r.pixels) == {2.0} for r in out)

    def test_mosaic_merge_pct_requires_column(self, spark, tiles):
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        with pytest.raises(ValueError, match="color_table"):
            mosaic_merge(spark, tiles, raster_ids=["r0"], band=1, pct=True)

    def test_mosaic_merge_pct_null_palette_raises(self, spark):
        # gdal_merge -pct semantics: a first input WITHOUT a palette is an
        # error, not a silent schema-changing no-op
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        tiles = self._many_input_tiles(spark, 2).withColumn(
            "color_table", F.lit(None).cast("array<int>")
        )
        with pytest.raises(ValueError, match="no color table"):
            mosaic_merge(spark, tiles, band=1, pct=True, tile_size=4)

    def test_mosaic_merge_join_plan_matches_branch_plan(self, spark, tiles):
        # the O(1)-plan-size join form must be value-identical to the
        # per-input branch form on the real mixed-grid fixture
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        for kw in (
            dict(raster_ids=["r0", "r3"], band=1),
            dict(raster_ids=["r0", "r3"], band=1, separate=True, init=-1.0),
        ):
            b = mosaic_merge(spark, tiles, plan="branch", **kw).toPandas()
            j = mosaic_merge(spark, tiles, plan="join", **kw).toPandas()
            key = ["tile_x", "tile_y", "band"]
            b = b.sort_values(key).reset_index(drop=True)
            j = j.sort_values(key).reset_index(drop=True)
            assert b[key].equals(j[key])
            for bp, jp in zip(b.pixels, j.pixels):
                np.testing.assert_array_equal(np.asarray(bp), np.asarray(jp))

    def test_mosaic_merge_join_plan_many_inputs(self, spark):
        # 40 shifted grids through both plans: identical output, and the
        # join plan's physical plan carries ONE scan of the tile table
        # (vs 40 resample branches in the branch plan)
        import pandas as pd

        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        rows = []
        for i in range(40):
            w = h = 4
            rows.append(
                dict(
                    raster_id=f"s{i}", band=1, input_rank=i,
                    origin_x=float(i % 7), origin_y=-float(i % 5),
                    px_x=1.0, px_y=-1.0, width=w, height=h, nodata=-1.0,
                    tile_x=0, tile_y=0, tile_w=w, tile_h=h, off_x=0, off_y=0,
                    pixels=[float(i) if (k + i) % 3 else -1.0 for k in range(w * h)],
                )
            )
        t = spark.createDataFrame(pd.DataFrame(rows))
        b = mosaic_merge(spark, t, band=1, tile_size=4, plan="branch").toPandas()
        j = mosaic_merge(spark, t, band=1, tile_size=4, plan="join").toPandas()
        key = ["tile_x", "tile_y", "band"]
        b = b.sort_values(key).reset_index(drop=True)
        j = j.sort_values(key).reset_index(drop=True)
        assert b[key].equals(j[key]) and len(b) > 0
        for bp, jp in zip(b.pixels, j.pixels):
            np.testing.assert_array_equal(np.asarray(bp), np.asarray(jp))
        jp_plan = mosaic_merge(spark, t, band=1, tile_size=4, plan="join")
        n_scans = jp_plan._jdf.queryExecution().optimizedPlan().toString().count("LogicalRDD")
        assert n_scans <= 3, f"join plan re-scans the tile table {n_scans}x"

    def test_mosaic_merge_many_inputs_constant_probe_jobs(self, spark):
        from gdal_common_python_spark.operators.mosaic import mosaic_merge

        tiles = self._many_input_tiles(spark, 64)
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        df = mosaic_merge(spark, tiles, band=1, tile_size=4)  # plan build only
        after = len(tracker.getJobIdsForGroup(None) or [])
        # probe phase is O(1) jobs regardless of input count: metas collect
        # + ONE batched chunking aggregation (not one probe per raster);
        # with 64 inputs the old per-raster probe would run 64+ jobs
        assert after - before <= 5, f"probe phase ran {after - before} jobs"
        vals = {r.pixels[0] for r in df.collect()}
        assert vals == {63.0}  # last-rank input wins everywhere


class TestEquiJoin:
    def test_error_if_many(self, spark):
        import pandas as pd

        left = spark.createDataFrame(pd.DataFrame(dict(k=[1, 2, 3], v=["a", "b", "c"])))
        right = spark.createDataFrame(pd.DataFrame(dict(kk=[1, 1, 2], w=["x", "y", "z"])))
        with pytest.raises(ManyMatchesError):
            attribute_join(left, right, "k", "kk", ["w"], error_if_many=True)
        out = attribute_join(left, right, "k", "kk", ["w"]).toPandas().set_index("k")
        assert out.loc[1, "w"] == "y"  # last match wins (deterministic order)
        assert out.loc[3].isna()["w"]  # left outer: unmatched kept with null

    def test_successive_joins_fid_suffixes(self, spark):
        # two successive FID-materializing joins: the second JOIN_FID must
        # not collide — it suffixes to JOIN_FID_1 (fields.py:470-479 naming)
        import pandas as pd

        left = spark.createDataFrame(pd.DataFrame(dict(k=[1, 2], m=[10, 20])))
        r1 = spark.createDataFrame(pd.DataFrame(dict(kk=[1, 2], fid=[100, 200], a=["p", "q"])))
        r2 = spark.createDataFrame(pd.DataFrame(dict(mm=[10, 20], fid=[7, 8], b=["r", "s"])))
        once = attribute_join(left, r1, "k", "kk", ["a"], error_if_many=True, fid_col="fid")
        twice = attribute_join(once, r2, "m", "mm", ["b"], error_if_many=True, fid_col="fid")
        assert "JOIN_FID" in twice.columns and "JOIN_FID_1" in twice.columns
        row = twice.filter(F.col("k") == 1).first()
        assert row.JOIN_FID == 100 and row.JOIN_FID_1 == 7 and row.a == "p" and row.b == "r"

    def test_multi_field_key(self, spark):
        import pandas as pd

        left = spark.createDataFrame(
            pd.DataFrame(dict(k1=[1, 1, 2], k2=["x", "y", "x"], v=[1, 2, 3]))
        )
        right = spark.createDataFrame(
            pd.DataFrame(dict(j1=[1, 1, 2], j2=["x", "y", "y"], w=["a", "b", "c"]))
        )
        out = (
            attribute_join(left, right, ["k1", "k2"], ["j1", "j2"], ["w"], error_if_many=True)
            .toPandas()
            .set_index(["k1", "k2"])
        )
        assert out.loc[(1, "x"), "w"] == "a" and out.loc[(1, "y"), "w"] == "b"
        assert out.loc[(2, "x")].isna()["w"]  # tuple key (2,'x') unmatched


class TestReproject:
    def test_roundtrip_tolerance(self, spark, zones):
        from gdal_common_python_spark.operators.reproject import reproject

        merc = reproject(zones.limit(20), 3857)
        back = reproject(merc, 4326).toPandas().set_index("zone_id")
        orig = zones.limit(20).toPandas().set_index("zone_id")
        for zid in back.index:
            a = geom.rings_from_cell(back.loc[zid, "rings"])
            b = geom.rings_from_cell(orig.loc[zid, "rings4326"])
            for ra, rb in zip(a, b):
                np.testing.assert_allclose(ra, rb, atol=1e-7)


def test_dissolve_two_level_matches_single(spark, zones):
    from gdal_common_python_spark.operators.dissolve import dissolve, dissolve_two_level

    z = zones.select("zone_id", "category", F.col("rings4326").alias("rings"))
    one = {r.group_key: r for r in dissolve(z, on_fields=["category"]).collect()}
    two = {r.group_key: r for r in dissolve_two_level(z, on_fields=["category"]).collect()}
    assert set(one) == set(two)
    for k in one:
        assert one[k].feat_count == two[k].feat_count
        assert one[k].total_area == pytest.approx(two[k].total_area, rel=1e-12)
        # union associativity: areas agree though piece decompositions differ
        assert one[k].union_area == pytest.approx(two[k].union_area, rel=1e-9)


def test_near_table_geoms_matches_kernel(spark, zones):
    from gdal_common_python_spark.operators.knn import near_table_geoms

    z = zones.select(
        "zone_id", F.col("rings4326").alias("rings"), F.col("bbox4326").alias("bbox")
    ).limit(30)
    got = {
        (r.from_id, r.to_id): r.distance
        for r in near_table_geoms(spark, z, radius=2.0).collect()
    }
    zp = z.toPandas()
    ringsets = {int(r.zone_id): geom.rings_from_cell(r.rings) for _, r in zp.iterrows()}
    oracle = {}
    for i in ringsets:
        for j in ringsets:
            if i == j:
                continue
            d = geom.geom_distance("polygon", ringsets[i], "polygon", ringsets[j])
            if d <= 2.0:
                oracle[(i, j)] = d
    assert set(got) == set(oracle)
    for k in got:
        assert got[k] == pytest.approx(oracle[k], rel=1e-12)
    # intersecting pairs report distance 0
    assert any(v == 0.0 for v in got.values())


def test_zonal_ignore_values_and_stat_selection(spark, zones, rasters, tiles):
    # list form: excluding every value makes all counts zero
    st, ct = zonal_statistics(
        spark, zones, rasters, tiles, ignore_values=list(range(256))
    )
    assert ct.filter(F.col("pixel_count") > 0).count() == 0
    # callback form: exclude values >= 128; every surviving value < 128
    st2, ct2 = zonal_statistics(
        spark, zones, rasters, tiles, ignore_values=lambda v: v >= 128
    )
    mx = st2.agg(F.max("max")).first()[0]
    assert mx < 128
    # stat selection: only requested columns come back; bad names raise
    st3, _ = zonal_statistics(spark, zones, rasters, tiles, statistics=["MIN", "perc90"])
    assert st3.columns == ["zone_id", "count_total", "min", "perc90"]
    with pytest.raises(ValueError):
        zonal_statistics(spark, zones, rasters, tiles, statistics=["p50"])


def test_spatial_join_with_fields(spark, docs, zones):
    out = sj.spatial_join_with_fields(spark, docs, zones, ["name", "category"])
    assert set(out.columns) >= {"doc_id", "offset", "zone_id", "name", "category"}
    rows = out.collect()
    base = {(r.doc_id, r.offset, r.zone_id) for r in sj.spatial_join_geoms(spark, docs, zones).collect()}
    assert {(r.doc_id, r.offset, r.zone_id) for r in rows} == base
    zmap = {r.zone_id: (r.name, r.category) for r in zones.select("zone_id", "name", "category").collect()}
    for r in rows:
        assert (r.name, r.category) == zmap[r.zone_id]


def test_media_geotag_inherits_preceding_geo_zone(spark, docs, zones):
    """Each media span carries min(zone_id) of the nearest preceding geo
    span in its document; null when no geo span precedes."""
    import re

    from gdal_common_python_spark.operators import spatial_join as sj
    from gdal_common_python_spark.kernels import geom as G

    got = {
        (r.doc_id, r.offset): (r.media_ref, r.zone_id)
        for r in sj.media_geotag(spark, docs, zones).collect()
    }
    zp = zones.toPandas()
    edges = {
        int(z.zone_id): G.rings_to_edges(G.rings_from_cell(z.rings4326))
        for _, z in zp.iterrows()
    }
    n_media = 0
    for row in docs.toPandas().itertuples(index=False):
        spans = sorted(
            ((s["offset"], s["kind"], s["text"], s["media_ref"]) for s in row.spans)
        )
        last_zone = None
        for off, kind, text, media_ref in spans:
            if kind == "geo" and text and text.startswith("POINT"):
                m = re.match(r"POINT\(([-+0-9.eE]+) ([-+0-9.eE]+)\)", text)
                px, py = float(m.group(1)), float(m.group(2))
                zs = [
                    zid
                    for zid, ee in edges.items()
                    if G.points_in_rings(np.array([px]), np.array([py]), ee)[0]
                ]
                last_zone = min(zs) if zs else last_zone
            elif kind == "media":
                n_media += 1
                assert got[(row.doc_id, off)] == (media_ref, last_zone)
    assert n_media > 0 and len(got) == n_media


def test_zone_corpus_profile_counts(spark, docs, zones):
    """Zone rollup reconciles with its constituents computed independently."""
    from gdal_common_python_spark.operators import spatial_join as sj

    prof = {r.zone_id: r for r in sj.zone_corpus_profile(spark, docs, zones).collect()}
    pip = sj.spatial_join_points(spark, docs, zones).collect()
    mg = sj.media_geotag(spark, docs, zones).collect()
    chars = {
        r.doc_id: sum(len(s["text"]) for s in r.spans if s["kind"] == "text" and s["text"])
        for r in docs.collect()
    }
    by_zone = {}
    for r in pip:
        z = by_zone.setdefault(r.zone_id, {"docs": set(), "pts": 0})
        z["docs"].add(r.doc_id)
        z["pts"] += 1
    media_ct = {}
    for r in mg:
        if r.zone_id is not None:
            media_ct[r.zone_id] = media_ct.get(r.zone_id, 0) + 1
    assert set(prof) == set(by_zone)
    for z, agg in by_zone.items():
        row = prof[z]
        assert row.n_docs == len(agg["docs"])
        assert row.n_points == agg["pts"]
        assert row.text_chars == sum(chars[d] for d in agg["docs"])
        assert row.n_media == media_ct.get(z, 0)


class TestZoneMeanCenter:
    def test_matches_numpy(self, spark, docs, zones, zone_oracle_rings):
        import numpy as np

        oracle = _pip_oracle(docs, zone_oracle_rings)
        pts = sj.geo_points(docs).toPandas().set_index(["doc_id", "offset"])
        by_zone = {}
        for d, o, z in oracle:
            by_zone.setdefault(z, []).append(tuple(pts.loc[(d, o)][["x", "y"]]))
        got = {r.zone_id: r for r in sj.zone_mean_center(spark, docs, zones).collect()}
        assert set(got) == set(by_zone)
        for z, pp in by_zone.items():
            p = np.asarray(pp)
            n = len(p)
            cx = np.floor(p[:, 0] * 1e6).astype(np.int64).sum() / (n * 1e6)
            cy = np.floor(p[:, 1] * 1e6).astype(np.int64).sum() / (n * 1e6)
            r = got[z]
            assert r.n_points == n
            assert abs(r.cx - cx) < 1e-12 and abs(r.cy - cy) < 1e-12
            mr = int(
                np.floor(np.sqrt(((p - [cx, cy]) ** 2).sum(axis=1)).max() * 1e6)
            )
            assert r.max_r_micro == mr


class TestZoneKeywords:
    def test_matches_python_oracle(self, spark, docs, zones, zone_oracle_rings):
        from collections import Counter

        oracle = _pip_oracle(docs, zone_oracle_rings)
        doc_zones = {}
        for d, _, z in oracle:
            doc_zones.setdefault(d, set()).add(z)
        spans = docs.select("doc_id", F.explode("spans").alias("s")).where(
            F.col("s.kind") == "text"
        ).select("doc_id", F.col("s.text").alias("t")).toPandas()
        counts = {}
        for r in spans.itertuples():
            if r.t is None or not r.t.strip():
                continue
            import re as _re

            toks = _re.split(r"\s+", r.t.strip().lower())
            for z in doc_zones.get(r.doc_id, ()):
                c = counts.setdefault(z, Counter())
                c.update(t for t in toks if t)
        exp = set()
        for z, c in counts.items():
            ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
            for i, (tok, n) in enumerate(ranked, 1):
                exp.add((z, i, tok, n))
        got = {
            (r.zone_id, r.rank, r.token, r.n)
            for r in sj.zone_keywords(spark, docs, zones, top_k=5).collect()
        }
        assert got == exp and got

    def test_top_k_validation(self, spark, docs, zones):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            sj.zone_keywords(spark, docs, zones, top_k=0)


class TestZoneDedupProfile:
    def test_duplicate_pair_counts_and_ppm(self, spark):
        """Two byte-identical docs (same span sequence -> same fingerprint,
        which necessarily co-locates them) plus one unique doc in the same
        zone: n_docs 3, n_dup_docs 2, dup_ppm = exact integer division.
        (A 'twin outside the zone' cannot exist under span-sequence
        fingerprints — identical spans imply identical geo text.)"""
        import pandas as pd

        sp = lambda x, y: [  # noqa: E731
            {"kind": "geo", "text": f"POINT({x} {y})", "media_ref": None, "offset": 0},
            {"kind": "text", "text": "same body", "media_ref": None, "offset": 1},
        ]
        docs = spark.createDataFrame(
            [
                ("in_dup", sp(1.0, 1.0)),
                ("out_twin", sp(1.0, 1.0)),
                ("in_uniq", [
                    {"kind": "geo", "text": "POINT(1.2 1.2)", "media_ref": None, "offset": 0},
                    {"kind": "text", "text": "unique body", "media_ref": None, "offset": 1},
                ]),
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        zones = spark.createDataFrame(
            pd.DataFrame(
                {
                    "zone_id": [3],
                    "srid": [4326],
                    "rings": [[[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]],
                    "rings4326": [[[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]],
                }
            )
        ).withColumn(
            "bbox4326",
            F.expr(
                "named_struct('xmin', 0.0d, 'ymin', 0.0d, 'xmax', 2.0d, 'ymax', 2.0d)"
            ),
        )
        out = {r.zone_id: r for r in sj.zone_dedup_profile(spark, docs, zones).collect()}
        # both twins are at (1,1) -> both in zone 3, plus the unique doc
        r = out[3]
        assert r.n_docs == 3 and r.n_dup_docs == 2
        assert r.dup_ppm == (2 * 1_000_000) // 3


class TestZoneStratifiedSample:
    def test_cap_determinism_membership(self, spark, docs, zones):
        out = sj.zone_stratified_sample(spark, docs, zones, per_zone=3)
        rows = out.collect()
        by_zone = {}
        for r in rows:
            by_zone.setdefault(r.zone_id, []).append((r.rank, r.doc_id))
        for z, picks in by_zone.items():
            assert len(picks) <= 3
            assert sorted(rank for rank, _ in picks) == list(range(1, len(picks) + 1))
        # deterministic: a repartitioned input picks the SAME sample
        again = {
            (r.zone_id, r.rank, r.doc_id)
            for r in sj.zone_stratified_sample(
                spark, docs.repartition(7), zones, per_zone=3
            ).collect()
        }
        assert {(r.zone_id, r.rank, r.doc_id) for r in rows} == again

    def test_per_zone_validation(self, spark, docs, zones):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="per_zone"):
            sj.zone_stratified_sample(spark, docs, zones, per_zone=0)

    def test_plan_uses_window_group_limit(self, spark, docs, zones):
        """rank <= N must push into the sort as a WindowGroupLimit so each
        partition keeps at most N rows per zone before the final pass."""
        out = sj.zone_stratified_sample(spark, docs, zones, per_zone=5)
        p = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "WindowGroupLimit" in p, p[:1500]


class TestRouteZoneSequence:
    def test_collapses_consecutive_repeats(self, spark, docs, zones, zone_oracle_rings):
        oracle = _pip_oracle(docs, zone_oracle_rings)
        best = {}
        for d, o, z in oracle:
            k = (d, o)
            best[k] = min(best.get(k, z), z)
        walks = {}
        for (d, o), z in sorted(best.items()):
            walks.setdefault(d, []).append(z)
        exp = set()
        for d, zs in walks.items():
            seq = 0
            prev = None
            for z in zs:
                if z != prev:
                    seq += 1
                    exp.add((d, seq, z))
                prev = z
        got = {
            (r.doc_id, r.seq, r.zone_id)
            for r in sj.route_zone_sequence(spark, docs, zones).collect()
        }
        assert got == exp and got


class TestNearestZoneDistance:
    def test_planted_square(self, spark):
        import pandas as pd

        # one doc, one geo point at (5, 0); square zone x,y in [0,2] -> the
        # nearest boundary point is (2, 0), distance 3
        docs = spark.createDataFrame(
            [("d0", [("geo", "POINT(5 0)", None, 0)])],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        zones = spark.createDataFrame(
            pd.DataFrame(
                {
                    "zone_id": [7],
                    "srid": [4326],
                    "rings": [[[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]],
                    "rings4326": [[[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]],
                }
            )
        ).withColumn(
            "bbox4326",
            F.expr(
                "named_struct('xmin', 0.0d, 'ymin', 0.0d, 'xmax', 2.0d, 'ymax', 2.0d)"
            ),
        )
        edges = spark.createDataFrame(
            pd.DataFrame(
                [
                    (7, 0.0, 0.0, 2.0, 0.0),
                    (7, 2.0, 0.0, 2.0, 2.0),
                    (7, 2.0, 2.0, 0.0, 2.0),
                    (7, 0.0, 2.0, 0.0, 0.0),
                ],
                columns=["zone_id", "ex1", "ey1", "ex2", "ey2"],
            )
        )
        out = sj.nearest_zone_distance(spark, docs, zones, edges).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.doc_id, r.offset, r.nearest_zone) == ("d0", 0, 7)
        assert r.dist_micro == 3_000_000
