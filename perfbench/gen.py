"""Seeded inputs for the benchmark workloads.

The distributions follow ``gdal_common_python_spark.synth`` (FIXTURES.md):
1-12 spans per document, ~70% text / 20% geo / 10% media spans, geo
coordinates 80% uniform over the extent and 20% in three hot clusters;
rectangle / hull / holed / two-part zones with ~20% stored in srid 3857;
raster tiles on synth's grids at a chosen size; near points with a tight cluster and exact
duplicates. Unlike ``synth`` every table draws from ``--seed``, so a new
seed changes every input whose shape drives cost (documents, zones,
points and pixels).

Tables are plain parquet written with pyarrow, except the documents,
which the benchmark commits into an ``IcebergLayoutTable`` (see
``run.py``) so the workloads read them through ``sources.catalog.load``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gdal_common_python_spark import synth
from gdal_common_python_spark.kernels import proj

# table tags mixed into the seed so tables draw independent streams
_DOCS, _ZONES, _RASTERS, _POINTS, _TEXT = range(5)

_SENTENCE_POOL = 4096


def rng(seed: int, table: int, shard: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, table, shard])


def write_docs(out_dir: str, seed: int, n_docs: int, shards: int) -> None:
    """Spans-shaped documents as ``shards`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(synth._LOREM, dtype=object)
    trng = rng(seed, _TEXT)
    n_words = trng.integers(3, 11, _SENTENCE_POOL)
    picks = trng.integers(0, len(words), (_SENTENCE_POOL, 10))
    pool = np.array(
        [" ".join(words[picks[i, : n_words[i]]]) for i in range(_SENTENCE_POOL)], dtype=object
    )
    per = -(-n_docs // shards)
    for shard in range(shards):
        start = shard * per
        cnt = min(per, n_docs - start)
        if cnt <= 0:
            break
        tbl = _doc_shard(rng(seed, _DOCS, shard), start, cnt, pool)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{shard:04d}.parquet"))


def _fmt(v) -> str:
    return repr(float(v))


def _doc_shard(r: np.random.Generator, start_doc: int, n_docs: int, pool) -> pa.Table:
    n_spans = r.integers(1, 13, n_docs)
    total = int(n_spans.sum())
    u = r.random(total)
    kinds = np.where(u < 0.70, "text", np.where(u < 0.90, "geo", "media")).astype(object)

    xmin, xmax, ymin, ymax = synth.EXTENT
    gx = r.uniform(xmin, xmax, total)
    gy = r.uniform(ymin, ymax, total)
    hot = r.random(total) < 0.20
    centers = np.array(synth.HOT_CENTERS)
    hidx = r.integers(0, len(centers), total)
    gx = np.where(hot, centers[hidx, 0] + r.normal(0, 0.05, total), gx)
    gy = np.where(hot, centers[hidx, 1] + r.normal(0, 0.05, total), gy)
    gshape = r.random(total)  # <0.85 point, <0.97 polygon, else multipolygon
    gsize = r.uniform(0.02, 0.3, total)
    media_r = r.integers(0, 4, total)
    media_b = np.where(media_r == 1, r.integers(1, 3, total), 1)
    sentence = r.integers(0, len(pool), total)

    texts = np.full(total, None, dtype=object)
    refs = np.full(total, None, dtype=object)
    is_text = kinds == "text"
    texts[is_text] = pool[sentence[is_text]]
    is_media = kinds == "media"
    refs[is_media] = [f"r{a}/{b}" for a, b in zip(media_r[is_media], media_b[is_media])]
    for i in np.flatnonzero(kinds == "geo"):
        x, y, sz = gx[i], gy[i], gsize[i]
        if gshape[i] < 0.85:
            texts[i] = f"POINT({_fmt(x)} {_fmt(y)})"
            continue
        part = (
            f"(({_fmt(x)} {_fmt(y)}, {_fmt(x + sz)} {_fmt(y)}, "
            f"{_fmt(x + sz)} {_fmt(y + sz)}, {_fmt(x)} {_fmt(y + sz)}))"
        )
        if gshape[i] < 0.97:
            texts[i] = f"POLYGON{part}"
        else:
            x2, y2 = x + 2 * sz, y + 2 * sz
            part2 = (
                f"(({_fmt(x2)} {_fmt(y2)}, {_fmt(x2 + sz)} {_fmt(y2)}, "
                f"{_fmt(x2 + sz)} {_fmt(y2 + sz)}, {_fmt(x2)} {_fmt(y2 + sz)}))"
            )
            texts[i] = f"MULTIPOLYGON({part}, {part2})"

    doc_starts = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    offsets = np.arange(total) - np.repeat(doc_starts, n_spans)
    spans = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offsets.astype(np.int32)),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    list_offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    doc_ids = pa.array([f"doc{start_doc + i:08d}" for i in range(n_docs)], pa.string())
    return pa.table({"doc_id": doc_ids, "spans": pa.ListArray.from_arrays(list_offsets, spans)})


def _rect(cx, cy, w, h) -> np.ndarray:
    x0, x1 = cx - w / 2, cx + w / 2
    y0, y1 = cy - h / 2, cy + h / 2
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain, CCW output."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower, upper = half(pts), half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def _bbox(rings) -> dict:
    pts = np.concatenate(rings)
    return dict(
        xmin=float(pts[:, 0].min()), ymin=float(pts[:, 1].min()),
        xmax=float(pts[:, 0].max()), ymax=float(pts[:, 1].max()),
    )


_BBOX_T = pa.struct([(c, pa.float64()) for c in ("xmin", "ymin", "xmax", "ymax")])
_RINGS_T = pa.list_(pa.list_(pa.list_(pa.float64())))
ZONES_SCHEMA = pa.schema(
    [
        ("zone_id", pa.int64()), ("name", pa.string()), ("category", pa.string()),
        ("srid", pa.int32()), ("rings", _RINGS_T), ("bbox", _BBOX_T),
        ("rings4326", _RINGS_T), ("bbox4326", _BBOX_T),
    ]
)


def write_zones(zones_path: str, edges_path: str, seed: int, n_zones: int) -> None:
    """Zones plus the flat ``zone_edges`` table the DuckDB PIP oracle reads."""
    r = rng(seed, _ZONES)
    xminE, xmaxE, yminE, ymaxE = synth.EXTENT
    zrows, erows = [], []
    for zid in range(n_zones):
        cx = r.uniform(xminE + 1.0, xmaxE - 1.0)
        cy = r.uniform(yminE + 1.0, ymaxE - 1.0)
        w = float(np.exp(r.uniform(np.log(0.2), np.log(1.8))))
        h = float(np.exp(r.uniform(np.log(0.2), np.log(1.8))))
        kind = r.random()
        if kind < 0.60:
            rings = [_rect(cx, cy, w, h)]
        elif kind < 0.85:
            npts = int(r.integers(5, 11))
            pts = np.column_stack(
                [cx + r.uniform(-w / 2, w / 2, npts), cy + r.uniform(-h / 2, h / 2, npts)]
            )
            rings = [_convex_hull(pts)]
        elif kind < 0.95:
            rings = [_rect(cx, cy, w, h), _rect(cx, cy, w * 0.3, h * 0.3)[::-1].copy()]
        else:
            rings = [_rect(cx - w * 0.75, cy, w * 0.5, h), _rect(cx + w * 0.75, cy, w * 0.5, h)]
        srid = 3857 if r.random() < 0.20 else 4326
        if srid == 3857:
            rings = [np.column_stack(proj.lonlat_to_mercator(g[:, 0], g[:, 1])) for g in rings]
        rings4326 = proj.transform_rings(rings, srid, 4326)
        zrows.append(
            dict(
                zone_id=zid, name=f"zone{zid:05d}",
                category=f"cat{int(r.integers(0, 10)):02d}", srid=srid,
                rings=[g.tolist() for g in rings], bbox=_bbox(rings),
                rings4326=[g.tolist() for g in rings4326], bbox4326=_bbox(rings4326),
            )
        )
        for ri, (g, g4) in enumerate(zip(rings, rings4326)):
            nxt, nxt4 = np.roll(g, -1, axis=0), np.roll(g4, -1, axis=0)
            for k in range(len(g)):
                erows.append(
                    (zid, srid, ri, *map(float, (g[k, 0], g[k, 1], nxt[k, 0], nxt[k, 1],
                                                 g4[k, 0], g4[k, 1], nxt4[k, 0], nxt4[k, 1])))
                )
    pq.write_table(pa.Table.from_pylist(zrows, schema=ZONES_SCHEMA), zones_path)
    cols = ["zone_id", "srid", "ring_idx", "x1", "y1", "x2", "y2", "ex1", "ey1", "ex2", "ey2"]
    types = [pa.int64(), pa.int32(), pa.int32()] + [pa.float64()] * 8
    pq.write_table(
        pa.table({c: pa.array([e[i] for e in erows], t) for i, (c, t) in enumerate(zip(cols, types))}),
        edges_path,
    )


def raster_defs(shared_px: int, shifted_px: int) -> list[tuple]:
    """(raster_id, band, input_rank, grid) over synth's geographic windows,
    resampled to ``shared_px``² and ``shifted_px``² pixels."""
    sg, tg = synth.SHARED_GRID, synth.SHIFTED_GRID
    shared = dict(
        origin_x=sg["origin_x"], origin_y=sg["origin_y"],
        px_x=sg["px_x"] * sg["width"] / shared_px, px_y=sg["px_y"] * sg["height"] / shared_px,
        width=shared_px, height=shared_px,
    )
    shifted = dict(
        origin_x=tg["origin_x"], origin_y=tg["origin_y"],
        px_x=tg["px_x"] * tg["width"] / shifted_px, px_y=tg["px_y"] * tg["height"] / shifted_px,
        width=shifted_px, height=shifted_px,
    )
    return [
        ("r0", 1, 0, shared), ("r1", 1, 1, shared), ("r1", 2, 1, shared),
        ("r2", 1, 2, shared), ("r3", 1, 3, shifted),
    ]


def write_rasters(meta_path: str, tiles_path: str, seed: int, shared_px: int, shifted_px: int) -> None:
    r = rng(seed, _RASTERS)
    tile = synth.TILE
    meta, tiles = [], []
    for raster_id, band, rank, grid in raster_defs(shared_px, shifted_px):
        head = dict(raster_id=raster_id, band=band, input_rank=rank, nodata=synth.NODATA, **grid)
        meta.append(head)
        w, h = grid["width"], grid["height"]
        px = r.integers(0, 256, size=(h, w)).astype(np.float64)
        px[r.random((h, w)) < 0.05] = synth.NODATA
        for ty in range(0, h, tile):
            for tx in range(0, w, tile):
                th, tw = min(tile, h - ty), min(tile, w - tx)
                tiles.append(
                    dict(
                        head, tile_x=tx // tile, tile_y=ty // tile, tile_w=tw, tile_h=th,
                        pixels=px[ty : ty + th, tx : tx + tw].ravel().tolist(),
                    )
                )
    meta_schema = pa.schema(
        [
            ("raster_id", pa.string()), ("band", pa.int32()), ("input_rank", pa.int32()),
            ("nodata", pa.float64()), ("origin_x", pa.float64()), ("origin_y", pa.float64()),
            ("px_x", pa.float64()), ("px_y", pa.float64()), ("width", pa.int32()),
            ("height", pa.int32()),
        ]
    )
    tile_schema = pa.schema(
        list(meta_schema)
        + [("tile_x", pa.int32()), ("tile_y", pa.int32()), ("tile_w", pa.int32()),
           ("tile_h", pa.int32()), ("pixels", pa.list_(pa.float64()))]
    )
    pq.write_table(pa.Table.from_pylist(meta, schema=meta_schema), meta_path)
    pq.write_table(pa.Table.from_pylist(tiles, schema=tile_schema), tiles_path)


def write_points(path: str, seed: int, n: int) -> None:
    """Near points: uniform, a tight 15% cluster and ~5% exact duplicates."""
    r = rng(seed, _POINTS)
    xminE, xmaxE, yminE, ymaxE = synth.EXTENT
    x = r.uniform(xminE, xmaxE, n)
    y = r.uniform(yminE, ymaxE, n)
    clustered = r.random(n) < 0.15
    x = np.where(clustered, -100.0 + r.normal(0, 0.01, n), x)
    y = np.where(clustered, 37.0 + r.normal(0, 0.01, n), y)
    dup = r.random(n) < 0.05
    dup[0] = False
    src = r.integers(0, np.maximum(np.arange(n), 1))
    x = np.where(dup, x[src], x)
    y = np.where(dup, y[src], y)
    tags = np.array(["a", "b", "c", "d"])[r.integers(0, 4, n)]
    pq.write_table(
        pa.table(
            {
                "point_id": pa.array(np.arange(n, dtype=np.int64)),
                "srid": pa.array(np.full(n, 4326, dtype=np.int32)),
                "x": pa.array(x),
                "y": pa.array(y),
                "tag": pa.array(tags.tolist(), pa.string()),
            }
        ),
        path,
    )
