"""Hierarchical cell index (H3/S2-style surrogate): numpy and Column forms.

The reference has no spatial index at all — its spatial join is an O(n*m)
nested loop (lib/join.py:42-55). The north rule requires an H3/S2-style cell
index as the join accelerator; neither `h3` nor `s2sphere` is installed, so
this is a deterministic lat/lon quadtree grid with H3-like properties:

- 64-bit ids: ``id = (res << 58) | (ix << 29) | iy`` with
  ``ix = floor((lon+180) / (360/2^res))``, ``iy = floor((lat+90)/(180/2^res))``,
  res in [0, 29].
- parent/child by index halving/doubling (strict hierarchy, like H3 res 7-12);
- ring neighborhoods (``disk``) for kNN cell-ring expansion.

Cells are a pure join/partition key: correctness never depends on the cell
scheme (candidate pairs are always refined by the exact geometry kernels),
so an exact-H3 implementation is unnecessary (SURVEY.md §1.2).

Every numpy function used by the engine has a Column (JVM codegen) twin
below it (``ix_col``/``iy_col``, ``encode_col``, ``pack_col``,
``decode_col``, ``explode_cover_bbox``, ``explode_disk``,
``ring_min_distance_col``) computing the same values with the same IEEE
expression order, so the grid is defined once for the driver, the Python
kernels and the Spark plans alike.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

RES_MIN, RES_MAX = 0, 29
_RES_SHIFT = 58
_IX_SHIFT = 29
_IDX_MASK = (1 << 29) - 1


def cell_size(res: int) -> tuple[float, float]:
    """(lon_width, lat_height) of a cell at `res`, degrees."""
    return 360.0 / (1 << res), 180.0 / (1 << res)


def encode(lon, lat, res: int) -> np.ndarray:
    """Vectorized lon/lat -> int64 cell id at resolution `res`."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / (360.0 / n)), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / (180.0 / n)), 0, n - 1).astype(np.int64)
    return (np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy


def decode(cell: np.ndarray):
    """int64 cell id -> (res, ix, iy)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT).astype(np.int64)
    ix = (cell >> _IX_SHIFT) & _IDX_MASK
    iy = cell & _IDX_MASK
    return res, ix, iy


def parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Ancestor cell at a coarser resolution (bit-shift hierarchy)."""
    res, ix, iy = decode(cell)
    shift = res - parent_res
    return (
        (np.int64(parent_res) << _RES_SHIFT)
        | ((ix >> shift) << _IX_SHIFT)
        | (iy >> shift)
    )


def pack(res: int, ix, iy) -> np.ndarray:
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    return (np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> np.ndarray:
    """All cells at `res` whose rectangle intersects the bbox (the polygon
    covering used by the cell-partitioned spatial join, SURVEY §2.3 J2)."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ix0 = int(np.clip(np.floor((xmin + 180.0) / w), 0, n - 1))
    ix1 = int(np.clip(np.floor((xmax + 180.0) / w), 0, n - 1))
    iy0 = int(np.clip(np.floor((ymin + 90.0) / h), 0, n - 1))
    iy1 = int(np.clip(np.floor((ymax + 90.0) / h), 0, n - 1))
    ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


def disk(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev ring distance k (kNN ring expansion)."""
    res, ix, iy = decode(np.int64(cell))
    res = int(res)
    n = 1 << res
    ixs = np.arange(max(0, int(ix) - k), min(n - 1, int(ix) + k) + 1, dtype=np.int64)
    iys = np.arange(max(0, int(iy) - k), min(n - 1, int(iy) + k) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


def ring_min_distance(cell: int, k: int, px: float, py: float) -> float:
    """Lower bound on planar distance from (px,py) to any point OUTSIDE the
    k-disk of `cell` — the kNN termination test: once the k-th candidate's
    distance <= this bound, no farther ring can improve the result
    (SURVEY §7 hard-part 5)."""
    res, ix, iy = decode(np.int64(cell))
    n = 1 << int(res)
    w, h = 360.0 / n, 180.0 / n
    x0 = -180.0 + (int(ix) - k) * w
    x1 = -180.0 + (int(ix) + k + 1) * w
    y0 = -90.0 + (int(iy) - k) * h
    y1 = -90.0 + (int(iy) + k + 1) * h
    return float(min(px - x0, x1 - px, py - y0, y1 - py))


def pick_resolution(widths: np.ndarray, lo: int = 4, hi: int = 12, max_cells: int = 64) -> int:
    """Choose a join resolution from a sample of zone bbox widths (degrees):
    finest res whose cell is still >= the median width / sqrt(max_cells),
    clamped to [lo, hi]. Coarser = fewer exploded rows, finer = better
    pruning; this balances the two (SURVEY §4 custom decision 1)."""
    med = float(np.median(widths)) if len(widths) else 1.0
    med = max(med, 1e-9)
    target = med * max(1.0, np.sqrt(max_cells) / 8.0)
    res = int(np.floor(np.log2(360.0 / target)))
    return max(lo, min(hi, res))


# ---- Column (JVM codegen) twins -------------------------------------------
# Arguments typed as columns take a Column or a column name.


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _clamped_index(v, origin: float, extent: float, res: int) -> Column:
    n = 1 << res
    return F.least(
        F.greatest(F.floor((_col(v) + F.lit(origin)) / F.lit(extent / n)), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")


def ix_col(lon, res: int) -> Column:
    """Clamped column index ``ix`` of :func:`encode` as a long Column."""
    return _clamped_index(lon, 180.0, 360.0, res)


def iy_col(lat, res: int) -> Column:
    """Clamped row index ``iy`` of :func:`encode` as a long Column."""
    return _clamped_index(lat, 90.0, 180.0, res)


def pack_col(res: int, ix, iy) -> Column:
    """Twin of :func:`pack` for index columns."""
    ix, iy = _col(ix), _col(iy)
    return (
        F.lit(res << _RES_SHIFT)
        + F.shiftleft(ix.cast("long"), _IX_SHIFT)
        + iy.cast("long")
    )


def encode_col(lon, lat, res: int) -> Column:
    """Twin of :func:`encode`: lon/lat columns -> cell id at ``res``."""
    return pack_col(res, ix_col(lon, res), iy_col(lat, res))


def decode_col(cell) -> tuple[Column, Column, Column]:
    """Twin of :func:`decode`: cell id column -> (res, ix, iy) Columns."""
    cell = _col(cell)
    return (
        F.shiftright(cell, _RES_SHIFT),
        F.shiftright(cell, _IX_SHIFT).bitwiseAND(F.lit(_IDX_MASK)),
        cell.bitwiseAND(F.lit(_IDX_MASK)),
    )


def explode_rect(df: DataFrame, ix0, ix1, iy0, iy1, ix: str = "ix", iy: str = "iy") -> DataFrame:
    """One row per (row of ``df``, index pair in [ix0, ix1] x [iy0, iy1]),
    appended as columns ``ix`` and ``iy``: two sequence explodes, because a
    select admits one generator. Empty ranges drop the row."""
    return df.select("*", F.explode(F.sequence(ix0, ix1)).alias(ix)).select(
        "*", F.explode(F.sequence(iy0, iy1)).alias(iy)
    )


def explode_cover_bbox(
    df: DataFrame, xmin, ymin, xmax, ymax, res: int, ix: str = "ix", iy: str = "iy"
) -> DataFrame:
    """Twin of :func:`cover_bbox`: one row per (row, cell whose rectangle
    intersects the row's bbox), the cell as index columns ``ix``/``iy``."""
    return explode_rect(
        df, ix_col(xmin, res), ix_col(xmax, res), iy_col(ymin, res), iy_col(ymax, res), ix, iy
    )


def explode_disk(
    df: DataFrame, cix, ciy, res: int, kx, ky=None, ix: str = "ix", iy: str = "iy"
) -> DataFrame:
    """Twin of :func:`disk`: one row per (row, cell within ``kx`` columns and
    ``ky`` rows of cell (cix, ciy)), clipped to the grid; ``ky`` defaults to
    ``kx`` (the Chebyshev disk). Radii may be ints or per-row Columns."""
    cix, ciy = _col(cix), _col(ciy)
    ky = kx if ky is None else ky
    top = F.lit((1 << res) - 1)
    return explode_rect(
        df,
        F.greatest(cix - kx, F.lit(0)), F.least(cix + kx, top),
        F.greatest(ciy - ky, F.lit(0)), F.least(ciy + ky, top),
        ix, iy,
    )


def ring_min_distance_col(cix, ciy, k: int, px, py, res: int) -> Column:
    """Twin of :func:`ring_min_distance` for point Columns (px, py) in
    cell (cix, ciy): the planar distance from the point to the outside of
    the cell's k-disk."""
    w, h = cell_size(res)
    return F.least(
        px - (F.lit(-180.0) + (cix - k) * F.lit(w)),
        (F.lit(-180.0) + (cix + (k + 1)) * F.lit(w)) - px,
        py - (F.lit(-90.0) + (ciy - k) * F.lit(h)),
        (F.lit(-90.0) + (ciy + (k + 1)) * F.lit(h)) - py,
    )
