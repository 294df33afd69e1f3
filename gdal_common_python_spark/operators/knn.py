"""Distance joins: near table (J3) and kNN — SURVEY §2.3.

Reference ``near_table`` (lib/analysis.py:241-322) is an O(n*m) all-pairs
``geom.Distance`` double loop with an optional pre-filter callback
(lib/analysis.py:284-296) and dict rows {FROM_ID, TO_ID, DISTANCE}.

Engine:
- ``near_table``: declarative pair join. With a ``radius`` it is a
  cell-partitioned band join (explode the query side by the covering cell
  disk sized to the radius, equi-join on cell, exact distance refine) — at
  scale this prunes to O(pairs-in-range) instead of O(n*m). Without a radius
  it degrades to the reference's full cross join (exact parity mode).
- ``knn``: cell-ring expansion with exact re-rank (SURVEY §7 hard-part 5):
  each ring of (1, 4, 16) joins the still-unresolved query points to the
  candidates in their Chebyshev cell disk of that radius and resolves a
  point once its k-th candidate distance is STRICTLY below the distance to
  the outside of the disk (a point at exactly that distance could still
  win the tie-break); the points left after the last ring — empty or edge
  regions, vanishingly few — take an exact cross join. Ties break on
  (distance, to_id) so results are deterministic and match the DuckDB
  oracle's ORDER BY.

The pre-filter callback becomes a plain ``df.filter`` on either side
(SURVEY §2.9), pushed below the join by Catalyst.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..kernels import cells as cellk
from .util import track_persisted


def _dist(x1, y1, x2, y2):
    return F.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


def _cell_keyed(df: DataFrame, x: str, y: str, res: int) -> DataFrame:
    """``df`` with the (jx, jy) grid index of its point (x, y) at ``res``."""
    return df.withColumn("jx", cellk.ix_col(F.col(x), res)).withColumn(
        "jy", cellk.iy_col(F.col(y), res)
    )


def near_table(
    points: DataFrame,
    near: DataFrame | None = None,
    radius: float | None = None,
    res: int = 7,
    allow_cross: bool = False,
) -> DataFrame:
    """(from_id, to_id, distance) pairs; planar distance in native units
    (lib/analysis.py:315 semantics). Self-join when `near` is None; the
    (i, i) self-pair is excluded for self-joins.

    ``radius=None`` is the reference-parity O(n*m) cross join — it requires
    an explicit ``allow_cross=True`` so the nested-loop plan can never be
    reached by accident; at scale always pass a radius."""
    if radius is None and not allow_cross:
        raise ValueError(
            "near_table(radius=None) is the O(n*m) reference-parity cross "
            "join; pass a radius for the pruned cell-band join, or opt in "
            "explicitly with allow_cross=True"
        )
    self_join = near is None
    a = points.select(
        F.col("point_id").alias("from_id"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = (near if near is not None else points).select(
        F.col("point_id").alias("to_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    if radius is None:
        pairs = a.crossJoin(b)
    else:
        w, h = cellk.cell_size(res)
        ac = cellk.explode_disk(
            a, cellk.ix_col(F.col("ax"), res), cellk.iy_col(F.col("ay"), res), res,
            int(radius / w) + 1, int(radius / h) + 1, ix="jx", iy="jy",
        )
        pairs = ac.join(_cell_keyed(b, "bx", "by", res), ["jx", "jy"])
    out = pairs.withColumn("distance", _dist(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))
    if radius is not None:
        out = out.filter(F.col("distance") <= F.lit(radius))
    if self_join:
        out = out.filter(F.col("from_id") != F.col("to_id"))
    return out.select("from_id", "to_id", "distance")


def near_table_geoms(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame | None = None,
    radius: float | None = None,
    allow_cross: bool = False,
) -> DataFrame:
    """near_table for POLYGON layers (zone-shaped tables) — the reference's
    geom.Distance semantics (lib/analysis.py:315: 0 when intersecting, else
    min boundary distance), computed by the exact kernel on candidate
    pairs.

    With a ``radius``: the pair source is the shared size-gated candidate
    machinery (``overlay._pair_candidates`` with ``pad=radius``) — a
    broadcast bbox theta join for dimension-sized right sides, a grid-cell
    EQUI-join past the gate, so the candidate count is O(pairs-in-range)
    and the plan never degenerates to a nested loop over two large sides;
    without a radius it degrades to the reference's full cross join
    (parity mode only — gated behind an explicit ``allow_cross=True``)."""
    from ..kernels import geom
    from .overlay import _pair_candidates

    if radius is None and not allow_cross:
        raise ValueError(
            "near_table_geoms(radius=None) is the O(n*m) reference-parity "
            "cross join; pass a radius for the candidate-pruned join, or "
            "opt in explicitly with allow_cross=True"
        )
    self_join = right is None
    r = right if right is not None else left
    if radius is None:
        a = left.select(
            F.col("zone_id").alias("from_id"), F.col("rings").alias("l_rings")
        )
        b = r.select(F.col("zone_id").alias("to_id"), F.col("rings").alias("r_rings"))
        pairs = a.crossJoin(b)
    else:
        pairs = _pair_candidates(spark, left, r, pad=float(radius)).select(
            F.col("l_id").alias("from_id"),
            F.col("r_id").alias("to_id"),
            "l_rings",
            "r_rings",
        )

    @F.pandas_udf(T.DoubleType())
    def pairdist(lr: pd.Series, rr: pd.Series) -> pd.Series:
        out = np.empty(len(lr))
        for i, (lv, rv) in enumerate(zip(lr, rr)):
            out[i] = geom.geom_distance(
                "polygon", geom.rings_from_cell(lv), "polygon", geom.rings_from_cell(rv)
            )
        return pd.Series(out)

    out = pairs.withColumn("distance", pairdist("l_rings", "r_rings"))
    if radius is not None:
        out = out.filter(F.col("distance") <= F.lit(float(radius)))
    if self_join:
        out = out.filter(F.col("from_id") != F.col("to_id"))
    return out.select("from_id", "to_id", "distance")


def knn(
    spark: SparkSession,
    points: DataFrame,
    k: int = 5,
    res: int = 7,
) -> DataFrame:
    """Self k-nearest-neighbours: (from_id, rank, to_id, distance).

    Rings (1, 4, 16): the unresolved points join the candidates of their
    ring-radius cell disk; a point whose k-th distance is strictly below
    its distance to the outside of the disk is final (every point outside
    is farther). Whatever survives the last ring takes a cross join.
    """
    a = points.select(
        F.col("point_id").alias("from_id"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = points.select(
        F.col("point_id").alias("to_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    bc = _cell_keyed(b, "bx", "by", res)
    cx, cy = cellk.ix_col(F.col("ax"), res), cellk.iy_col(F.col("ay"), res)
    win = Window.partitionBy("from_id").orderBy("distance", "to_id")
    # persist: each ring's ranked table (<= k rows per query point —
    # output-sized, spillable) feeds the resolution test AND the result,
    # and each rest feeds the next ring; without them the candidate join
    # recomputes for every probe. Persisted handles ride the result —
    # util.release(out) frees them.
    handles, results = [], []
    rest = a
    for ring in (1, 4, 16):
        if ring > 1 and rest.isEmpty():
            break
        cand = (
            cellk.explode_disk(
                rest.withColumn("cx", cx).withColumn("cy", cy), "cx", "cy", res, ring,
                ix="jx", iy="jy",
            )
            .join(bc, ["jx", "jy"])
            .filter(F.col("from_id") != F.col("to_id"))
            .withColumn("distance", _dist(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))
            .select("from_id", "ax", "ay", "to_id", "distance")
        )
        ranked = (
            cand.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .persist()
        )
        handles.append(ranked)
        per_from = ranked.groupBy("from_id", "ax", "ay").agg(
            F.count("*").alias("n_cand"), F.max("distance").alias("kth")
        )
        bound = cellk.ring_min_distance_col(cx, cy, ring, F.col("ax"), F.col("ay"), res)
        ok_ids = per_from.filter((F.col("n_cand") >= k) & (F.col("kth") < bound)).select(
            "from_id"
        )
        results.append(
            ranked.join(F.broadcast(ok_ids), "from_id", "left_semi").select(
                "from_id", "rank", "to_id", "distance"
            )
        )
        # unpersist the superseded rest (bounds the CacheManager footprint
        # across rings; Spark recomputes transparently if a later action
        # still needs the evicted lineage). Ring 1's rest is the input,
        # never persisted: unpersisting it would make Spark rebuild the
        # not-yet-materialized caches planned on it.
        prev_rest = rest
        rest = rest.join(F.broadcast(ok_ids), "from_id", "left_anti").persist()
        if ring > 1:
            prev_rest.unpersist()

    # exact brute-force tail for whatever survives all rings
    fb = (
        rest.crossJoin(b)
        .filter(F.col("from_id") != F.col("to_id"))
        .withColumn("distance", _dist(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("from_id", "rank", "to_id", "distance")
    )
    results.append(fb)
    handles.append(rest)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return track_persisted(out, *handles)
