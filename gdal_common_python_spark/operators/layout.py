"""Spatial data layout at corpus scale — Z-order keys and hierarchical
cell rollups, all native Column expressions (JVM codegen, zero Python).

The reference has no storage-layout story at all (it streams features
one-by-one through OGR handles, lib/datasource.py); at 10^12 documents the
dominant cost is the SCAN, and scan cost is decided by layout. Two tools:

- ``zorder_key``: Morton-interleave the cell grid indices of a point into
  one long. Range-partitioning + sorting by this key clusters spatially
  adjacent rows into the same files, so parquet row-group min/max stats
  prune bbox queries server-side — the same trick Delta/Iceberg OPTIMIZE
  ZORDER applies, derived here from the engine's own cell scheme
  (kernels/cells.py: ix/iy quadtree indices).
- ``cell_rollup``: multi-resolution aggregation pyramid (H3-style res 7-12
  rollup): aggregate once at the finest resolution, then fold each coarser
  level from the PREVIOUS level by parent-cell summation — one shuffle over
  the raw data total; every coarser level aggregates an exponentially
  smaller input (never the raw table again).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..kernels import cells as cellk
from ..kernels.cells import _IX_SHIFT, _RES_SHIFT


def zorder_key(lon_col: Column, lat_col: Column, res: int = 12) -> Column:
    """Morton (Z-order) key of a lon/lat point at grid resolution ``res``:
    bit b of iy lands at position 2b, bit b of ix at 2b+1. Pure integer
    codegen expression — the formula ports verbatim to the DuckDB oracle."""
    if not 1 <= res <= 29:
        raise ValueError(f"res must be in [1, 29], got {res}")
    ix, iy = cellk.ix_col(lon_col, res), cellk.iy_col(lat_col, res)
    key = F.lit(0).cast("long")
    for b in range(res):
        key = key + F.shiftleft(F.shiftright(ix, b) % 2, 2 * b + 1)
        key = key + F.shiftleft(F.shiftright(iy, b) % 2, 2 * b)
    return key


def layout_by_zorder(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    res: int = 12,
    num_partitions: int | None = None,
    key_col: str = "zkey",
) -> DataFrame:
    """Cluster a point table for spatial locality: add the Z-order key and
    range-partition + sort by it. Writing the result gives files whose
    row-group min/max key (and therefore lon/lat) ranges are tight and
    mutually disjoint — bbox scans prune at the footer level.

    Range partitioning samples the key distribution (Spark's
    RangePartitioner), so skewed corpora (all points in one city) still
    split into balanced files rather than one hot partition."""
    out = df.withColumn(key_col, zorder_key(F.col(lon_col), F.col(lat_col), res))
    parts = [F.col(key_col)]
    if num_partitions:
        out = out.repartitionByRange(num_partitions, *parts)
    else:
        out = out.repartitionByRange(*parts)
    return out.sortWithinPartitions(key_col)


def _ancestor_cell(cell: Column, child_res: int, res: int) -> Column:
    """Native ancestor derivation (kernels.cells.parent) from a cell id at
    ``child_res`` up to ``res`` — pure long bit arithmetic."""
    _, ix, iy = cellk.decode_col(cell)
    s = child_res - res
    return cellk.pack_col(res, F.shiftright(ix, s), F.shiftright(iy, s))


def cell_rollup(
    points: DataFrame,
    lon_col: str = "x",
    lat_col: str = "y",
    res_fine: int = 12,
    res_coarse: int = 7,
) -> DataFrame:
    """Multi-resolution point-count pyramid over [res_coarse, res_fine]
    (the H3 res 7-12 hypertable-rollup shape): (res, cell, n_points).

    ONE linear plan, raw table scanned once: a wide aggregation at
    ``res_fine`` (map-side combine collapses each partition to its distinct
    cells before the shuffle), then every fine cell explodes into its
    ancestor chain — derived by bit arithmetic, no re-encoding — and a
    second aggregation sums the (exponentially smaller) pyramid. A naive
    per-level union would re-scan the raw table per level (O(levels^2)
    work under lazy evaluation); this shape is what survives 100 TB.
    Counts are exact at every level (the quadtree child partition of space
    is exact)."""
    if not 0 <= res_coarse <= res_fine:
        raise ValueError(f"need 0 <= res_coarse <= res_fine, got {res_coarse}/{res_fine}")
    fine = (
        points.select(cellk.encode_col(F.col(lon_col), F.col(lat_col), res_fine).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
    )
    chain = F.array(
        *[
            F.struct(
                F.lit(r).alias("res"),
                _ancestor_cell(F.col("cell"), res_fine, r).alias("cell"),
            )
            for r in range(res_coarse, res_fine + 1)
        ]
    )
    return (
        fine.select(F.explode(chain).alias("a"), "n_points")
        .groupBy(F.col("a.res").alias("res"), F.col("a.cell").alias("cell"))
        .agg(F.sum("n_points").cast("long").alias("n_points"))
    )


def cover_bbox_cells(
    df: DataFrame,
    res: int,
    xmin_col: str = "xmin",
    ymin_col: str = "ymin",
    xmax_col: str = "xmax",
    ymax_col: str = "ymax",
) -> DataFrame:
    """Native (pure codegen) bbox covering at ``res``: every cell whose
    rectangle intersects each row's bbox — the Column-expression twin of
    ``kernels.cells.cover_bbox`` (H3 polyfill analog on the quadtree
    scheme). One row per (input row, cell); fan-out is bounded by the
    bbox/cell size ratio, never data-dependent. Formula ports verbatim to
    the DuckDB oracle (floor/clamp + two unnested integer sequences)."""
    if not 0 <= res <= 29:
        raise ValueError(f"res must be in [0, 29], got {res}")
    out = cellk.explode_cover_bbox(
        df, xmin_col, ymin_col, xmax_col, ymax_col, res, ix="__ix", iy="__iy"
    )
    return out.withColumn("cell", cellk.pack_col(res, "__ix", "__iy")).drop("__ix", "__iy")


def compact_cells(
    cells: DataFrame,
    from_res: int,
    to_res: int,
    cell_col: str = "cell",
) -> DataFrame:
    """H3 ``compact`` analog on the quadtree cell scheme: replace every
    COMPLETE 4-sibling group with its parent, level by level from
    ``from_res`` down to ``to_res`` -> the minimal mixed-resolution cell
    set covering exactly the same area (-> (cell,) distinct rows).

    Plan (all lazy, no iteration-to-convergence, no checkpoints): per
    level, one window count over the parent key + distinct. The partition
    key for non-candidate rows is the row's own cell id (unique), so a
    parent ALREADY present in the input (redundant covering) lands in its
    children's group, the children still promote, and distinct() absorbs
    the duplicate — compaction is idempotent on redundant input. Work
    shrinks by up to 4x per level and the number of rounds is the fixed
    literal ``from_res - to_res``, so the plan is bounded at any data
    scale. The whole derivation is integer shift/mod codegen — the DuckDB
    oracle runs the verbatim same expressions."""
    if not 0 <= to_res <= from_res <= 29:
        raise ValueError(f"need 0 <= to_res <= from_res <= 29, got {to_res}/{from_res}")
    from pyspark.sql.window import Window

    cur = cells.select(F.col(cell_col).alias("cell")).distinct()
    for r in range(from_res, to_res, -1):
        res_c = cellk.decode_col("cell")[0]
        key = F.when(
            res_c == r, _ancestor_cell(F.col("cell"), r, r - 1)
        ).otherwise(F.col("cell"))
        w = Window.partitionBy("__k")
        cur = (
            cur.withColumn("__k", key)
            .withColumn(
                "__n",
                F.sum(F.when(res_c == r, F.lit(1)).otherwise(F.lit(0))).over(w),
            )
            .select(
                F.when((res_c == r) & (F.col("__n") == 4), F.col("__k"))
                .otherwise(F.col("cell"))
                .alias("cell")
            )
            .distinct()
        )
    return cur


def uncompact_cells(
    cells: DataFrame, res: int, cell_col: str = "cell"
) -> DataFrame:
    """H3 ``uncompact`` analog: expand every cell of a mixed-resolution
    set to its complete descendant set at ``res`` -> distinct (cell,)
    rows. Native: one explode over two integer sequences per row
    (fan-out 4^(res - cell_res), a data-independent bound); cells already
    at ``res`` pass through. Raises nothing on finer-than-``res`` input —
    callers filter; the gate shape (uncompact ∘ compact == identity on a
    uniform-res covering) pins the round-trip exactly."""
    if not 0 <= res <= 29:
        raise ValueError(f"res must be in [0, 29], got {res}")
    c = F.col(cell_col)
    res_c, ix, iy = cellk.decode_col(c)
    # 2^(res - cell_res) via pow: exact in double for exponents <= 29,
    # then exact long arithmetic (shiftleft-by-a-Column has no Spark API)
    n = F.pow(F.lit(2.0), (F.lit(res) - res_c).cast("double")).cast("long")
    out = (
        cells.select(c.alias("cell"))
        .withColumn("__n", n)
        .filter(F.col("__n") >= 1)
        .withColumn("__ix0", ix * F.col("__n"))
        .withColumn("__iy0", iy * F.col("__n"))
        .withColumn("__dx", F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - 1)))
        .withColumn("__dy", F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - 1)))
    )
    child = cellk.pack_col(
        res, F.col("__ix0") + F.col("__dx"), F.col("__iy0") + F.col("__dy")
    )
    return out.select(child.alias("cell")).distinct()


def cover_bbox_cells_oracle_sql(
    bbox_rel: str,
    res: int,
    xmin_col: str = "xmin",
    ymin_col: str = "ymin",
    xmax_col: str = "xmax",
    ymax_col: str = "ymax",
) -> str:
    """DuckDB mirror of :func:`cover_bbox_cells` -> DISTINCT cell rows.
    Verbatim floor/clamp arithmetic; the two integer ranges unnest in two
    separate SELECT levels (two unnests in ONE DuckDB select would zip,
    not cross)."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    return f"""
SELECT DISTINCT (CAST({res} AS BIGINT) * {1 << _RES_SHIFT})
       + ix * {1 << _IX_SHIFT} + unnest(generate_series(iy0, iy1)) AS cell
FROM (
  SELECT unnest(generate_series(ix0, ix1)) AS ix, iy0, iy1
  FROM (
    SELECT
      CAST(least(greatest(floor(({xmin_col} + 180.0) / {w!r}), 0), {n - 1}) AS BIGINT) AS ix0,
      CAST(least(greatest(floor(({xmax_col} + 180.0) / {w!r}), 0), {n - 1}) AS BIGINT) AS ix1,
      CAST(least(greatest(floor(({ymin_col} + 90.0) / {h!r}), 0), {n - 1}) AS BIGINT) AS iy0,
      CAST(least(greatest(floor(({ymax_col} + 90.0) / {h!r}), 0), {n - 1}) AS BIGINT) AS iy1
    FROM {bbox_rel}
  )
)"""


def compact_cells_oracle_sql(cover_sql: str, from_res: int, to_res: int) -> str:
    """DuckDB mirror of :func:`compact_cells`: the per-level
    window-count + CASE + DISTINCT round unrolled ``from_res - to_res``
    times (the engine's loop is the same fixed literal count), each level
    using the verbatim shift/mod parent arithmetic."""
    m = 1 << _IX_SHIFT
    parts = [f"l{from_res + 1} AS ({cover_sql})"]
    for r in range(from_res, to_res, -1):
        parent = (
            f"(CAST({r - 1} AS BIGINT) * {1 << _RES_SHIFT})"
            f" + (((cell // {m}) % {m}) // 2) * {m}"
            f" + ((cell % {m}) // 2)"
        )
        parts.append(f"""l{r} AS (
  SELECT DISTINCT CASE WHEN (cell // {1 << _RES_SHIFT}) = {r} AND cnt = 4
                       THEN k ELSE cell END AS cell
  FROM (
    SELECT cell, k,
           sum(CASE WHEN (cell // {1 << _RES_SHIFT}) = {r} THEN 1 ELSE 0 END)
             OVER (PARTITION BY k) AS cnt
    FROM (
      SELECT cell,
             CASE WHEN (cell // {1 << _RES_SHIFT}) = {r} THEN {parent}
                  ELSE cell END AS k
      FROM l{r + 1}
    )
  )
)""")
        # chain: l{from_res+1} is the cover, each l{r} reads l{r+1}
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT cell // {1 << _RES_SHIFT} AS res, cell FROM l{to_res + 1}"
    )


_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon_col: Column, lat_col: Column, precision: int = 9) -> Column:
    """Standard geohash string of a lon/lat point (base32, lon bit first) —
    pure integer codegen, no UDF: quantize each axis to its bit budget
    (ceil/floor of 5p/2), Morton-interleave MSB-first, then pick base32
    digits with substring arithmetic. The formula ports verbatim to the
    DuckDB oracle, so the gate hash-compares the strings themselves."""
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2  # lon owns the even bit positions from MSB
    lat_bits = nbits // 2
    nx, ny = 1 << lon_bits, 1 << lat_bits
    ix = F.least(
        F.greatest(F.floor((lon_col + F.lit(180.0)) / F.lit(360.0) * nx), F.lit(0)),
        F.lit(nx - 1),
    ).cast("long")
    iy = F.least(
        F.greatest(F.floor((lat_col + F.lit(90.0)) / F.lit(180.0) * ny), F.lit(0)),
        F.lit(ny - 1),
    ).cast("long")
    # bit b of the geohash value (MSB = bit nbits-1): even offsets from the
    # top take lon bits (MSB first), odd offsets take lat bits
    val = F.lit(0).cast("long")
    for b in range(nbits):
        pos = nbits - 1 - b  # target bit position in the value
        if b % 2 == 0:
            src = ix, lon_bits - 1 - b // 2
        else:
            src = iy, lat_bits - 1 - b // 2
        val = val + F.shiftleft(F.shiftright(src[0], src[1]) % 2, pos)
    chars = [
        F.substring(
            F.lit(_GH32), (F.shiftright(val, 5 * (precision - 1 - i)) % 32 + 1).cast("int"), 1
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def grid_disk(
    df: DataFrame,
    res: int,
    k: int,
    cell_col: str = "cell",
    out_col: str = "neighbor",
) -> DataFrame:
    """H3 ``gridDisk`` analog on the quadtree scheme: one row per (input
    row, cell within Chebyshev ring distance <= ``k``) — the neighborhood
    expansion the kNN ring search uses (``kernels.cells.disk``), exposed as
    a pure-codegen DataFrame op. Neighbors that would fall outside the
    [0, 2^res) index domain are dropped (the grid does not wrap; H3's
    pentagon-distortion caveat maps to this edge clipping here).

    Fan-out is the fixed (2k+1)^2 bound — never data-dependent — so the
    explode stays safe at any corpus size; no shuffle is introduced.
    Formula ports verbatim to the DuckDB oracle
    (:func:`grid_disk_oracle_sql`)."""
    if not 0 <= res <= 29:
        raise ValueError(f"res must be in [0, 29], got {res}")
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    _, ix, iy = cellk.decode_col(cell_col)
    out = cellk.explode_disk(df, ix, iy, res, k, ix="__nix", iy="__niy")
    return out.withColumn(out_col, cellk.pack_col(res, "__nix", "__niy")).drop(
        "__nix", "__niy"
    )


def grid_distance(cell_a: Column, cell_b: Column) -> Column:
    """H3 ``gridDistance`` analog: Chebyshev cell distance between two
    same-resolution cells (the ring index at which ``grid_disk`` from one
    first reaches the other). Pure integer codegen; ports verbatim to SQL."""
    _, ixa, iya = cellk.decode_col(cell_a)
    _, ixb, iyb = cellk.decode_col(cell_b)
    return F.greatest(F.abs(ixa - ixb), F.abs(iya - iyb))


def grid_disk_oracle_sql(cells_rel: str, res: int, k: int,
                         cell_col: str = "cell") -> str:
    """DuckDB mirror of :func:`grid_disk`: the same clamp + two integer
    sequences, unnested in two SELECT levels (one level would zip)."""
    n = 1 << res
    m = 1 << _IX_SHIFT
    return f"""
SELECT * EXCLUDE (__ix, __iy, __nix),
       (CAST({res} AS BIGINT) * {1 << _RES_SHIFT})
       + __nix * {m}
       + unnest(generate_series(greatest(__iy - {k}, 0),
                                least(__iy + {k}, {n - 1}))) AS neighbor
FROM (
  SELECT *, unnest(generate_series(greatest(__ix - {k}, 0),
                                   least(__ix + {k}, {n - 1}))) AS __nix
  FROM (
    SELECT *, ({cell_col} // {m}) % {m} AS __ix, {cell_col} % {m} AS __iy
    FROM {cells_rel}
  )
)"""


def polyfill(
    zones: DataFrame,
    edges: DataFrame,
    res: int,
    id_col: str = "zone_id",
) -> DataFrame:
    """H3 ``polygonToCells`` (polyfill) analog: all cells at ``res`` whose
    CENTER lies inside each polygon (H3's center-containment rule) ->
    (zone_id, cell). ``zones`` needs ``bbox4326``; ``edges`` is the flat
    4326 edge table (ex1..ey2).

    Fully native: the bbox covering is :func:`cover_bbox_cells` (bounded
    fan-out), centers refine by even-odd crossing parity — the SAME IEEE
    expression tree as the distributed PIP join, aggregated with map-side
    combine on (zone_id, cell). Shuffle ∝ covering cells × edges-per-zone,
    never a corpus. Bit-exact vs the oracle."""
    if not 0 <= res <= 29:
        raise ValueError(f"res must be in [0, 29], got {res}")
    w, h = cellk.cell_size(res)
    cov = cover_bbox_cells(
        zones.select(
            F.col(id_col),
            F.col("bbox4326.xmin").alias("xmin"),
            F.col("bbox4326.ymin").alias("ymin"),
            F.col("bbox4326.xmax").alias("xmax"),
            F.col("bbox4326.ymax").alias("ymax"),
        ),
        res=res,
    ).select(id_col, "cell")
    _, ix, iy = cellk.decode_col("cell")
    cx = F.lit(-180.0) + (ix + F.lit(0.5)) * F.lit(w)
    cy = F.lit(-90.0) + (iy + F.lit(0.5)) * F.lit(h)
    cand = cov.select(id_col, "cell", cx.alias("__cx"), cy.alias("__cy"))
    j = cand.join(edges, id_col)
    crossing = (
        (F.col("ey1") > F.col("__cy")) != (F.col("ey2") > F.col("__cy"))
    ) & (
        F.col("__cx")
        < (F.col("ex2") - F.col("ex1"))
        * (F.col("__cy") - F.col("ey1"))
        / (F.col("ey2") - F.col("ey1"))
        + F.col("ex1")
    )
    return (
        j.groupBy(id_col, "cell")
        .agg(F.sum(crossing.cast("long")).alias("__c"))
        .filter(F.col("__c") % 2 == 1)
        .select(id_col, "cell")
    )


def cell_bounds(df: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """H3 ``cellToBoundary`` analog on the quadtree scheme: append the
    cell rectangle (cell_xmin/ymin/xmax/ymax) — pure codegen, exact
    power-of-two edge arithmetic, ports verbatim to SQL."""
    if not 0 <= res <= 29:
        raise ValueError(f"res must be in [0, 29], got {res}")
    w, h = cellk.cell_size(res)
    _, ix, iy = cellk.decode_col(cell_col)
    return (
        df.withColumn("cell_xmin", F.lit(-180.0) + ix * F.lit(w))
        .withColumn("cell_ymin", F.lit(-90.0) + iy * F.lit(h))
        .withColumn("cell_xmax", F.lit(-180.0) + (ix + 1) * F.lit(w))
        .withColumn("cell_ymax", F.lit(-90.0) + (iy + 1) * F.lit(h))
    )


def polyfill_oracle_sql(
    zones_rel: str, edges_rel: str, res: int, id_col: str = "zone_id"
) -> str:
    """DuckDB oracle for :func:`polyfill`: per-zone bbox covering (verbatim
    clamp arithmetic, zone id carried) + crossing-parity center test."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    m = 1 << _IX_SHIFT
    return f"""
WITH cov AS (
  SELECT {id_col},
         (CAST({res} AS BIGINT) * {1 << _RES_SHIFT})
         + ix * {m}
         + unnest(generate_series(iy0, iy1)) AS cell
  FROM (
    SELECT {id_col}, unnest(generate_series(ix0, ix1)) AS ix, iy0, iy1
    FROM (
      SELECT {id_col},
        CAST(least(greatest(floor((bbox4326.xmin + 180.0) / {w!r}), 0), {n - 1}) AS BIGINT) AS ix0,
        CAST(least(greatest(floor((bbox4326.xmax + 180.0) / {w!r}), 0), {n - 1}) AS BIGINT) AS ix1,
        CAST(least(greatest(floor((bbox4326.ymin + 90.0) / {h!r}), 0), {n - 1}) AS BIGINT) AS iy0,
        CAST(least(greatest(floor((bbox4326.ymax + 90.0) / {h!r}), 0), {n - 1}) AS BIGINT) AS iy1
      FROM {zones_rel}
    )
  )
),
cand AS (
  SELECT {id_col}, cell,
         -180.0 + (((cell // {m}) % {m}) + 0.5) * {w!r} AS cx,
         -90.0 + ((cell % {m}) + 0.5) * {h!r} AS cy
  FROM cov
)
SELECT c.{id_col}, c.cell
FROM cand c JOIN {edges_rel} e USING ({id_col})
WHERE (e.ey1 > c.cy) != (e.ey2 > c.cy)
  AND c.cx < (e.ex2 - e.ex1) * (c.cy - e.ey1) / (e.ey2 - e.ey1) + e.ex1
GROUP BY 1, 2
HAVING count(*) % 2 = 1
"""


def cell_smooth(
    points: DataFrame,
    res: int = 9,
    k: int = 1,
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """Focal (k-ring) smoothing of the per-cell point density — the
    hex-bin heatmap blur: every cell within Chebyshev distance ``k`` of a
    data cell gets (cell, total, area, smooth) where ``total`` sums the
    point counts of its populated ring-``k`` neighbors, ``area`` is the
    cell's FULL clipped window size ((2k+1)^2 away from the domain edge —
    absent cells count as zero, a true focal mean over the implicit dense
    grid), and ``smooth = total / area`` (one double division of exact
    integers — hash-exact).

    100 TB shape: one groupBy(cell) census (map-side combine; shuffle ∝
    distinct cells), a fixed (2k+1)^2 dilation via :func:`grid_disk`
    (never data-dependent fan-out), and a second cell-keyed aggregation
    over the dilated stream. Points never move twice; the smoothing
    operates entirely in cell space."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    n = 1 << res
    counts = (
        points.select(cellk.encode_col(F.col(lon_col), F.col(lat_col), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )
    dil = grid_disk(counts, res, k, cell_col="cell", out_col="neighbor")
    _, ix, iy = cellk.decode_col("cell")
    area = (
        (F.least(ix + k, F.lit(n - 1)) - F.greatest(ix - k, F.lit(0)) + 1)
        * (F.least(iy + k, F.lit(n - 1)) - F.greatest(iy - k, F.lit(0)) + 1)
    ).cast("long")
    return (
        dil.groupBy(F.col("neighbor").alias("cell"))
        .agg(F.sum("n").cast("long").alias("total"))
        .select(
            "cell",
            "total",
            area.alias("area"),
            (F.col("total").cast("double") / area.cast("double")).alias("smooth"),
        )
    )


def cell_smooth_oracle_sql(pts_cte: str, res: int = 9, k: int = 1) -> str:
    """DuckDB mirror of :func:`cell_smooth` — same census, the
    :func:`grid_disk_oracle_sql` dilation, and the clipped-window area."""
    n = 1 << res
    m = 1 << _IX_SHIFT
    w, h = 360.0 / n, 180.0 / n
    counts = f"""
  SELECT (CAST({res} AS BIGINT) * {1 << _RES_SHIFT}) + ix * {m} + iy AS cell,
         CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT
      CAST(least(greatest(floor((px + 180.0) / {w!r}), 0), {n - 1}) AS BIGINT) AS ix,
      CAST(least(greatest(floor((py + 90.0) / {h!r}), 0), {n - 1}) AS BIGINT) AS iy
    FROM pts
  ) GROUP BY 1
"""
    disk = grid_disk_oracle_sql(f"({counts})", res, k)
    return f"""
WITH pts AS ({pts_cte}),
dil AS ({disk})
SELECT neighbor AS cell,
       CAST(sum(n) AS BIGINT) AS total,
       CAST((least((neighbor // {m}) % {m} + {k}, {n - 1})
             - greatest((neighbor // {m}) % {m} - {k}, 0) + 1)
          * (least(neighbor % {m} + {k}, {n - 1})
             - greatest(neighbor % {m} - {k}, 0) + 1) AS BIGINT) AS area,
       CAST(sum(n) AS DOUBLE)
       / CAST((least((neighbor // {m}) % {m} + {k}, {n - 1})
               - greatest((neighbor // {m}) % {m} - {k}, 0) + 1)
            * (least(neighbor % {m} + {k}, {n - 1})
               - greatest(neighbor % {m} - {k}, 0) + 1) AS DOUBLE) AS smooth
FROM dil
GROUP BY neighbor
"""
