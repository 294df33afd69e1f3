"""Cell-partitioned spatial join (J2, SURVEY §2.3) — the engine's core.

Reference semantics: ``join.intersect`` (lib/join.py:5-60) tests every
(input, join) pair with OGR ``Intersects`` in an O(n*m) nested loop, auto-
reprojecting the join side when CRS differs (lib/_rectifyinputs.py:18-28),
and emits a one-to-many result. This engine re-expresses it Spark-first:

    documents --posexplode(spans)--> geo spans --parse (native regexp for
    points / Arrow UDF for polygons)--> covering cells  ==equi-join on cell==
    zones exploded by bbox cell cover --> dropDuplicates(pair) --> exact
    PIP / intersects refinement (Arrow batch kernel) --> (doc_id, offset,
    zone_id) rows

Physical strategy (SURVEY §4):
- zone side small  -> ``broadcast()`` hash join (no shuffle of the doc side);
- zone side large  -> sort-merge on cell with OPTIONAL hot-cell salting:
  a sampled cell histogram finds heavy cells, the zone side is replicated
  ``n_salt`` ways for those cells and the point side scatters with
  ``pmod(xxhash64(doc_id), n_salt)`` — bounding any single reducer's share
  of a hot cell. AQE skew-join stays on as the backstop.
- Cell resolution is picked from the zone bbox-width distribution
  (kernels.cells.pick_resolution).

Correctness never depends on cells: every candidate pair is refined by the
exact kernel (kernels.geom), and the refinement formula is identical to the
DuckDB oracle SQL the driver runs.

Span-sequence invariant: this operator only ever *reads* ``spans`` through
``posexplode`` into a derived table keyed by (doc_id, offset); the documents
spine is never rewritten (SURVEY §7 hard-part 4).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..kernels import cells as cellk, geom, proj

POINT_RX = r"POINT\(([-+0-9.eE]+) ([-+0-9.eE]+)\)"

# native (JVM codegen) cell id of a lon/lat point — kernels.cells.encode
cell_expr = cellk.encode_col


def geo_spans(docs: DataFrame, points_only: bool = False) -> DataFrame:
    """documents -> (doc_id, offset, wkt) for kind='geo' spans.

    Pure native plan: posexplode + filters push column pruning down to the
    parquet scan (only doc_id and spans are read).
    """
    out = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "geo")
        .select("doc_id", F.col("s.offset").alias("offset"), F.col("s.text").alias("wkt"))
    )
    if points_only:
        out = out.filter(F.col("wkt").startswith("POINT"))
    return out


def geo_points(docs: DataFrame) -> DataFrame:
    """(doc_id, offset, x, y) for POINT geo spans — fully JVM-side parse.

    The parse is plain string scans — substring_index to the text between
    the last ``(`` and the next ``)``, one split on the coordinate
    separator — instead of regexp (two java.util.regex passes per span
    cost ~25% of the whole flagship execution wall at the bench scale; the
    string-scan parse is free against the scan+explode floor). Strictness
    (ADVICE r4): the inner text must split to EXACTLY two coordinate
    tokens — 'POINT(1 2 3)' and other n!=2 forms null out instead of
    silently taking the first two — and each token parses via try_cast.
    The oracle CTE (``point_parse_sql`` below) mirrors this string-scan
    semantic function-for-function (same last-paren scan, same 2-token
    gate, same TRY_CAST), so engine and oracle agree on EVERY input by
    construction, not just on well-formed synth spans. A regexp-strict
    variant was measured at -45% flagship throughput (the extra per-span
    scans in the generator expression) and rejected. The parse stays
    wrapped in an explode(array(struct(...))) barrier: without it,
    Catalyst's constraint propagation re-derives isnotnull() filters on
    x/y (from the downstream join/filter conditions) and re-evaluates the
    parse per constraint — measured 2-4 passes per span instead of one.
    Filters cannot push below a Generate, so the parse runs exactly once
    and the (tiny) one-element explode is free in codegen."""
    inner = F.substring_index(F.substring_index("wkt", "(", -1), ")", 1)
    # the generator emits the TOKEN ARRAY (string scans run exactly once);
    # the 2-token gate + element casts above it are O(1) array ops, cheap
    # even when constraint propagation re-derives them
    parsed = F.explode(F.array(F.split(inner, " ")))
    toks = F.col("toks")
    two = F.size(toks) == 2
    return (
        geo_spans(docs, points_only=True)
        .select("doc_id", "offset", parsed.alias("toks"))
        .select(
            "doc_id",
            "offset",
            F.when(two, F.element_at(toks, 1).try_cast("double")).alias("x"),
            F.when(two, F.element_at(toks, 2).try_cast("double")).alias("y"),
        )
    )


def point_parse_sql(docs_rel: str) -> str:
    """DuckDB CTE body mirroring :func:`geo_points` FUNCTION-FOR-FUNCTION:
    the same last-``(`` scan, first-``)`` cut, single-space split, exactly-
    two-token gate, and per-token TRY_CAST — so engine and oracle agree on
    every input (well-formed or malformed) by construction, not just on
    what synth happens to emit (ADVICE r4). Columns: (doc_id, off, px, py);
    malformed spans surface with NULL coordinates on BOTH sides."""
    return f"""
  SELECT doc_id, off,
         CASE WHEN len(toks) = 2 THEN TRY_CAST(toks[1] AS DOUBLE) END px,
         CASE WHEN len(toks) = 2 THEN TRY_CAST(toks[2] AS DOUBLE) END py
  FROM (
    SELECT doc_id, s."offset" AS off,
           string_split(string_split(list_extract(string_split(s.text, '('), -1), ')')[1], ' ') AS toks
    FROM (SELECT doc_id, unnest(spans) s FROM {docs_rel})
    WHERE s.kind = 'geo' AND s.text LIKE 'POINT%'
  )
"""


def rectified_zone_rings(zones_pdf: pd.DataFrame, to_srid: int = 4326) -> dict:
    """{zone_id: rings in `to_srid`} — the V2 auto-rectify rule applied to the
    (smaller) zone side, like the reference reprojects the join side
    (lib/_rectifyinputs.py:22-28) but lazily and without temp files.

    When the table carries an ingest-time ``rings4326`` column (the
    production layout: one transform at write time instead of per query),
    that is used verbatim — bit-identical to what the oracle reads."""
    out = {}
    if to_srid == 4326 and "rings4326" in zones_pdf.columns:
        for zid, rings in zip(zones_pdf["zone_id"], zones_pdf["rings4326"]):
            out[int(zid)] = geom.rings_from_cell(rings)
        return out
    for zid, srid, rings in zip(zones_pdf["zone_id"], zones_pdf["srid"], zones_pdf["rings"]):
        r = geom.rings_from_cell(rings)
        out[int(zid)] = proj.transform_rings(r, int(srid), to_srid)
    return out


def zone_cells(
    spark: SparkSession,
    zones: DataFrame,
    res: int,
    to_srid: int = 4326,
    with_bbox: bool = False,
    with_anchor: bool = False,
) -> DataFrame:
    """Explode zones by bbox cell cover at `res` -> (zone_id, cell).

    Native plan: rectify bbox corners (only 3857 needs the mercator inverse,
    done with built-in math functions — no UDF), then a 2-D sequence explode.

    ``with_bbox=True`` carries the rectified bbox corners along so the
    consumer can bbox-prefilter candidates in codegen before any exact
    refinement — edge cells of the cover admit points far outside the zone,
    and dropping them JVM-side keeps them out of the Arrow exchange.

    ``with_anchor=True`` carries the cover rectangle's min corner
    (``zix0``, ``ziy0``): because a bbox cover is a contiguous index
    rectangle, the minimum SHARED cell of two covers is simply
    ``(max(ix0s), max(iy0s))`` — which lets a consumer emit each
    (span, zone) pair exactly once with a codegen filter instead of a
    dedup shuffle (see spatial_join_geoms).
    """
    if "bbox4326" in zones.columns:
        # ingest-time rectified bbox: no runtime transform at all
        z = zones.select(
            "zone_id",
            F.col("bbox4326.xmin").alias("xmin"),
            F.col("bbox4326.ymin").alias("ymin"),
            F.col("bbox4326.xmax").alias("xmax"),
            F.col("bbox4326.ymax").alias("ymax"),
        )
    else:
        inv_x = F.degrees(F.col("bbox.xmin") / F.lit(proj.R_MERC))
        inv_x2 = F.degrees(F.col("bbox.xmax") / F.lit(proj.R_MERC))
        inv_y = F.degrees(
            F.atan(F.exp(F.col("bbox.ymin") / F.lit(proj.R_MERC))) * 2 - F.lit(float(np.pi / 2))
        )
        inv_y2 = F.degrees(
            F.atan(F.exp(F.col("bbox.ymax") / F.lit(proj.R_MERC))) * 2 - F.lit(float(np.pi / 2))
        )
        is_merc = F.col("srid") == 3857
        z = zones.select(
            "zone_id",
            F.when(is_merc, inv_x).otherwise(F.col("bbox.xmin")).alias("xmin"),
            F.when(is_merc, inv_y).otherwise(F.col("bbox.ymin")).alias("ymin"),
            F.when(is_merc, inv_x2).otherwise(F.col("bbox.xmax")).alias("xmax"),
            F.when(is_merc, inv_y2).otherwise(F.col("bbox.ymax")).alias("ymax"),
        )
    carry = ["xmin", "ymin", "xmax", "ymax"] if with_bbox else []
    anchor = (
        [F.col("ix0").alias("zix0"), F.col("iy0").alias("ziy0")] if with_anchor else []
    )
    z = z.select(
        "zone_id",
        cellk.ix_col(F.col("xmin"), res).alias("ix0"),
        cellk.ix_col(F.col("xmax"), res).alias("ix1"),
        cellk.iy_col(F.col("ymin"), res).alias("iy0"),
        cellk.iy_col(F.col("ymax"), res).alias("iy1"),
        *carry,
    )
    return cellk.explode_rect(z, "ix0", "ix1", "iy0", "iy1").select(
        "zone_id", cellk.pack_col(res, "ix", "iy").alias("cell"), *anchor, *carry
    )


def bbox_prefilter(cand: DataFrame) -> DataFrame:
    """Codegen bbox gate on candidate rows carrying (x, y, xmin..ymax) —
    inclusive bounds, so it is strictly conservative w.r.t. the exact
    refinement that follows; then the bbox columns are dropped."""
    return cand.filter(
        (F.col("x") >= F.col("xmin"))
        & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin"))
        & (F.col("y") <= F.col("ymax"))
    ).drop("xmin", "ymin", "xmax", "ymax")


def pick_join_resolution(zones: DataFrame) -> int:
    """Sample zone bbox widths (in degrees, mercator-corrected) and pick the
    join resolution (SURVEY §4 custom decision 1). The sample is ordered by
    zone_id before the limit: an unordered limit(2000) depends on partition
    layout, so the chosen resolution — a performance knob, not a
    correctness input — could differ across otherwise-identical runs
    (round-5 verdict nit #2). The orderBy is zone-dimension-sized."""
    sample = zones.select("zone_id", "bbox", "srid").orderBy("zone_id").limit(2000).collect()
    widths = []
    for r in sample:
        wdeg = r.bbox.xmax - r.bbox.xmin
        if r.srid == 3857:
            wdeg = np.degrees(wdeg / proj.R_MERC)
        widths.append(wdeg)
    return cellk.pick_resolution(np.asarray(widths or [1.0]))


def hot_cells(points_with_cell: DataFrame, threshold: int, sample_frac: float = 0.02) -> list[int]:
    """Estimate heavy cells from a sample: cells whose extrapolated count
    exceeds `threshold` (SURVEY §4: explicit salting for hot cells)."""
    est = (
        points_with_cell.sample(fraction=sample_frac, seed=7)
        .groupBy("cell")
        .count()
        .filter(F.col("count") * (1.0 / sample_frac) > threshold)
        .select("cell")
        .collect()
    )
    return [r.cell for r in est]


def spatial_join_points(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    res: int | None = None,
    strategy: str = "auto",
    n_salt: int = 8,
    salt_threshold: int = 2_000_000,
    broadcast_zone_limit: int = 2_000_000,
    collect_zone_limit: int = 2_000_000,
) -> DataFrame:
    """Point-in-polygon join: geo POINT spans x zones -> (doc_id, offset, zone_id).

    `strategy`: 'broadcast' | 'sortmerge' | 'auto' (auto picks broadcast when
    the exploded zone-cell side is comfortably under `broadcast_zone_limit`
    rows, mirroring what you'd do cluster-side with real size stats).

    The Arrow PIP kernel needs the zone rings collected once to the driver;
    past `collect_zone_limit` zones — or past the byte cap on the sampled
    ring payload (operators.util.broadcastable: a row cap alone admits an
    oversized driver dict when rings are detailed) — 'auto' dispatches to
    the fully distributed edge-join refinement instead (identical output,
    no driver materialization).
    """
    from .util import broadcastable

    ring_proj = ["zone_id", "rings4326"] if "rings4326" in zones.columns else ["zone_id", "srid", "rings"]
    if strategy == "auto" and not broadcastable(zones.select(*ring_proj), collect_zone_limit):
        return spatial_join_points_distributed(
            spark,
            docs,
            zones,
            res=res if res is not None else pick_join_resolution(zones),
        )
    pts = geo_points(docs)

    # ONE driver-side collect of the (small) zone side feeds everything:
    # resolution pick, refinement edges, and the strategy estimate — no
    # extra Spark jobs on the query path
    zcols = ["zone_id", "srid", "rings"] + (["rings4326"] if "rings4326" in zones.columns else [])
    zones_pdf = zones.select(*zcols).toPandas()
    rect = rectified_zone_rings(zones_pdf)
    if res is None:
        widths = np.asarray(
            [geom.rings_bbox(r)[2] - geom.rings_bbox(r)[0] for r in rect.values()] or [1.0]
        )
        res = cellk.pick_resolution(widths)
    edges = {zid: geom.rings_to_edges(rings) for zid, rings in rect.items()}
    bc_edges = spark.sparkContext.broadcast(edges)
    use_bbox = os.environ.get("SPARK_GRAFT_BBOX_PREFILTER", "1") != "0"
    zc = zone_cells(spark, zones, res, with_bbox=use_bbox)

    pts = pts.withColumn("cell", cell_expr(F.col("x"), F.col("y"), res))

    if strategy == "auto":
        # estimate the exploded zone-cell count from the collected bboxes
        # instead of running a count job
        w, h = cellk.cell_size(res)
        est = 0
        for rings in rect.values():
            xmin, ymin, xmax, ymax = geom.rings_bbox(rings)
            est += max(1, int((xmax - xmin) / w) + 1) * max(1, int((ymax - ymin) / h) + 1)
        strategy = "broadcast" if est <= broadcast_zone_limit else "sortmerge"

    if strategy == "broadcast":
        cand = pts.join(F.broadcast(zc), "cell")
    else:
        hot = hot_cells(pts, salt_threshold)
        if hot:
            hot_arr = F.array(*[F.lit(c) for c in hot])
            salts = spark.range(n_salt).select(F.col("id").cast("int").alias("salt"))
            zc_salted = zc.withColumn(
                "is_hot", F.array_contains(hot_arr, F.col("cell"))
            ).join(F.broadcast(salts), how="cross").filter(
                F.col("is_hot") | (F.col("salt") == 0)
            )
            pts_salted = pts.withColumn(
                "salt",
                F.when(
                    F.array_contains(hot_arr, F.col("cell")),
                    F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).cast("int"),
                ).otherwise(F.lit(0)),
            )
            cand = pts_salted.join(zc_salted, ["cell", "salt"])
        else:
            cand = pts.join(zc, "cell")

    if use_bbox:
        cand = bbox_prefilter(cand)
    cand = cand.select("doc_id", "offset", "x", "y", "zone_id")

    @F.pandas_udf(T.BooleanType())
    def pip(zone_id: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        ed = bc_edges.value
        out = np.zeros(len(zone_id), dtype=bool)
        if len(zone_id) == 0:
            return pd.Series(out)
        zi = zone_id.to_numpy()
        xs = x.to_numpy(dtype=np.float64)
        ys = y.to_numpy(dtype=np.float64)
        # sort once, process contiguous zone runs: O(n log n) instead of
        # O(n_zones * batch) boolean masking
        order = np.argsort(zi, kind="stable")
        zs = zi[order]
        starts = np.concatenate([[0], np.flatnonzero(np.diff(zs)) + 1, [len(zs)]])
        for s0, s1 in zip(starts[:-1], starts[1:]):
            e = ed.get(int(zs[s0]))
            if e is not None and len(e):
                idx = order[s0:s1]
                out[idx] = geom.points_in_rings(xs[idx], ys[idx], e)
        return pd.Series(out)

    return (
        cand.withColumn("hit", pip("zone_id", "x", "y"))
        .filter(F.col("hit"))
        .select("doc_id", "offset", "zone_id")
    )


def zone_edges_df(zones: DataFrame) -> DataFrame:
    """(zone_id, ex1, ey1, ex2, ey2) in 4326 derived natively from the rings
    column (closed rings: consecutive point pairs) — no companion table and
    no driver materialization, all codegen/HOF on the zone side only."""
    if "rings4326" in zones.columns:
        r = zones.select("zone_id", F.explode("rings4326").alias("ring"))
    else:
        # native-srid rings must be rectified to 4326 before the crossing
        # test (points are 4326). 4326 passes through; 3857 has a closed-form
        # native inverse (same formulas zone_cells uses); anything else needs
        # the ingest-time rings4326 column or the Arrow-kernel path.
        r = zones.select("zone_id", "srid", F.explode("rings").alias("ring"))
        is_merc = F.col("srid") == 3857
        bad = r.filter(~F.col("srid").isin(4326, 3857)).limit(1).count()
        if bad:
            raise ValueError(
                "zone_edges_df: zones carry srid other than 4326/3857 and no "
                "rings4326 column — rectify at ingest or use the kernel path"
            )
        inv = F.transform(
            F.col("ring"),
            lambda p: F.array(
                F.when(is_merc, F.degrees(F.element_at(p, 1) / F.lit(proj.R_MERC))).otherwise(
                    F.element_at(p, 1)
                ),
                F.when(
                    is_merc,
                    F.degrees(
                        F.atan(F.exp(F.element_at(p, 2) / F.lit(proj.R_MERC))) * 2
                        - F.lit(float(np.pi / 2))
                    ),
                ).otherwise(F.element_at(p, 2)),
            ),
        )
        r = r.select("zone_id", inv.alias("ring"))
    # rings are stored OPEN (last point != first): edge i pairs point i with
    # point (i mod n)+1 so the closing segment is included
    idx = F.sequence(F.lit(1), F.size("ring"))
    nxt = lambda i: F.pmod(i, F.size("ring")) + 1  # noqa: E731
    edge = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.element_at(F.col("ring"), i), 1).alias("ex1"),
            F.element_at(F.element_at(F.col("ring"), i), 2).alias("ey1"),
            F.element_at(F.element_at(F.col("ring"), nxt(i).cast("int")), 1).alias("ex2"),
            F.element_at(F.element_at(F.col("ring"), nxt(i).cast("int")), 2).alias("ey2"),
        ),
    )
    return r.select("zone_id", F.explode(edge).alias("e")).select(
        "zone_id", "e.ex1", "e.ey1", "e.ex2", "e.ey2"
    )


def edge_cells(edges: DataFrame, res: int, prefix: str = "") -> DataFrame:
    """One row per (edge, grid cell its bbox covers at ``res``), the cell as
    (cx, cy) — the edge bucketing :func:`edge_intersections` and
    :func:`nearest_zone_distance` join on. Edge columns are
    ``{prefix}ex1 .. {prefix}ey2``."""
    x1, y1, x2, y2 = (F.col(f"{prefix}{c}") for c in ("ex1", "ey1", "ex2", "ey2"))
    return cellk.explode_cover_bbox(
        edges, F.least(x1, x2), F.least(y1, y2), F.greatest(x1, x2), F.greatest(y1, y2),
        res, ix="cx", iy="cy",
    )


def spatial_join_points_distributed(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    zone_edges: DataFrame | None = None,
    res: int = 9,
    strategy: str = "auto",
    broadcast_edge_limit: int = 5_000_000,
) -> DataFrame:
    """Point-in-polygon join with NO driver-side zone materialization — the
    plan that survives a zone side too large to collect or broadcast.

    ``spatial_join_points`` collects the zone rings once to build the Arrow
    PIP kernel's broadcast dict — ideal for dimension-sized zone layers but
    a driver wall at millions of polygons. This variant keeps everything as
    joins: candidates (cell equi-join, sort-merge capable on both sides)
    are refined by joining the flat ``zone_edges`` table on zone_id and
    counting even-odd ray crossings with plain codegen arithmetic:

        crossing := (ey1 > py) != (ey2 > py)
                    AND px < (ex2-ex1)*(py-ey1)/(ey2-ey1) + ex1
        hit      := count(crossing) per (doc_id, offset, zone_id) is odd

    The arithmetic is the same IEEE expression tree the DuckDB oracle runs,
    so the gate stays bit-exact. Shuffles: cell join, edge join (broadcast
    when the edge table is dimension-sized), final groupBy — with map-side
    partial counts, the last exchange carries ~one row per candidate pair.
    """
    pts = geo_points(docs).withColumn("cell", cell_expr(F.col("x"), F.col("y"), res))
    zc = zone_cells(spark, zones, res, with_bbox=True)
    cand = bbox_prefilter(pts.join(zc, "cell")).select(
        "doc_id", "offset", "x", "y", "zone_id"
    )

    if zone_edges is None:
        zone_edges = zone_edges_df(zones)
    edges = zone_edges.select("zone_id", "ex1", "ey1", "ex2", "ey2")
    if strategy == "broadcast" or (
        # bounded probe: limit(N+1).count() early-stops at N+1 rows, so the
        # dispatch never pays a full scan of the exploded edge table (which
        # is proportional to total ring vertices on a big zone side)
        strategy == "auto"
        and edges.limit(broadcast_edge_limit + 1).count() <= broadcast_edge_limit
    ):
        edges = F.broadcast(edges)
    crossing = ((F.col("ey1") > F.col("y")) != (F.col("ey2") > F.col("y"))) & (
        F.col("x")
        < (F.col("ex2") - F.col("ex1"))
        * (F.col("y") - F.col("ey1"))
        / (F.col("ey2") - F.col("ey1"))
        + F.col("ex1")
    )
    return (
        cand.join(edges, "zone_id")
        .filter(crossing)
        .groupBy("doc_id", "offset", "zone_id")
        .agg(F.count("*").alias("n_cross"))
        .filter(F.col("n_cross") % 2 == 1)
        .select("doc_id", "offset", "zone_id")
    )


def _refine_pair(w: str, zrings: list, _cache: dict | None = None) -> bool:
    """Exact doc-geom vs zone-rings intersect test (shared by both ring
    delivery modes). `_cache` memoizes the WKT parse across candidate pairs
    of the same span within a batch — a span matching k zones parses once,
    not k times (the parse dominates the python cost for small polygons)."""
    if _cache is not None and w in _cache:
        kind, grings = _cache[w]
    else:
        kind, grings = geom.parse_wkt(w)
        if _cache is not None:
            _cache[w] = (kind, grings)
    if kind == "point":
        return bool(
            geom.points_in_rings(
                grings[0][:, 0], grings[0][:, 1], geom.rings_to_edges(zrings)
            )[0]
        )
    return geom.polygon_intersects(grings, zrings)


def spatial_join_geoms(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    res: int | None = None,
    wkt_prefix: str | None = None,
    rings_mode: str = "auto",
    broadcast_zone_limit: int = 500_000,
) -> DataFrame:
    """General intersect join (points AND polygons from geo spans) — the full
    J2 semantics (lib/join.py:5-60): one row per intersecting
    (doc span, zone) pair. Polygon spans are parsed + bbox-covered in an
    Arrow UDF, candidates equi-joined on cell, then refined with the exact
    ``polygon_intersects`` kernel.

    rings_mode 'broadcast' collects zone rings once into a broadcast dict
    (dimension-sized zone layers); 'join' ships rings as a joined column
    into the refinement batch — zero driver-side zone materialization, the
    path for zone sides too large to collect. 'auto' gates on rows AND
    sampled ring bytes (operators.util.broadcastable) and picks."""
    from .util import broadcastable

    spans = geo_spans(docs)
    if wkt_prefix:
        spans = spans.filter(F.col("wkt").startswith(wkt_prefix))
    if rings_mode == "auto":
        ring_proj = (
            ["zone_id", "rings4326"] if "rings4326" in zones.columns else ["zone_id", "srid", "rings"]
        )
        rings_mode = (
            "broadcast" if broadcastable(zones.select(*ring_proj), broadcast_zone_limit) else "join"
        )
    if res is None:
        res = pick_join_resolution(zones)
    zc = zone_cells(spark, zones, res, with_anchor=True)

    # span bbox via one Arrow UDF (4 doubles out — not the cover array);
    # the cover itself is the same native rectangle explode as zone_cells
    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("xmin", T.DoubleType()),
                T.StructField("ymin", T.DoubleType()),
                T.StructField("xmax", T.DoubleType()),
                T.StructField("ymax", T.DoubleType()),
            ]
        )
    )
    def span_bbox(wkt: pd.Series) -> pd.DataFrame:
        rows = []
        for w in wkt:
            _, rings = geom.parse_wkt(w)
            rows.append(geom.rings_bbox(rings))
        return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])

    sp = spans.withColumn("__bb", span_bbox("wkt")).select(
        *spans.columns,
        cellk.ix_col(F.col("__bb.xmin"), res).alias("sx0"),
        cellk.ix_col(F.col("__bb.xmax"), res).alias("sx1"),
        cellk.iy_col(F.col("__bb.ymin"), res).alias("sy0"),
        cellk.iy_col(F.col("__bb.ymax"), res).alias("sy1"),
    )
    sp = cellk.explode_rect(sp, "sx0", "sx1", "sy0", "sy1").withColumn(
        "cell", cellk.pack_col(res, "ix", "iy")
    )
    # report-once dedup WITHOUT a shuffle: both covers are contiguous index
    # rectangles, so each (span, zone) pair shares a rectangle of cells and
    # the pair is emitted only at that rectangle's min corner — a codegen
    # filter replaces the dropDuplicates aggregation (which carried the wkt
    # payload and therefore sort-aggregated the whole candidate table)
    cand = (
        sp.join(F.broadcast(zc) if rings_mode == "broadcast" else zc, "cell")
        .filter(
            (F.col("ix") == F.greatest("sx0", "zix0"))
            & (F.col("iy") == F.greatest("sy0", "ziy0"))
        )
        .drop("sx0", "sx1", "sy0", "sy1", "ix", "iy", "zix0", "ziy0", "cell")
    )

    if rings_mode == "broadcast":
        zcols = ["zone_id", "srid", "rings"] + (
            ["rings4326"] if "rings4326" in zones.columns else []
        )
        rect = rectified_zone_rings(zones.select(*zcols).toPandas())
        bc_rings = spark.sparkContext.broadcast(
            {zid: [r.tolist() for r in rings] for zid, rings in rect.items()}
        )
        # worker-persistent zone conversion cache: the closure dict survives
        # across Arrow batches inside one python worker, so each zone's
        # list->ndarray + edge build happens once per worker, not per batch
        zone_cache: dict = {}

        @F.pandas_udf(T.BooleanType())
        def refine(zone_id: pd.Series, wkt: pd.Series) -> pd.Series:
            # Batched per zone-run: the batch is processed in contiguous
            # zone groups (stable argsort); each group parses/edge-builds
            # the zone ONCE and runs ONE vectorized vertex-in-zone test for
            # the concatenated vertices of ALL its candidate spans
            # (reduceat per span) — the test that resolves every true
            # containment hit. Only pairs it leaves open (overlap without a
            # contained doc vertex) pay the per-pair reverse-containment +
            # edge-crossing kernels. Span parses are memoized per batch;
            # a scalar bbox reject skips disjoint pairs entirely.
            zr = bc_rings.value
            n = len(zone_id)
            out = np.zeros(n, dtype=bool)
            if n == 0:
                return pd.Series(out)
            zi = zone_id.to_numpy()
            wk = wkt.to_numpy()
            doc_cache: dict = {}
            infos = [None] * n
            for i, w in enumerate(wk):
                d = doc_cache.get(w)
                if d is None:
                    kind, grings = geom.parse_wkt(w)
                    va = np.concatenate([np.asarray(r) for r in grings])
                    dbb = (
                        float(va[:, 0].min()), float(va[:, 1].min()),
                        float(va[:, 0].max()), float(va[:, 1].max()),
                    )
                    ea = geom.rings_to_edges(grings) if kind != "point" else None
                    d = doc_cache[w] = (kind, ea, va, dbb)
                infos[i] = d
            order = np.argsort(zi, kind="stable")
            zs = zi[order]
            starts = np.concatenate([[0], np.flatnonzero(np.diff(zs)) + 1, [n]])
            for s0, s1 in zip(starts[:-1], starts[1:]):
                zid = int(zs[s0])
                cached = zone_cache.get(zid)
                if cached is None:
                    if len(zone_cache) >= 50_000:
                        zone_cache.clear()  # coarse bound: ~2x broadcast footprint max
                    rings = zr.get(zid)
                    if rings is None:
                        continue
                    zrings = [np.asarray(r, dtype=np.float64) for r in rings]
                    eb = geom.rings_to_edges(zrings)
                    vb = np.concatenate(zrings)
                    cached = zone_cache[zid] = (
                        eb, vb,
                        float(vb[:, 0].min()), float(vb[:, 1].min()),
                        float(vb[:, 0].max()), float(vb[:, 1].max()),
                    )
                eb, vb, zxmin, zymin, zxmax, zymax = cached
                live = [
                    i
                    for i in order[s0:s1]
                    if not (
                        infos[i][3][0] > zxmax or infos[i][3][2] < zxmin
                        or infos[i][3][1] > zymax or infos[i][3][3] < zymin
                    )
                ]
                if not live:
                    continue
                vas = [infos[i][2] for i in live]
                lens = np.fromiter((len(v) for v in vas), dtype=np.int64, count=len(vas))
                allv = np.concatenate(vas)
                inz = geom.points_in_rings(allv[:, 0], allv[:, 1], eb)
                bounds = np.concatenate([[0], np.cumsum(lens)[:-1]])
                any_in = np.logical_or.reduceat(inz, bounds)
                for j, i in enumerate(live):
                    kind, ea, va, _ = infos[i]
                    if kind == "point":
                        out[i] = bool(inz[bounds[j]])
                    elif any_in[j]:
                        out[i] = True
                    else:
                        out[i] = bool(
                            geom.points_in_rings(vb[:, 0], vb[:, 1], ea).any()
                            or geom.segments_intersect(ea, eb)
                        )
            return pd.Series(out)

        refined = cand.withColumn("hit", refine("zone_id", "wkt"))
    else:
        if "rings4326" in zones.columns:
            zr_df = zones.select(
                "zone_id", F.col("rings4326").alias("__rings"), F.lit(4326).alias("__srid")
            )
        else:
            zr_df = zones.select(
                "zone_id", F.col("rings").alias("__rings"), F.col("srid").alias("__srid")
            )

        @F.pandas_udf(T.BooleanType())
        def refine_joined(
            zone_id: pd.Series, rings: pd.Series, srid: pd.Series, wkt: pd.Series
        ) -> pd.Series:
            # zone rings arrive as a joined column, so the Arrow->numpy ring
            # conversion + CRS rectification would otherwise re-run per pair
            # — cache per zone_id (zones repeat across their candidates)
            out = np.zeros(len(wkt), dtype=bool)
            parse_cache: dict = {}
            zone_cache: dict = {}
            for i, (z, rr, s, w) in enumerate(zip(zone_id, rings, srid, wkt)):
                z = int(z)
                zrings = zone_cache.get(z)
                if zrings is None:
                    zrings = geom.rings_from_cell(rr)
                    if int(s) != 4326:
                        zrings = proj.transform_rings(zrings, int(s), 4326)
                    zone_cache[z] = zrings
                out[i] = _refine_pair(w, zrings, parse_cache)
            return pd.Series(out)

        refined = cand.join(zr_df, "zone_id").withColumn(
            "hit", refine_joined("zone_id", "__rings", "__srid", "wkt")
        )

    return refined.filter(F.col("hit")).select("doc_id", "offset", "zone_id")


def spatial_join_with_fields(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    join_fields: list[str],
    **kwargs,
) -> DataFrame:
    """J2 with the reference's attribute emission (lib/join.py:31-33,53):
    ``join.intersect`` returns the JOIN LAYER's requested field values per
    intersecting pair, not just ids — here the pair table joins the zone
    attributes back on zone_id (a broadcast-sized dimension join; the pair
    table stays the big side)."""
    pairs = spatial_join_geoms(spark, docs, zones, **kwargs)
    attrs = F.broadcast(zones.select("zone_id", *join_fields))
    return pairs.join(attrs, "zone_id", "left")


def media_geotag(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    points: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Geotag MEDIA spans from their surrounding text context: each media
    span inherits the zone of the nearest PRECEDING geo span in the same
    document (backward as-of over span offsets, per doc_id) ->
    (doc_id, offset, media_ref, zone_id), zone_id null when no geo span
    precedes. When a geo point sits in several overlapping zones the
    smallest zone_id wins (deterministic).

    The interleaved-document composition: spatial PIP join for the geo
    spans (cell equi-join + exact kernel) feeds a join-free as-of — one
    hash shuffle on doc_id + per-doc sort, no pairwise explosion, so the
    plan holds at 10^12 documents. DuckDB mirror: ASOF LEFT JOIN over the
    same grouped PIP subquery."""
    from pyspark.sql import functions as F

    from .temporal import asof_join

    pip = points if points is not None else spatial_join_points(
        spark, docs, zones, **kwargs
    )
    geo = pip.groupBy("doc_id", "offset").agg(F.min("zone_id").alias("zone_id"))
    media = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )
    out = asof_join(media, geo, on="offset", by=["doc_id"], direction="backward")
    return out.select("doc_id", "offset", "media_ref", "zone_id")


def zone_corpus_profile(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    **kwargs,
) -> DataFrame:
    """Per-zone corpus rollup — the "training data by region" report:
    (zone_id, n_docs, n_points, text_chars, n_media) where n_docs counts
    distinct documents with >=1 geo point in the zone, n_points the geo
    points themselves, text_chars the total text-span characters of those
    documents, and n_media their media spans geotagged to this zone (via
    :func:`media_geotag` semantics: nearest preceding geo span).

    All-integer aggregates (no float accumulation), two shuffles total:
    the PIP join's, then one groupBy zone_id with map-side combine — the
    per-doc span folds are HOF expressions inside the scan."""
    from pyspark.sql import functions as F

    from .util import track_persisted

    # one PIP join feeds BOTH the per-zone doc rollup and the media geotag
    # (persist: pair-table-sized, spillable; without it the join runs twice)
    pip = spatial_join_points(spark, docs, zones, **kwargs).persist()
    doc_zone = pip.groupBy("zone_id", "doc_id").agg(F.count("*").alias("n_points"))
    chars = docs.select(
        "doc_id",
        F.aggregate(
            F.filter("spans", lambda s: s["kind"] == F.lit("text")),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]).cast("long"), F.lit(0)),
        ).alias("n_chars"),
    )
    media = (
        media_geotag(spark, docs, zones, points=pip, **kwargs)
        .where(F.col("zone_id").isNotNull())
        .groupBy("zone_id")
        .agg(F.count("*").alias("n_media"))
    )
    per_zone = (
        doc_zone.join(chars, "doc_id")
        .groupBy("zone_id")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_points").alias("n_points"),
            F.sum("n_chars").alias("text_chars"),
        )
    )
    out = per_zone.join(media, "zone_id", "left").select(
        "zone_id", "n_docs", "n_points", "text_chars",
        F.coalesce("n_media", F.lit(0).cast("long")).alias("n_media"),
    )
    return track_persisted(out, pip)


def skew_report(
    spark: SparkSession,
    docs: DataFrame,
    res: int = 9,
    top_k: int = 100,
    target_rows: int = 100_000,
) -> DataFrame:
    """Hot-cell skew diagnostics at the join resolution — the planning
    report behind the salted join path (`hot_cells` samples; this is the
    exact census a scheduled rebalance job would persist): per-cell geo
    point counts, each cell's integer share in parts-per-million, and the
    salt factor ``ceil(n / target_rows)`` that bounds any single reducer's
    slice of that cell to ``target_rows`` candidates.

    -> (cell_ix, cell_iy, n_points, share_ppm, salt) for the ``top_k``
    hottest cells, deterministically ordered (count desc, ix, iy).

    100 TB shape: one groupBy(cell) with map-side combine over the point
    stream (shuffle ∝ distinct cells, bounded by 4^res not by data), then
    a single-row total broadcast back over the dimension-sized cell table.
    All-integer arithmetic (`div`), so the oracle hash-matches."""
    if top_k < 1 or target_rows < 1:
        raise ValueError("top_k and target_rows must be >= 1")
    pts = geo_points(docs)
    ix, iy = cellk.ix_col(F.col("x"), res), cellk.iy_col(F.col("y"), res)
    from .util import track_persisted

    # persist the dimension-sized census so the total and the join share ONE
    # corpus pass by construction (AQE's ReusedExchange already dedupes the
    # identical shuffle at runtime, but a 100 TB scan should not depend on a
    # runtime optimization firing); handle rides the result for release()
    counts = pts.select(ix.alias("cell_ix"), iy.alias("cell_iy")).groupBy(
        "cell_ix", "cell_iy"
    ).agg(F.count("*").alias("n_points")).persist()
    total = counts.agg(F.sum("n_points").alias("__total"))
    return track_persisted(
        counts.crossJoin(F.broadcast(total))
        .select(
            "cell_ix",
            "cell_iy",
            "n_points",
            F.expr("(n_points * 1000000) div __total").alias("share_ppm"),
            F.expr(f"(n_points + {int(target_rows) - 1}) div {int(target_rows)}")
            .cast("int")
            .alias("salt"),
        )
        .orderBy(F.desc("n_points"), "cell_ix", "cell_iy")
        .limit(top_k),
        counts,
    )


def join_partition_metrics(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    n_buckets: int = 16,
    **join_kwargs,
) -> DataFrame:
    """Per-partition lineage metrics of the flagship PIP join — the row
    shape the checkpoint table records per bucket (streaming/checkpoint.py:
    run_stage commits exactly these counts), computed as a queryable table:
    (partition_id, input_docs, input_points, output_rows) with
    ``partition_id = first-32-md5-bits(doc_id) mod n_buckets`` — the repo's
    engine/oracle-shared deterministic bucket draw (curation.pack_sequences
    uses the same), so a resumed run re-derives identical bucket identity.

    100 TB shape: the join's own shuffles plus two map-side-combined
    groupBy(bucket) aggregations over streams already in hand; the final
    left join is n_buckets rows."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id")), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).cast("int")
    pip = spatial_join_points(spark, docs, zones, **join_kwargs)
    outm = pip.groupBy(bucket.alias("partition_id")).agg(
        F.count("*").alias("output_rows")
    )
    inm = geo_points(docs).groupBy(bucket.alias("partition_id")).agg(
        F.countDistinct("doc_id").alias("input_docs"),
        F.count("*").alias("input_points"),
    )
    return inm.join(outm, "partition_id", "left").select(
        "partition_id",
        "input_docs",
        "input_points",
        F.coalesce("output_rows", F.lit(0).cast("long")).alias("output_rows"),
    )


def spatial_anti_join(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    **join_kwargs,
) -> DataFrame:
    """Geo POINT spans covered by NO zone -> (doc_id, offset, x, y) — the
    coverage-gap report (the complement of :func:`spatial_join_points`,
    i.e. the rows ``join.intersect`` at lib/join.py:42-55 would NOT emit).
    The typical consumer is geotag QA: documents whose coordinates fall in
    open ocean / outside every admin polygon get routed to a review or
    re-geocode stage instead of silently joining to nothing.

    100 TB shape: the matched side of the LEFT ANTI join is the PIP join's
    (doc_id, offset) key stream distinct-reduced — at most one row per geo
    span, usually far fewer — and both sides hash-partition on the compound
    key, so the anti join shuffles keys + 2 doubles per span, never span
    text; AQE's skew split is the backstop on hot documents. Malformed
    POINT spans (unparseable coordinates) are reported as uncovered: they
    can never match any zone, and a QA report that silently dropped them
    would hide exactly the rows most in need of review."""
    pts = geo_points(docs)
    matched = spatial_join_points(spark, docs, zones, **join_kwargs).select(
        "doc_id", "offset"
    )
    return pts.join(matched, ["doc_id", "offset"], "left_anti")


def edge_intersections(
    spark: SparkSession,
    edges: DataFrame,
    res: int = 7,
) -> DataFrame:
    """Line-layer intersection points: every PROPER crossing between
    boundary edges of two DIFFERENT zones -> (zone_a, zone_b, ix, iy),
    zone_a < zone_b. Proper means the segments cross strictly in their
    interiors (0 < t < 1 and 0 < u < 1 in the parametric solve); endpoint
    touches and collinear overlaps are excluded by the strict tests. The
    classic consumer is topology QA: admin boundaries that should only
    share vertices but actually cross.

    100 TB shape: each edge explodes to the grid cells its bbox covers at
    ``res`` (native sequence x sequence, no UDF), candidate pairs form by
    cell equi-join + zone_a < zone_b, duplicates from multi-cell overlap
    drop on the full edge-pair identity BEFORE the refine — shuffle ∝
    edges x covered cells, never the all-pairs square. The refine is one
    fixed IEEE expression tree (2x2 determinant solve), identical in the
    DuckDB oracle, so results are hash-exact."""
    a, b = (
        edge_cells(
            edges.select(
                F.col("zone_id").alias(f"{t}zone"),
                F.col("ex1").alias(f"{t}ex1"), F.col("ey1").alias(f"{t}ey1"),
                F.col("ex2").alias(f"{t}ex2"), F.col("ey2").alias(f"{t}ey2"),
            ),
            res,
            prefix=t,
        )
        for t in ("a", "b")
    )
    cand = (
        a.join(b, ["cx", "cy"])
        .where(F.col("azone") < F.col("bzone"))
        .dropDuplicates(
            ["azone", "aex1", "aey1", "aex2", "aey2",
             "bzone", "bex1", "bey1", "bex2", "bey2"]
        )
    )
    rx = F.col("aex2") - F.col("aex1")
    ry = F.col("aey2") - F.col("aey1")
    sx = F.col("bex2") - F.col("bex1")
    sy = F.col("bey2") - F.col("bey1")
    qx = F.col("bex1") - F.col("aex1")
    qy = F.col("bey1") - F.col("aey1")
    den = rx * sy - ry * sx
    t = (qx * sy - qy * sx) / den
    u = (qx * ry - qy * rx) / den
    return (
        cand.withColumn("__t", t)
        .withColumn("__u", u)
        .where(
            (den != 0)
            & (F.col("__t") > 0) & (F.col("__t") < 1)
            & (F.col("__u") > 0) & (F.col("__u") < 1)
        )
        .select(
            F.col("azone").alias("zone_a"),
            F.col("bzone").alias("zone_b"),
            (F.col("aex1") + F.col("__t") * rx).alias("ix"),
            (F.col("aey1") + F.col("__t") * ry).alias("iy"),
        )
    )


def edge_intersections_oracle_sql(edges_rel: str) -> str:
    """DuckDB mirror of :func:`edge_intersections`: plain distinct-pair
    cross join (the oracle side is allowed the O(n^2) plan), identical
    strict parametric refine. The e CTE is SELECT DISTINCT to mirror the
    engine's pair-identity dropDuplicates, which also collapses genuinely
    repeated edge rows in the input — one output row per distinct pair
    either way (ADVICE r4: the two sides now agree on duplicated-edge
    inputs instead of assuming the table is duplicate-free)."""
    return f"""
WITH e AS (SELECT DISTINCT zone_id, ex1, ey1, ex2, ey2 FROM {edges_rel}),
cand AS (
  SELECT a.zone_id AS zone_a, a.ex1 aex1, a.ey1 aey1, a.ex2 aex2, a.ey2 aey2,
         b.zone_id AS zone_b, b.ex1 bex1, b.ey1 bey1, b.ex2 bex2, b.ey2 bey2
  FROM e a JOIN e b ON a.zone_id < b.zone_id
),
s AS (
  SELECT *,
         (aex2 - aex1) AS rx, (aey2 - aey1) AS ry,
         (bex2 - bex1) AS sx, (bey2 - bey1) AS sy,
         (bex1 - aex1) AS qx, (bey1 - aey1) AS qy
  FROM cand
),
d AS (
  SELECT *, rx * sy - ry * sx AS den,
         (qx * sy - qy * sx) / (rx * sy - ry * sx) AS t,
         (qx * ry - qy * rx) / (rx * sy - ry * sx) AS u
  FROM s
)
SELECT zone_a, zone_b, aex1 + t * rx AS ix, aey1 + t * ry AS iy
FROM d
WHERE den != 0 AND t > 0 AND t < 1 AND u > 0 AND u < 1
"""


def zone_mean_center(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    **join_kwargs,
) -> DataFrame:
    """Per-zone spatial central tendency + dispersion of the corpus's geo
    points -> (zone_id, n_points, cx, cy, max_r_micro): the mean center of
    every point the PIP join puts in the zone, and the max point distance
    from that center in floor-quantized integer micro-degrees — the
    "where is this zone's data, and how spread" report (mean center / max
    radius are the first two spatial statistics of any point-pattern
    toolkit).

    Exactness: coordinates floor-quantize to int64 micro-degrees BEFORE
    the sums (order-independent exact integers; |x|<=180e6 so 2^63 admits
    ~5e10 points per zone), cx = sum_micro / (n * 1e6) is one fixed double
    division, and max over per-point floor(dist * 1e6) ints is order-free
    — hash-exact in both engines.

    100 TB shape: the PIP join's shuffles plus one map-side-combined
    groupBy(zone_id); the centers table is zone-dimension-sized and joins
    back broadcast for the dispersion max — points shuffle once into the
    zone partition and never again. zp (PIP join + point parse) feeds both
    the centers agg and the dispersion max, so it is persisted once and
    released via the module's ``track_persisted`` handle convention
    (ADVICE r4) instead of recomputing the full spatial join twice."""
    from .util import track_persisted

    pts = geo_points(docs)
    pip = spatial_join_points(spark, docs, zones, **join_kwargs)
    zp = (
        pip.join(pts, ["doc_id", "offset"]).select("zone_id", "x", "y").persist()
    )
    centers = zp.groupBy("zone_id").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum(F.floor(F.col("x") * 1e6).cast("long")).alias("__sx"),
        F.sum(F.floor(F.col("y") * 1e6).cast("long")).alias("__sy"),
    ).select(
        "zone_id",
        "n_points",
        (F.col("__sx").cast("double") / (F.col("n_points").cast("double") * 1e6)).alias("cx"),
        (F.col("__sy").cast("double") / (F.col("n_points").cast("double") * 1e6)).alias("cy"),
    )
    dx = F.col("x") - F.col("cx")
    dy = F.col("y") - F.col("cy")
    disp = (
        zp.join(F.broadcast(centers), "zone_id")
        .groupBy("zone_id")
        .agg(
            F.max(F.floor(F.sqrt(dx * dx + dy * dy) * 1e6).cast("long")).alias(
                "max_r_micro"
            )
        )
    )
    out = centers.join(F.broadcast(disp), "zone_id").select(
        "zone_id", "n_points", "cx", "cy", "max_r_micro"
    )
    return track_persisted(out, zp)


def zone_mean_center_oracle_sql(pip_sql: str, pts_cte: str) -> str:
    """DuckDB mirror of :func:`zone_mean_center` over the shared ray-cast
    PIP subquery — identical micro-unit sums, division tree, and max."""
    return f"""
WITH pts AS ({pts_cte}),
pip AS ({pip_sql}),
zp AS (
  SELECT z.zone_id, p.px AS x, p.py AS y
  FROM pip z JOIN pts p ON z.doc_id = p.doc_id AND z."offset" = p.off
),
centers AS (
  SELECT zone_id, CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE)
           / (CAST(count(*) AS DOUBLE) * 1e6) AS cx,
         CAST(sum(CAST(floor(y * 1e6) AS BIGINT)) AS DOUBLE)
           / (CAST(count(*) AS DOUBLE) * 1e6) AS cy
  FROM zp GROUP BY zone_id
)
SELECT c.zone_id, c.n_points, c.cx, c.cy,
       max(CAST(floor(sqrt((z.x - c.cx) * (z.x - c.cx)
                         + (z.y - c.cy) * (z.y - c.cy)) * 1e6) AS BIGINT))
         AS max_r_micro
FROM zp z JOIN centers c ON z.zone_id = c.zone_id
GROUP BY c.zone_id, c.n_points, c.cx, c.cy
"""


def zone_keywords(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    top_k: int = 5,
    **join_kwargs,
) -> DataFrame:
    """Regional vocabulary: the ``top_k`` most frequent text tokens among
    the documents the PIP join geotags to each zone ->
    (zone_id, rank, token, n) with the engine-wide deterministic tie order
    (count desc, token asc). The geo x text composition query: "what is
    the corpus about, by region" — a training-data curation report no
    single-domain operator covers.

    100 TB shape (text never shuffles): doc->zone memberships
    distinct-reduce to one row per (doc, zone) BEFORE touching text.
    When the matched-doc spine is small enough to broadcast (byte-aware
    ``broadcastable`` probe), docs OUTSIDE every zone are pruned with a
    broadcast LEFT SEMI join *before* tokenization — on corpora where
    geotagged docs are a minority (the synth: ~19%) this cuts the whole
    tokenize+count pipeline by the coverage factor, and the semi join
    moves only doc_id keys. The exploded token stream (shared
    ``text.tokens`` split) is then reduced MAP-SIDE to per-document
    counts — ``groupBy(doc_id, token).count()`` with partial aggregation
    — so the only shuffle carrying token strings moves one
    (doc_id, token, n) row per DISTINCT token per doc, never the raw
    occurrence stream (volume drops by the within-doc duplication
    factor; 1.9x on the synth). The doc->zone join runs on that reduced
    spine and the (zone, token) total is a map-side-combined SUM of the
    pre-counts. The final ``top_k`` window runs per zone over the
    aggregated table only. A doc inside several overlapping zones counts
    toward each (join semantics, mirrored by the oracle)."""
    from pyspark.sql.window import Window

    from .text import tokens

    from .util import broadcastable, track_persisted

    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    dz = (
        spatial_join_points(spark, docs, zones, **join_kwargs)
        .select("doc_id", "zone_id")
        .repartition("doc_id")
        .distinct()
        .persist()
    )
    spine = dz.select("doc_id").distinct()
    src = docs
    if broadcastable(spine, row_limit=2_000_000):
        # prune un-geotagged docs before any text work; broadcast semi
        # join on slim doc_id keys only — no shuffle of span text
        src = docs.join(F.broadcast(spine), "doc_id", "leftsemi")
    # hash the pruned DOC rows by doc_id once (the keywords_tfidf
    # discipline: compressed span text crosses the wire once, exploded
    # tokens never do) — hash(doc_id) then satisfies the (doc_id, token)
    # aggregate, the dz join, and dz's own distinct above, collapsing
    # three exchanges of exploded/derived rows into this one
    doc_tok = (
        src.repartition("doc_id")
        .select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "text")
        .where(F.length(F.trim(F.col("s.text"))) > 0)
        .select("doc_id", F.explode(tokens(F.col("s.text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("__dn"))
    )
    zt = (
        doc_tok.join(dz, "doc_id")
        .groupBy("zone_id", "token")
        .agg(F.sum("__dn").alias("n"))
    )
    w = Window.partitionBy("zone_id").orderBy(F.desc("n"), F.asc("token"))
    out = (
        zt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(top_k))
        .select("zone_id", "rank", "token", "n")
    )
    return track_persisted(out, dz)


def zone_keywords_oracle_sql(pip_sql: str, docs_rel: str, top_k: int = 5) -> str:
    """DuckDB mirror of :func:`zone_keywords` over the shared ray-cast PIP
    subquery — identical tokenization, counts, and QUALIFY tie order."""
    return f"""
WITH pip AS ({pip_sql}),
dz AS (SELECT DISTINCT doc_id, zone_id FROM pip),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(s.text)), '\\s+')) AS token
  FROM (SELECT doc_id, unnest(spans) s FROM {docs_rel})
  WHERE s.kind = 'text' AND length(trim(s.text)) > 0
),
zt AS (
  SELECT dz.zone_id, t.token, CAST(count(*) AS BIGINT) AS n
  FROM toks t JOIN dz ON t.doc_id = dz.doc_id
  WHERE t.token != ''
  GROUP BY 1, 2
)
SELECT zone_id, CAST(row_number() OVER w AS INT) AS rank, token, n
FROM zt
WINDOW w AS (PARTITION BY zone_id ORDER BY n DESC, token ASC)
QUALIFY rank <= {int(top_k)}
"""


def zone_dedup_profile(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    **join_kwargs,
) -> DataFrame:
    """Regional duplication report — the dedup x geo composition ->
    (zone_id, n_docs, n_dup_docs, dup_ppm): of the documents the PIP join
    geotags to each zone, how many are EXACT duplicates (span-sequence
    fingerprint shared with any other doc in the whole corpus — groups
    are corpus-wide, counts are zone-local), and the integer parts-per-
    million rate. The curation question this answers: "which regions of
    my corpus are polluted with copies" — the report that decides where a
    dedup pass pays for itself.

    100 TB shape (text never shuffles): the fingerprint is the md5 fold
    of the span sequence computed INSIDE the scan (32 bytes/doc leaves
    the scan, never span text); duplicate-group sizes are one map-side-
    combined groupBy(fp); doc->zone memberships distinct-reduce before
    the join; the final per-zone aggregate is integer-only with
    ``dup_ppm = (n_dup * 1e6) div n_docs`` (exact integer division, no
    float accumulation — hash-exact vs the oracle)."""
    from pyspark.sql import Window

    from ..streaming.dedup import doc_fingerprint_expr

    # explicit doc_id repartition: hash(doc_id) clusters every
    # (doc_id, zone_id) group, so the distinct runs without its own
    # compound-key exchange AND the doc_id join below reuses the same
    # partitioning — one exchange where distinct-then-join cost two
    dz = (
        spatial_join_points(spark, docs, zones, **join_kwargs)
        .select("doc_id", "zone_id")
        .repartition("doc_id")
        .distinct()
    )
    # corpus-wide group size as a count window over ONE fingerprint pass:
    # the groupBy(fp)+join-back form evaluates the (interpreted-lambda)
    # fingerprint fold on BOTH sides of the self-join — two full corpus
    # scans for the same 32-byte column. The window shuffles the identical
    # (doc_id, fp) rows once and counts within the fp partition — same
    # group sizes, same __isdup values, fingerprint computed exactly once.
    fps = docs.select("doc_id", doc_fingerprint_expr().alias("fp"))
    dup = fps.select(
        "doc_id",
        (F.count("*").over(Window.partitionBy("fp")) > 1).cast("int").alias("__isdup"),
    )
    return (
        dz.join(dup, "doc_id")
        .groupBy("zone_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__isdup").cast("long").alias("n_dup_docs"),
        )
        .select(
            "zone_id",
            "n_docs",
            "n_dup_docs",
            F.expr("(n_dup_docs * 1000000) div n_docs").alias("dup_ppm"),
        )
    )


def zone_dedup_profile_oracle_sql(pip_sql: str, docs_rel: str) -> str:
    """DuckDB mirror of :func:`zone_dedup_profile` — identical span
    fingerprint (the span-invariant serialization), corpus-wide group
    sizes, zone-local integer counts and ppm division."""
    return f"""
WITH pip AS ({pip_sql}),
dz AS (SELECT DISTINCT doc_id, zone_id FROM pip),
f AS (
  SELECT doc_id,
         md5(string_agg(
               concat_ws(chr(30), s.kind, coalesce(s.text, ''), coalesce(s.media_ref, ''), CAST(s."offset" AS VARCHAR)),
               chr(31) ORDER BY s."offset")) AS fp
  FROM (SELECT doc_id, unnest(spans) s FROM {docs_rel})
  GROUP BY doc_id
),
g AS (SELECT fp, count(*) AS n FROM f GROUP BY fp),
d AS (
  SELECT f.doc_id, CASE WHEN g.n > 1 THEN 1 ELSE 0 END AS isdup
  FROM f JOIN g USING (fp)
)
SELECT dz.zone_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(isdup) AS BIGINT) AS n_dup_docs,
       CAST((sum(isdup) * 1000000) // count(*) AS BIGINT) AS dup_ppm
FROM dz JOIN d USING (doc_id)
GROUP BY 1
"""


def zone_stratified_sample(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    per_zone: int = 50,
    salt: str = "zsamp1",
    **join_kwargs,
) -> DataFrame:
    """Geo-stratified document sampling -> (zone_id, rank, doc_id): the
    ``per_zone`` documents per zone with the smallest deterministic md5
    draw — the "build a regionally balanced training subset" op, the geo
    analog of the curation module's language-stratified ``quota_sample``.
    A doc inside several zones is eligible in each (stratification is per
    region, mirrored by the oracle).

    Determinism (the curation md5-draw discipline): the draw is
    ``md5(salt ':' doc_id)`` — a pure row function, stable under
    repartitioning, retries and resume — and ties (impossible for md5 in
    practice, but pinned anyway) break on doc_id. 100 TB shape: doc->zone
    memberships distinct-reduce to slim (doc_id, zone_id) rows BEFORE the
    ranking; the per-zone top-N is a WindowGroupLimit (rank <= N pushes
    the limit into the sort — each partition keeps at most N rows per
    zone before the final selection), shuffle carries ids only."""
    from pyspark.sql.window import Window

    if per_zone < 1:
        raise ValueError("per_zone must be >= 1")
    dz = (
        spatial_join_points(spark, docs, zones, **join_kwargs)
        .select("doc_id", "zone_id")
        .distinct()
    )
    draw = F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("zone_id").orderBy(draw.asc(), F.col("doc_id").asc())
    return (
        dz.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(per_zone))
        .select("zone_id", "rank", "doc_id")
    )


def zone_stratified_sample_oracle_sql(
    pip_sql: str, per_zone: int = 50, salt: str = "zsamp1"
) -> str:
    """DuckDB mirror of :func:`zone_stratified_sample` — identical md5
    draw, tie order, and QUALIFY cutoff."""
    return f"""
WITH pip AS ({pip_sql}),
dz AS (SELECT DISTINCT doc_id, zone_id FROM pip)
SELECT zone_id, CAST(row_number() OVER w AS INT) AS rank, doc_id
FROM dz
WINDOW w AS (
  PARTITION BY zone_id
  ORDER BY md5('{salt}:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
)
QUALIFY rank <= {int(per_zone)}
"""


def route_zone_sequence(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    **join_kwargs,
) -> DataFrame:
    """The ordered sequence of zones each document's track traverses ->
    (doc_id, seq, zone_id): geo points in span-offset order, each point
    resolved to its zone (smallest zone_id wins on overlap — the
    media_geotag convention), unmatched points dropped, CONSECUTIVE
    repeats collapsed (a track dwelling in one zone contributes one step),
    ``seq`` re-numbered dense from 1. The "which regions does this
    trajectory visit, in order" query — itinerary extraction over the
    interleaved corpus.

    100 TB shape: the PIP join's shuffles, then everything stays in ONE
    doc_id hash partition: the explicit doc_id repartition satisfies BOTH
    the (doc_id, offset) zone-min aggregate (hash(doc_id) clusters every
    (doc_id, offset) group) and the per-doc window passes — one exchange
    where groupBy-then-window cost two. The map-side combine the direct
    groupBy would run only collapses the ~1.3x zone-overlap duplication,
    cheaper to ship than a second full exchange + sort. DuckDB mirror:
    identical windows + QUALIFY."""
    from pyspark.sql.window import Window

    pip = spatial_join_points(spark, docs, zones, **join_kwargs)
    pz = (
        pip.repartition("doc_id")
        .groupBy("doc_id", "offset")
        .agg(F.min("zone_id").alias("zone_id"))
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    return (
        pz.withColumn("__prev", F.lag("zone_id").over(w))
        .where(F.col("__prev").isNull() | (F.col("__prev") != F.col("zone_id")))
        .withColumn("seq", F.row_number().over(w))
        .select("doc_id", "seq", "zone_id")
    )


def route_zone_sequence_oracle_sql(pip_sql: str) -> str:
    """DuckDB mirror of :func:`route_zone_sequence`."""
    return f"""
WITH pip AS ({pip_sql}),
pz AS (
  SELECT doc_id, "offset", min(zone_id) AS zone_id
  FROM pip GROUP BY 1, 2
),
steps AS (
  SELECT doc_id, "offset", zone_id,
         lag(zone_id) OVER (PARTITION BY doc_id ORDER BY "offset") AS prev
  FROM pz
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY "offset") AS INT)
         AS seq,
       zone_id
FROM steps
WHERE prev IS NULL OR prev != zone_id
"""


# grid of the nearest-zone candidate search: edge cells at res 7, and the
# refine disk radius (cells per axis) past which a point takes the
# stragglers-broadcast path instead of fanning out
_NZD_RES = 7
_NZD_MAX_DISK = 8


def nearest_zone_distance(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    edges: DataFrame | None = None,
    **join_kwargs,
) -> DataFrame:
    """Re-geocode helper, the companion of :func:`spatial_anti_join`: for
    every geo POINT span covered by NO zone, the nearest zone boundary ->
    (doc_id, offset, nearest_zone, dist_micro) where dist_micro is the
    floor-quantized planar distance to the closest boundary segment and
    ties break to the smallest zone_id (one deterministic struct-min).
    A QA stage snaps out-of-coverage points to their most plausible region
    or routes them for review with a confidence radius. ``join_kwargs``
    go to the anti join.

    Exactness: point-to-segment distance is the classic clamped-projection
    formula — one fixed IEEE expression tree per surviving (point, edge)
    pair, identical in the oracle; the min over edges is an order-free
    struct min after floor(d * 1e6) quantization. The bound below is a
    pure candidate filter and cannot change the winner: because the output
    tie-breaks on the FLOOR-QUANTIZED distance, the refine keeps every edge
    that could still TIE the bound at the quantum — the cutoff is
    ((floor(sqrt(R2)*1e6)+1)/1e6)^2, one dist_micro quantum past the
    endpoint-distance upper bound R2, so an edge with a larger real
    distance but equal dist_micro (and possibly a smaller zone_id, which
    the struct-min would prefer) always survives to the exact tree.

    100 TB shape: the candidate search is cell-bucketed — edges explode to
    the grid cells their bbox covers (the :func:`edge_intersections`
    covering; shuffle ∝ edges x covered cells, never points x edges).
    - BOUND round 1: each point meets only its 3x3 cell-disk edges; per
      point, min SQUARED endpoint distance (any nonempty edge subset yields
      a valid upper bound).
    - BOUND round 2: points with an empty 3x3 disk take their bound from a
      nested loop where the STRAGGLER POINTS are the broadcast side and
      the big edge table streams.
    - REFINE: each point joins the edge cells of its ceil(qplus/cell)-radius
      disk (the ``knn`` ring discipline); candidate duplicates from
      multi-cell edges are harmless because the reduction is a min. Points
      whose disk would exceed ``_NZD_MAX_DISK`` cells per axis go through
      the stragglers-broadcast nested loop instead of fanning out.
    """
    from .util import track_persisted

    res = _NZD_RES
    cw, chh = cellk.cell_size(res)
    e = (edges if edges is not None else zone_edges_df(zones)).select(
        "zone_id", "ex1", "ey1", "ex2", "ey2"
    )
    ec = edge_cells(e, res)

    uncov = (
        spatial_anti_join(spark, docs, zones, **join_kwargs)
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .withColumn("pcx", cellk.ix_col(F.col("x"), res))
        .withColumn("pcy", cellk.iy_col(F.col("y"), res))
        .persist()
    )

    px_, py_ = F.col("x"), F.col("y")
    ax, ay, bx, by = F.col("ex1"), F.col("ey1"), F.col("ex2"), F.col("ey2")
    d2a = (px_ - ax) * (px_ - ax) + (py_ - ay) * (py_ - ay)
    d2b = (px_ - bx) * (px_ - bx) + (py_ - by) * (py_ - by)

    # bound round 1: 3x3 cell disk
    disk1 = cellk.explode_disk(
        uncov.select("doc_id", "offset", "x", "y", "pcx", "pcy"),
        "pcx", "pcy", res, 1, ix="cx", iy="cy",
    )
    b1 = (
        disk1.join(ec, ["cx", "cy"])
        .select("doc_id", "offset", F.least(d2a, d2b).alias("__d2"))
        .groupBy("doc_id", "offset")
        .agg(F.min("__d2").alias("__r2"))
    )

    # bound round 2: stragglers (empty 3x3 disk) broadcast against the
    # streaming edge table — the residue of the residue
    miss = uncov.join(b1.select("doc_id", "offset"), ["doc_id", "offset"], "left_anti")
    b2 = (
        e.join(F.broadcast(miss.select("doc_id", "offset", "x", "y")))
        .select("doc_id", "offset", F.least(d2a, d2b).alias("__d2"))
        .groupBy("doc_id", "offset")
        .agg(F.min("__d2").alias("__r2"))
    )
    bound = b1.unionByName(b2).persist()

    # refine: tie-safe cutoff one dist_micro quantum past the bound (see
    # docstring) — an equal-dist_micro, smaller-zone_id edge never prunes
    qplus = (F.floor(F.sqrt(F.col("__r2")) * F.lit(1e6)) + F.lit(1)) / F.lit(1e6)
    withb = uncov.join(bound, ["doc_id", "offset"]).withColumn("__q", qplus)
    kx = (F.floor(F.col("__q") / F.lit(cw)) + 1).cast("long")
    ky = (F.floor(F.col("__q") / F.lit(chh)) + 1).cast("long")
    near = withb.where((kx <= _NZD_MAX_DISK) & (ky <= _NZD_MAX_DISK))
    far = withb.where((kx > _NZD_MAX_DISK) | (ky > _NZD_MAX_DISK))

    dxl = F.greatest(F.least(ax, bx) - px_, px_ - F.greatest(ax, bx), F.lit(0.0))
    dyl = F.greatest(F.least(ay, by) - py_, py_ - F.greatest(ay, by), F.lit(0.0))
    lb2 = dxl * dxl + dyl * dyl
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t_raw = ((px_ - ax) * dx + (py_ - ay) * dy) / len2
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    )
    cx_, cy_ = ax + t * dx, ay + t * dy
    d = F.sqrt((px_ - cx_) * (px_ - cx_) + (py_ - cy_) * (py_ - cy_))
    dz = F.struct(
        F.floor(d * 1e6).cast("long").alias("dist_micro"),
        F.col("zone_id").alias("nearest_zone"),
    )

    near_disk = cellk.explode_disk(
        near.select("doc_id", "offset", "x", "y", "__q", "pcx", "pcy"),
        "pcx", "pcy", res, kx, ky, ix="cx", iy="cy",
    )
    best_near = (
        near_disk.join(ec, ["cx", "cy"])
        .where(lb2 <= F.col("__q") * F.col("__q"))
        .select("doc_id", "offset", dz.alias("__dz"))
        .groupBy("doc_id", "offset")
        .agg(F.min("__dz").alias("__dz"))
    )
    best_far = (
        e.join(F.broadcast(far.select("doc_id", "offset", "x", "y", "__q")))
        .where(lb2 <= F.col("__q") * F.col("__q"))
        .select("doc_id", "offset", dz.alias("__dz"))
        .groupBy("doc_id", "offset")
        .agg(F.min("__dz").alias("__dz"))
    )
    out = best_near.unionByName(best_far).select(
        "doc_id", "offset",
        F.col("__dz.nearest_zone").alias("nearest_zone"),
        F.col("__dz.dist_micro").alias("dist_micro"),
    )
    return track_persisted(out, uncov, bound)


def nearest_zone_distance_oracle_sql(anti_sql: str, edges_rel: str) -> str:
    """DuckDB mirror of :func:`nearest_zone_distance` over the shared
    anti-join subquery — identical clamped-projection distance; the
    (dist, zone) lexicographic struct-min maps to a QUALIFY row_number
    ordered by (dist_micro, zone_id)."""
    t = ("CASE WHEN (e.ex2 - e.ex1) * (e.ex2 - e.ex1)"
         " + (e.ey2 - e.ey1) * (e.ey2 - e.ey1) = 0 THEN 0.0"
         " ELSE least(greatest("
         "((u.x - e.ex1) * (e.ex2 - e.ex1) + (u.y - e.ey1) * (e.ey2 - e.ey1))"
         " / ((e.ex2 - e.ex1) * (e.ex2 - e.ex1)"
         " + (e.ey2 - e.ey1) * (e.ey2 - e.ey1)), 0.0), 1.0) END")
    return f"""
WITH uncov AS ({anti_sql}),
e AS (SELECT zone_id, ex1, ey1, ex2, ey2 FROM {edges_rel}),
pe AS (
  SELECT u.doc_id, u."offset", e.zone_id,
         CAST(floor(sqrt(
           (u.x - (e.ex1 + ({t}) * (e.ex2 - e.ex1)))
         * (u.x - (e.ex1 + ({t}) * (e.ex2 - e.ex1)))
         + (u.y - (e.ey1 + ({t}) * (e.ey2 - e.ey1)))
         * (u.y - (e.ey1 + ({t}) * (e.ey2 - e.ey1)))
         ) * 1e6) AS BIGINT) AS dist_micro
  FROM uncov u CROSS JOIN e
  WHERE u.x IS NOT NULL AND u.y IS NOT NULL
)
SELECT doc_id, "offset", zone_id AS nearest_zone, dist_micro
FROM pe
QUALIFY row_number() OVER (PARTITION BY doc_id, "offset"
                           ORDER BY dist_micro, zone_id) = 1
"""
