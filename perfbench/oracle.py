"""Oracle answers and the order-independent row digest results are compared by.

Each answer comes from the repository's own DuckDB SQL (the ``_SQL_*`` forms
of ``__spark_entry__`` and ``spatial_join.point_parse_sql`` behind them),
pointed at the generated tables instead of the fixed ``sf0.01`` paths. The
answers are computed once per seed and cached as parquet beside the inputs;
nothing here runs inside a timed region.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow.parquet as pq

# oracle name -> (SQL form in __spark_entry__, result columns)
FORMS = {
    "pip": ("_SQL_SPATIAL_JOIN_PIP", ["doc_id", "offset", "zone_id"]),
    "tile_assign": (
        "_SQL_TILE_ASSIGNMENT",
        ["zone_id", "raster_id", "band", "win_ox", "win_oy", "res_x", "res_y", "off_x", "off_y"],
    ),
    "zonal_stats": (
        "_SQL_ZONAL_STATS",
        ["zone_id", "count_total", "vmin", "vmax", "vmean", "vmedian", "vvar", "vstdev", "vperc90"],
    ),
    "zonal_counts": ("_SQL_ZONAL_COUNTS", ["zone_id", "raster_id", "band", "pixel_count"]),
    "knn": ("_SQL_KNN", ["from_id", "rank", "to_id", "distance"]),
}


def _fmt(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def row_hash(row) -> int:
    """32-bit row hash: the first 8 hex digits of md5 over the '|'-joined
    fields. For string and integer columns this equals the Spark expression
    in :func:`spark_row_hash`."""
    return int(hashlib.md5("|".join(_fmt(v) for v in row).encode()).hexdigest()[:8], 16)


def digest(rows) -> tuple[int, int]:
    """(row count, sum of row hashes): equal multisets give equal digests in
    any order; a dropped, added or altered row changes it."""
    n = s = 0
    for r in rows:
        n += 1
        s += row_hash(r)
    return n, s


def spark_row_hash(cols):
    """Column expression equal to :func:`row_hash` for string/int columns."""
    from pyspark.sql import functions as F

    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")


class Oracle:
    """Cached oracle results for one generated input directory."""

    def __init__(self, data_dir: str, docs_files: list[str] | None = None):
        self.dir = data_dir
        self.docs_files = docs_files

    def _sql(self, form: str) -> str:
        import __spark_entry__ as entry

        sql = getattr(entry, form)
        if self.docs_files is not None:
            files = ", ".join(f"'{f}'" for f in self.docs_files)
            sql = sql.replace(f"'{entry.S01}/documents_spans.parquet/*.parquet'", f"[{files}]")
        return sql.replace(entry.S01, self.dir)

    def rows(self, name: str) -> list[tuple]:
        path = os.path.join(self.dir, f"oracle_{name}.parquet")
        if not os.path.exists(path):
            form, cols = FORMS[name]
            con = duckdb.connect()
            try:
                con.execute("SET threads TO 4")
                quoted = ", ".join('"' + c + '"' for c in cols)
                rel = con.sql(f"SELECT {quoted} FROM ({self._sql(form)})")
                tmp = path + ".tmp"
                pq.write_table(rel.arrow(), tmp)
                os.replace(tmp, path)
            finally:
                con.close()
        tbl = pq.read_table(path)
        return list(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)))
