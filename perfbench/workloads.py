"""The benchmark workloads: one repetition each, its correctness checks, and
the per-layer numbers a traced repetition yields.

A repetition makes fresh operator calls and materializes every result in
full (a ``noop`` sink for the join, a collect for the small zone results);
the checks compare after the timed region, and the caches the operators
persisted are released before the next repetition.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from gdal_common_python_spark.kernels import geom
from gdal_common_python_spark.operators import knn as knn_ops
from gdal_common_python_spark.operators import spatial_join as sj
from gdal_common_python_spark.operators import tile_assign as ta
from gdal_common_python_spark.operators import zonal
from gdal_common_python_spark.operators.util import release
from gdal_common_python_spark.sources import catalog
from gdal_common_python_spark.streaming import checkpoint as ckpt
from gdal_common_python_spark.streaming import ingest
from gdal_common_python_spark.streaming import replay as replay_mod

from oracle import FORMS, digest, spark_row_hash

PIP_COLS = FORMS["pip"][1]


def tally(checks) -> tuple[int, list[str]]:
    """(operations attempted, names of the checks that failed)."""
    return len(checks), [name for name, got, expected in checks if got != expected]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _python_metrics(stats) -> dict:
    return {
        "python.worker_init_s": stats.any_node_metric("time to initialize Python workers"),
        "python.worker_run_s": stats.any_node_metric("time to run Python workers"),
        "python.bytes_sent": stats.any_node_metric("data sent to Python workers"),
        "python.bytes_returned": stats.any_node_metric("data returned from Python workers"),
    }


def _exchange_metrics(stats) -> dict:
    return {
        "exchange.count": float(stats.nodes.get("Exchange", 0)),
        "exchange.shuffle_bytes": stats.shuffle_bytes,
        "exchange.task_skew": stats.task_skew,
        "spark.jobs": float(stats.jobs),
        "spark.tasks": float(stats.tasks),
    }


@dataclass
class Rep:
    """One repetition: wall time, checks as (name, got, expected), layer
    numbers, and the CPU time the whole process tree spent on it (set by the
    caller, which measures around the call)."""

    seconds: float
    checks: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    cpu_seconds: float = 0.0


class PipJoin:
    """Documents through ``catalog.load`` joined to zones with
    ``spatial_join_points(strategy="auto")``, the result into a noop sink."""

    name = "pip_join"
    # untimed repetitions after the first job (warm repetitions kept getting
    # faster for about this many), then at least min_reps measured ones
    warmup = 5
    min_reps = 1

    def __init__(self, spark, tracer, inputs, oracle):
        self.spark, self.tracer, self.inputs = spark, tracer, inputs
        self.oracle_rows = oracle.rows("pip")
        self.expect = digest(self.oracle_rows)

    def _join(self, docs):
        zones = self.spark.read.parquet(self.inputs.path("zones.parquet"))
        return sj.spatial_join_points(self.spark, docs, zones, strategy="auto")

    def rep(self) -> Rep:
        tr, spark = self.tracer, self.spark
        obs = Observation()
        t0 = time.perf_counter()
        with tr.span("pip_join") as root:
            with tr.span("sources.load") as load:
                docs = catalog.load(spark, self.inputs.docs_table)
            with tr.span("spatial_join.build") as build:
                out = self._join(docs)
            with tr.span("spatial_join.exec") as run:
                noop(out.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(spark_row_hash(PIP_COLS)).alias("h")))
        seconds = time.perf_counter() - t0
        got = obs.get
        rep = Rep(seconds, [("pip", (got["n"], got["h"] or 0), self.expect)])
        release(out)
        spark.catalog.clearCache()
        if root is not None:
            st = tr.call_stats([root])
            run_st = tr.call_stats([run])
            cand = run_st.node_metric("ArrowEvalPython", "number of output rows")
            rep.layers = {
                "sources.load_s": load.seconds,
                "spatial_join.build_s": build.seconds,
                "spatial_join.candidates": cand,
                "spatial_join.hits": float(got["n"]),
                "spatial_join.hit_ratio": got["n"] / cand if cand else 0.0,
                "spatial_join.zone_cells_rows": run_st.node_metric("BroadcastExchange", "number of output rows"),
                "spatial_join.broadcast_bytes": run_st.node_metric("BroadcastExchange", "data size"),
                "spatial_join.broadcast_build_s": sum(
                    run_st.node_metric("BroadcastExchange", m)
                    for m in ("time to collect", "time to build", "time to broadcast")
                ),
                **_python_metrics(st),
                **_exchange_metrics(st),
            }
        return rep

    # ------------------------------------------------ traced-run probes

    def probes(self) -> tuple[dict, list]:
        """Layer probes that run once, in the traced run only: the document
        scan and point parse alone, the PIP kernel on a fixed candidate
        sample, the checkpointed stage with a crash and a resume, and the
        stream replay of a document slice."""
        tr, spark = self.tracer, self.spark
        layers, checks = {}, []
        with tr.span("sources.scan") as scan:
            noop(catalog.load(spark, self.inputs.docs_table).select("doc_id", "spans"))
        st = tr.call_stats([scan])
        layers["sources.scan_s"] = scan.seconds
        layers["sources.bytes_read"] = st.node_metric("Scan parquet", "size of files read")
        layers["sources.files_read"] = st.node_metric("Scan parquet", "number of files read")

        obs = Observation()
        with tr.span("spatial_join.geo_points") as gp:
            pts = sj.geo_points(catalog.load(spark, self.inputs.docs_table))
            noop(pts.observe(obs, F.count(F.lit(1)).alias("n")))
        layers["spatial_join.geo_points_s"] = gp.seconds
        layers["spatial_join.geo_points_rows"] = float(obs.get["n"])

        with tr.span("kernels.points_in_rings"):
            layers["kernels.pip_edge_tests_per_s"] = self._kernel_rate()

        ck_layers, ck_checks = self._checkpoint_resume()
        layers.update(ck_layers)
        checks += ck_checks
        rp_layers, rp_checks = self._replay()
        layers.update(rp_layers)
        checks += rp_checks
        return layers, checks

    def _kernel_rate(self) -> float:
        """Edge tests per second of ``geom.points_in_rings`` over the cached
        candidate sample (pairs x edges per call), median of 5 passes."""
        sample = pq.read_table(self.inputs.path("pip_sample.parquet")).to_pandas()
        zones = pq.read_table(self.inputs.path("zones.parquet"), columns=["zone_id", "rings4326"]).to_pandas()
        edges = {
            int(z): geom.rings_to_edges(geom.rings_from_cell(r))
            for z, r in zip(zones["zone_id"], zones["rings4326"])
        }
        groups = [
            (g["x"].to_numpy(), g["y"].to_numpy(), edges[int(z)])
            for z, g in sample.groupby("zone_id", sort=True)
        ]
        ops = sum(len(x) * len(e) for x, _, e in groups)
        rates = []
        for _ in range(5):
            t0 = time.perf_counter()
            for x, y, e in groups:
                geom.points_in_rings(x, y, e)
            rates.append(ops / (time.perf_counter() - t0))
        return statistics.median(rates)

    def _checkpoint_resume(self) -> tuple[dict, list]:
        """run_stage over all 32 buckets into a fresh checkpoint table, with a
        16-bucket call standing in for a crash and a second call resuming."""
        tr, spark = self.tracer, self.spark
        base = self.inputs.scratch("checkpoint")
        store = TimedStore(base)
        docs = catalog.load(spark, self.inputs.docs_table)
        data_dir = os.path.join(base, "pip", "data")
        with tr.span("checkpoint.crash") as crash:
            ckpt.run_stage(spark, store, "bench", "pip", docs, "doc_id", self._join, max_buckets=16)
        before = _file_ids(data_dir)
        with tr.span("checkpoint.resume") as resume:
            out = ckpt.run_stage(spark, store, "bench", "pip", docs, "doc_id", self._join)
        after = _file_ids(data_dir)
        rows = [tuple(r) for r in out.select(*PIP_COLS).collect()]
        lineage = store.lineage(spark).agg(
            F.sum("input_rows").alias("i"), F.sum("output_rows").alias("o"), F.count("*").alias("b")
        ).collect()[0]
        rewritten = {
            p.split(os.sep)[0]
            for p in before
            if p.startswith(ckpt.BUCKET_COL + "=") and before[p] != after.get(p)
        }
        files = [f for f in after if f.endswith(".parquet")]
        layers = {
            "checkpoint.resume_s": resume.seconds,
            "checkpoint.commit_s": store.seconds,
            "checkpoint.bytes_written": float(sum(after[f][2] for f in files)),
            "checkpoint.files_written": float(len(files)),
            "checkpoint.jobs": float(tr.call_stats([crash, resume]).jobs),
            "checkpoint.buckets_recomputed": float(len(rewritten)),
        }
        checks = [
            ("checkpoint.output", digest(rows), self.expect),
            ("checkpoint.lineage", (lineage["i"], lineage["o"], lineage["b"]), (self.inputs.n_docs, len(rows), 32)),
            ("checkpoint.no_rewrite", sorted(rewritten), []),
        ]
        shutil.rmtree(base, ignore_errors=True)
        return layers, checks

    def _replay(self) -> tuple[dict, list]:
        """replay_stream_spatial_join over a document slice, 3 micro-batches."""
        tr, spark = self.tracer, self.spark
        last = f"doc{self.inputs.replay_docs:08d}"
        docs = catalog.load(spark, self.inputs.docs_table).filter(F.col("doc_id") < last)
        zones = spark.read.parquet(self.inputs.path("zones.parquet"))
        staged = {}
        stage = replay_mod.stage_micro_batches

        def timed_stage(df, stream_dir, n_batches, *a, **kw):
            with tr.span("replay.stage") as s:
                stage(df, stream_dir, n_batches, *a, **kw)
            staged.update(s=s.seconds, files=len(os.listdir(stream_dir)), batches=n_batches)

        replay_mod.stage_micro_batches = timed_stage
        try:
            with tr.span("replay") as whole:
                out = ingest.replay_stream_spatial_join(spark, docs, zones, n_batches=3)
                rows = [tuple(r) for r in out.select(*PIP_COLS).collect()]
        finally:
            replay_mod.stage_micro_batches = stage
        expect = digest(r for r in self.oracle_rows if r[0] < last)
        layers = {
            "replay.stage_s": staged["s"],
            "replay.stream_s": whole.seconds - staged["s"],
            "replay.files_written": float(staged["files"]),
            "replay.batches": float(staged["batches"]),
        }
        return layers, [("replay.output", digest(rows), expect)]


class TimedStore(ckpt.CheckpointStore):
    """CheckpointStore whose manifest calls add up their wall time."""

    def __init__(self, base_dir: str):
        super().__init__(base_dir)
        self.seconds = 0.0

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.seconds += time.perf_counter() - t0

    def committed(self, run_id, stage):
        return self._timed(super().committed, run_id, stage)

    def commit(self, rows):
        return self._timed(super().commit, rows)


def _file_ids(root: str) -> dict:
    """relative path -> (inode, mtime_ns, size) of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class ZoneAnalytics:
    """tile_assign of zones against rasters, zonal_statistics on the raster
    tiles and knn(k=5) on the near points; no document scan. The results
    are small (thousands of rows), so each is materialized by collecting
    it to the driver, which is also what the check reads."""

    name = "zone_analytics"
    # no untimed warm-up: a repetition takes about 10 s, and the run's time
    # budget leaves room for the measured ones only
    warmup = 0
    min_reps = 2

    def __init__(self, spark, tracer, inputs, oracle):
        self.spark, self.tracer, self.inputs = spark, tracer, inputs
        self.expect = {name: digest(oracle.rows(name)) for name in ("tile_assign", "zonal_stats", "zonal_counts", "knn")}

    def rep(self) -> Rep:
        tr, spark, p = self.tracer, self.spark, self.inputs.path
        zones = spark.read.parquet(p("zones.parquet"))
        rasters = spark.read.parquet(p("rasters.parquet"))
        tiles = spark.read.parquet(p("raster_tiles.parquet"))
        points = spark.read.parquet(p("near_points.parquet"))
        cols = {k: FORMS[k][1] for k in self.expect}
        t0 = time.perf_counter()
        with tr.span("zone_analytics") as root:
            with tr.span("tile_assign") as tspan:
                got = {"tile_assign": _rows(ta.tile_assign(zones, rasters), cols["tile_assign"])}
            with tr.span("zonal.build") as zb:
                stats, counts = zonal.zonal_statistics(spark, zones, rasters, tiles, hash_safe=True)
            with tr.span("zonal.exec") as ze:
                got["zonal_stats"] = _rows(_stats_as_oracle(stats), cols["zonal_stats"])
                got["zonal_counts"] = _rows(counts, cols["zonal_counts"])
            with tr.span("knn.build") as kb:
                near = knn_ops.knn(spark, points, k=5)
            with tr.span("knn.exec") as ke:
                got["knn"] = _rows(near, cols["knn"])
        seconds = time.perf_counter() - t0
        cached_mb = _cached_mb(spark) if root is not None else 0.0
        rep = Rep(seconds, [(k, digest(v), self.expect[k]) for k, v in got.items()])
        release(stats)
        release(near)
        spark.catalog.clearCache()
        if root is not None:
            zst = tr.call_stats([zb, ze])
            kst = tr.call_stats([kb, ke])
            rep.layers = {
                "tile_assign.s": tspan.seconds,
                "tile_assign.rows": float(len(got["tile_assign"])),
                "zonal.build_s": zb.seconds,
                "zonal.exec_s": ze.seconds,
                "zonal.shuffle_bytes": zst.shuffle_bytes,
                "knn.build_s": kb.seconds,
                "knn.exec_s": ke.seconds,
                "knn.jobs": float(kst.jobs),
                "knn.candidates": sum(kst.node_metric(j, "number of output rows") for j in _JOINS),
                "knn.cached_mb": cached_mb,
            }
            st = tr.call_stats([root])
            rep.layers.update(_python_metrics(st))
            rep.layers.update(_exchange_metrics(st))
        return rep

    def probes(self) -> tuple[dict, list]:
        return {}, []


# join operators; in knn their output rows are dominated by candidate pairs
_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")


def _stats_as_oracle(stats):
    """zonal_statistics columns under the oracle's names."""
    return stats.select(
        "zone_id", "count_total", F.col("min").alias("vmin"), F.col("max").alias("vmax"),
        F.col("mean").alias("vmean"), F.col("median").alias("vmedian"), F.col("var").alias("vvar"),
        F.col("stdev").alias("vstdev"), F.col("perc90").alias("vperc90"),
    )


def _rows(df, cols) -> list[tuple]:
    return [tuple(r) for r in df.select(*cols).collect()]


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


WORKLOADS = {w.name: w for w in (PipJoin, ZoneAnalytics)}
