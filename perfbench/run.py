"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload pip_join --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(cached per seed under ``.perfbench_work/``, as are the oracle answers),
starts a ``local[4]`` session through the package's ``get_spark``, runs the
workload's first job, its untimed warm-up repetitions and then repetitions
until ``--seconds`` have passed, checks every result against the oracle, and
prints one JSON object as the last line of standard output. The job metrics
are the CPU time of the whole process tree (driver, JVM, Python workers),
which time stolen by the hypervisor does not stretch; see README.md.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that alternates traced and untraced repetitions, adds the traced-only
layer probes, and reports the per-layer metrics (see ``layers.json``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))

# input sizes: half the sf0.1 documents, sf0.1 raster grids; 1,000 near points so that
# every seed runs knn's first ring-expansion round (see README.md)
SIZES = dict(docs=100_000, shards=8, zones=400, shared_px=128, shifted_px=96, points=1_000,
             replay_docs=20_000, pip_sample=50_000)
GEN_VERSION = "1"
KEEP_SEEDS = 32
CORES = 4
DRIVER_MEM = "3g"


def _pin_environment() -> None:
    """Session and process settings, fixed here so every run is alike and
    every file a run writes stays under the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    sys.path[:0] = [ROOT]


# ------------------------------------------------------------------ inputs


class Inputs:
    """The generated tables for one seed, under a cache directory."""

    def __init__(self, seed: int):
        tag = hashlib.md5(json.dumps([GEN_VERSION, SIZES], sort_keys=True).encode()).hexdigest()[:10]
        self.base = os.path.join(WORK, "inputs", tag)
        self.dir = os.path.join(self.base, f"seed-{seed}")
        self.seed = seed
        self.docs_table = self.path("docs")
        self.n_docs = SIZES["docs"]
        self.replay_docs = SIZES["replay_docs"]
        os.makedirs(self.dir, exist_ok=True)
        os.utime(self.dir)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def scratch(self, name: str) -> str:
        d = os.path.join(WORK, "scratch", name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def prune(self) -> None:
        """Keep the inputs of the most recently used seeds, at these sizes only."""
        parent = os.path.dirname(self.base)
        for tag in os.listdir(parent):
            if os.path.join(parent, tag) != self.base:
                shutil.rmtree(os.path.join(parent, tag), ignore_errors=True)
        seeds = sorted(
            (os.path.join(self.base, d) for d in os.listdir(self.base)),
            key=os.path.getmtime, reverse=True,
        )
        for d in seeds[KEEP_SEEDS:]:
            shutil.rmtree(d, ignore_errors=True)

    def _once(self, names: list[str], write) -> None:
        """Create ``names`` by ``write(*tmp_paths)`` unless they all exist."""
        finals = [self.path(n) for n in names]
        if all(os.path.exists(f) for f in finals):
            return
        tmps = [f + ".tmp" for f in finals]
        for t in tmps:
            shutil.rmtree(t, ignore_errors=True)
        write(*tmps)
        for t, f in zip(tmps, finals):
            os.replace(t, f)

    def ensure(self, workload: str, traced: bool) -> None:
        import gen

        s, seed = SIZES, self.seed
        self._once(["zones.parquet", "zone_edges.parquet"], lambda z, e: gen.write_zones(z, e, seed, s["zones"]))
        if workload == "pip_join":
            self._once(["docs"], self._write_docs)
            if traced:
                self._once(["pip_sample.parquet"], self._write_pip_sample)
        else:
            self._once(["rasters.parquet", "raster_tiles.parquet"],
                       lambda r, t: gen.write_rasters(r, t, seed, s["shared_px"], s["shifted_px"]))
            self._once(["near_points.parquet"], lambda p: gen.write_points(p, seed, s["points"]))

    def _write_docs(self, table_dir: str) -> None:
        """Documents as an IcebergLayoutTable: shards written with pyarrow,
        committed by the table's own ``append``."""
        import gen
        from gdal_common_python_spark.sources.catalog import IcebergLayoutTable

        staged = table_dir + ".staged"
        shutil.rmtree(staged, ignore_errors=True)
        gen.write_docs(staged, self.seed, SIZES["docs"], SIZES["shards"])
        IcebergLayoutTable(table_dir).append(_StagedParquet(staged))
        shutil.rmtree(staged, ignore_errors=True)

    def docs_files(self) -> list[str]:
        from gdal_common_python_spark.sources.catalog import IcebergLayoutTable

        return IcebergLayoutTable(self.docs_table).plan_files()

    def _write_pip_sample(self, path: str) -> None:
        """A fixed sample of (x, y, zone_id) candidate pairs, points parsed by
        the oracle's own point parse, for the PIP kernel probe."""
        import duckdb
        import pyarrow.parquet as pq
        from gdal_common_python_spark.operators.spatial_join import point_parse_sql

        files = ", ".join(f"'{f}'" for f in self.docs_files())
        con = duckdb.connect()
        try:
            rel = con.sql(f"""
                WITH pts AS ({point_parse_sql(f"read_parquet([{files}])")})
                SELECT p.px AS x, p.py AS y, z.zone_id
                FROM pts p JOIN read_parquet('{self.path("zones.parquet")}') z
                  ON p.px BETWEEN z.bbox4326.xmin AND z.bbox4326.xmax
                 AND p.py BETWEEN z.bbox4326.ymin AND z.bbox4326.ymax
                ORDER BY md5(p.doc_id || '|' || p.off || '|' || z.zone_id)
                LIMIT {SIZES["pip_sample"]}
            """)
            pq.write_table(rel.arrow(), path)
        finally:
            con.close()


class _StagedParquet:
    """The part of the DataFrame interface ``IcebergLayoutTable.append`` uses
    (``write.mode(...).parquet(dir)``, ``schema``, ``sparkSession``), backed
    by parquet files already on disk: the package's own commit code builds
    the table, and no Spark job runs before the timed session starts."""

    sparkSession = None

    def __init__(self, src_dir: str):
        self.src = src_dir

    @property
    def write(self):
        return self

    def mode(self, _mode: str):
        return self

    def parquet(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for f in sorted(os.listdir(self.src)):
            os.replace(os.path.join(self.src, f), os.path.join(out_dir, f))

    @property
    def schema(self):
        from gdal_common_python_spark.schemas import DOCUMENTS

        return DOCUMENTS


# ------------------------------------------------------------------ process memory


def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_cpu_seconds(root: int) -> float:
    """User plus system CPU time of a process tree, waited-for children
    included. With paravirtual steal accounting, time the hypervisor gave to
    other guests is not counted."""
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def _steal_seconds() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the summed RSS of this process and its descendants (the JVM
    and the Python workers) every 100 ms while running."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(0.1):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------ session


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def start_session():
    """get_spark plus the first pandas UDF; returns (spark, get_spark_s, warmup_s)."""
    from pyspark.sql import functions as F

    from gdal_common_python_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=CORES)
    t1 = time.perf_counter()
    rows = spark.range(0, 8, numPartitions=CORES).select(F.pandas_udf(_plus_one, "long")("id")).collect()
    if sorted(r[0] for r in rows) != list(range(1, 9)):
        raise RuntimeError("warm-up UDF returned wrong rows")
    return spark, t1 - t0, time.perf_counter() - t1


def stop_everything(spark) -> None:
    """Stop the session, the JVM and every process they started, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(_process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in _process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ------------------------------------------------------------------ run


T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench: {msg} ({time.perf_counter() - T0:.1f} s)", file=sys.stderr)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "gdal_common_python_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no gdal_common_python_spark package under {ROOT}", file=sys.stderr)
        return 2
    _pin_environment()
    from workloads import WORKLOADS, tally

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    from oracle import Oracle
    from spans import Tracer

    inputs = Inputs(args.seed)
    # the traced run also calls every other workload once (see below)
    needed = list(WORKLOADS) if args.trace else [args.workload]
    for name in needed:
        inputs.ensure(name, traced=bool(args.trace))
    oracle = Oracle(inputs.dir, inputs.docs_files() if "pip_join" in needed else None)
    _log("inputs ready")

    spark, get_spark_s, warmup_s = start_session()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(spark, run_id, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tracer, inputs, oracle)
    _log("session and oracle ready")

    attempted = failed = n = 0
    stolen = 0.0
    first, warm_plain, warm_traced, layer_reps = None, [], [], []
    probe_layers, cross_layers = {}, {}

    def one_rep(traced: bool):
        """One checked repetition; None if it raised."""
        nonlocal attempted, failed, n, stolen
        tracer.enabled = traced
        try:
            c0, s0 = _tree_cpu_seconds(os.getpid()), _steal_seconds()
            rep = wl.rep()
            rep.cpu_seconds = _tree_cpu_seconds(os.getpid()) - c0
            stolen += _steal_seconds() - s0
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            return None
        n += 1
        print(f"perfbench: rep {n} {'traced ' if traced else ''}{rep.seconds:.3f} s, cpu {rep.cpu_seconds:.2f} s", file=sys.stderr)
        tried, bad = tally(rep.checks)
        attempted += tried
        failed += len(bad)
        for name in bad:
            print(f"perfbench: check {name} failed on rep {n}", file=sys.stderr)
        if traced:
            layer_reps.append(rep.layers)
        return rep

    with PeakRss() as rss:
        # the first job (traced in the traced run), then untimed warm-up
        # repetitions until the JIT has settled, then the measured window:
        # repetitions for --seconds (untraced and traced alternating in the
        # traced run)
        first = one_rep(bool(args.trace))
        ok = first is not None
        for _ in range(wl.warmup if ok else 0):
            if one_rep(False) is None:
                ok = False
                break
        t_start = time.perf_counter()
        while ok and (
            time.perf_counter() - t_start < args.seconds
            or len(warm_plain) + len(warm_traced) < wl.min_reps
            or (args.trace and not (warm_plain and warm_traced))
        ):
            traced = bool(args.trace) and len(warm_plain) > len(warm_traced)
            rep = one_rep(traced)
            if rep is None:
                break
            (warm_traced if traced else warm_plain).append(rep)
        if args.trace and failed == 0:
            tracer.enabled = True
            try:
                probe_layers, checks = wl.probes()
                # one cold call of every other workload and its probes, so
                # every per-layer metric is measured in every traced run
                for name in needed:
                    if name != args.workload:
                        other = WORKLOADS[name](spark, tracer, inputs, oracle)
                        rep = other.rep()
                        layers, more = other.probes()
                        cross_layers.update(rep.layers)
                        cross_layers.update(layers)
                        checks = checks + rep.checks + more
                tried, bad = tally(checks)
                attempted += tried
                failed += len(bad)
                for name in bad:
                    print(f"perfbench: check {name} failed", file=sys.stderr)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
        tracer.enabled = False

    # CPU time the hypervisor gave to other guests while the repetitions ran:
    # it stretches wall times, not the CPU times the metrics report
    _log(f"measured; {stolen:.1f} CPU-s stolen by the host during the repetitions")
    restarts = []
    if args.trace:
        # session.restart_s: stop and restart in this process, which reuses
        # the running JVM, so it is not the cold set-up of setup_s
        for _ in range(2):
            spark.stop()
            spark, a, b = start_session()
            restarts.append(a + b)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"))
        _log("restarted twice")
    stop_everything(spark)
    inputs.prune()
    _log("stopped")

    if args.trace:
        metrics = _layer_metrics(layer_reps, probe_layers, cross_layers, first, warm_plain, warm_traced,
                                 get_spark_s, warmup_s, restarts, attempted, failed)
    else:
        metrics = {
            # the process's cold set-up: fresh JVM, get_spark, first pandas UDF
            "setup_s": {"value": get_spark_s + warmup_s, "unit": "s"},
            "first_job_cpu_s": {"value": first.cpu_seconds if first else 0.0, "unit": "s"},
            "job_cpu_s": {"value": _median([r.cpu_seconds for r in warm_plain]), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0 and first is not None, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


def _layer_metrics(layer_reps, probe_layers, cross_layers, first, warm_plain, warm_traced,
                   get_spark_s, warmup_s, restarts, attempted, failed) -> dict:
    """Medians over the traced warm repetitions, the probes, then the other
    workloads' single cold call for the layers this workload does not use."""
    with open(os.path.join(HERE, "layers.json")) as fh:
        spec = json.load(fh)["per_layer"]
    values = {m["name"]: 0.0 for m in spec}
    warm_layers = layer_reps[1:] or layer_reps
    for key in set().union(*warm_layers) if warm_layers else ():
        values[key] = _median([r[key] for r in warm_layers if key in r])
    values.update(probe_layers)
    own = set(probe_layers).union(*warm_layers) if warm_layers else set(probe_layers)
    values.update({k: v for k, v in cross_layers.items() if k not in own and k in values})
    cold = layer_reps[0] if layer_reps else {}
    values["python.first_worker_init_s"] = cold.get("python.worker_init_s", 0.0)
    values["session.get_spark_s"] = get_spark_s
    values["session.worker_warmup_s"] = warmup_s
    values["session.restart_s"] = _median(restarts)
    plain = _median([r.seconds for r in warm_plain])
    values["job.first_wall_s"] = first.seconds if first else 0.0
    values["job.wall_s"] = plain
    values["trace.overhead_frac"] = _median([r.seconds for r in warm_traced]) / plain - 1.0 if plain else 0.0
    values["job.reps"] = float(len(warm_plain) + len(warm_traced))
    values["fail_frac"] = failed / max(attempted, 1)
    units = {m["name"]: m["unit"] for m in spec}
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
