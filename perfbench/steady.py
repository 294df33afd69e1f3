"""Steadiness check: two sets of runs of the same code, each metric's spread
against its bound.

    python3 perfbench/steady.py --seeds 10 --sets 2

Each set runs the benchmark once per seed on every workload in
BENCHMARK.json, the workloads taking turns seed by seed so that a slow or
fast spell of the host falls on all of them alike (seed numbers differ
between sets). For each end-to-end metric it prints the set's median and
its spread, the distance between the first and third quartile
(``statistics.quantiles(n=4)``) as a share of the median, and how much
worse the later set's median reads than the first one's. A metric passes
when every set's spread stays within its bound and the later medians are
not worse than the first by more than the bound. ``setup_s`` is one cold
set-up per run, so only its median drift is held to the bound; its spread
is printed but not tested. Exits non-zero if any metric fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first: float, later: float, better: str) -> float:
    """Share by which ``later`` is worse than ``first`` (negative: better)."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    results: dict = {w: [[] for _ in range(args.sets)] for w in workloads}
    ok = True
    for k in range(args.sets):
        for s in range(args.first_seed + k * args.seeds, args.first_seed + (k + 1) * args.seeds):
            for w in workloads:
                run = run_once(w, s, bench["run_seconds"])
                results[w][k].append(run)
                print(f"  {w} seed {s}: " + " ".join(
                    f"{m}={v['value']:.4g}" for m, v in run["metrics"].items()), flush=True)
                if not run["correct"] or run["failed"]:
                    ok = False
                    print(f"  {w} seed {s}: not correct")
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':14s} {'bound':>6s} " + " ".join(f"{'median':>10s} {'spread':>7s}" for _ in range(args.sets)) + "  worse_by")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r["metrics"][name]["value"] for r in runs] for runs in results[w]]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            drift = max(worse_by(meds[0], x, m["better"]) for x in meds[1:]) if len(meds) > 1 else 0.0
            good = drift <= bound and (name == "setup_s" or all(s <= bound for s in spreads))
            ok &= good
            cells = " ".join(f"{md:10.4g} {sp:7.3f}" for md, sp in zip(meds, spreads))
            print(f"  {name:14s} {bound:6.3f} {cells}  {drift:+.3f} {'ok' if good else 'FAIL'}"
                  f"{'' if max(spreads) < bound / 3 else '  (spread above a third of the bound)'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
