#!/usr/bin/env python3
"""Steadiness check: run the benchmark over several seeds and report each
end-to-end metric's spread next to its bound.

The spread of a metric is the distance between the first and third
quartile of its per-run values (``statistics.quantiles(values, n=4)``) as a
share of their median. ``BENCHMARK.json`` fixes the bound of each metric.

Usage, from the repository root::

    python3 perfbench/steady.py --runs 10 --out perfbench/results/set1.json
    python3 perfbench/steady.py --workloads ingest_load --runs 5 --first-seed 100
    python3 perfbench/steady.py --compare perfbench/results/set1.json perfbench/results/set2.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def run_set(bench: dict, workloads: list[str], runs: int, first_seed: int) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out: dict = {"seconds": bench["run_seconds"], "workloads": {}}
    for wl in workloads:
        values: dict[str, list[float]] = {}
        walls, failed = [], 0
        for seed in range(first_seed, first_seed + runs):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            walls.append(time.perf_counter() - t0)
            if proc.returncode != 0:
                raise SystemExit(f"{wl} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            failed += result["failed"]
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(wl, seed, f"{walls[-1]:.1f}s",
                  {k: round(v["value"], 4) for k, v in result["metrics"].items()}, flush=True)
        stats = {}
        for name, vals in values.items():
            s = spread(vals)
            s.update(bound=bounds[name], values=vals,
                     within_third=s["spread"] < bounds[name] / 3)
            stats[name] = s
        out["workloads"][wl] = {"metrics": stats, "failed": failed,
                                "run_wall_s": {"median": statistics.median(walls),
                                               "max": max(walls)}}
    return out


def compare(a: dict, b: dict, bench: dict) -> dict:
    """Median drift of the second set against the first, per metric."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {}
    for wl, data in a["workloads"].items():
        for name, s in data["metrics"].items():
            m2 = b["workloads"][wl]["metrics"][name]["median"]
            drift = (m2 - s["median"]) / s["median"]
            if name.endswith("_per_s"):
                drift = -drift  # higher is better
            out[f"{wl}/{name}"] = {"drift": drift, "bound": bounds[name],
                                   "ok": drift <= bounds[name]}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        result = compare(*sets, bench)
    else:
        result = run_set(bench, args.workloads, args.runs, args.first_seed)
    text = json.dumps(result, indent=1, sort_keys=True)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            f.write(text + "\n")
    summary = result if args.compare else {
        f"{wl}/{n}": (round(s["spread"], 4), s["bound"])
        for wl, d in result["workloads"].items() for n, s in d["metrics"].items()
    }
    print(json.dumps(summary, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
