"""Same-boot A/B timing of registry queries across two source revisions.

Cross-round bench comparisons conflate code changes with boot speed:
the box is re-provisioned between rounds and boots differ up to ~1.2×
on byte-identical code (measured r4→r5). The only mechanical way to
attribute a per-query ratio to CODE is to time both revisions on ONE
boot, interleaved so co-tenant drift hits both variants equally. This
tool does that:

    python scripts/ab_bench.py --old-rev HEAD~1 \
        --keys q_tpch_q22,q_text_classifier --reps 2 \
        --json AB.json [--sf SF_DIR]

``--old-rev`` is required: there is no sensible default revision.

Method:
- ``git archive <old-rev>`` is unpacked to a temp dir; the old
  ``data_ingestor_spark`` package is imported from there in its own
  worker process (two revisions of one package can't share a process).
- One worker process per (variant, rep), interleaved old/new/old/new.
  Each worker builds, warms and times through ``harness`` (the
  session bench.py uses; ``noop``-format write, best of 2 in-process
  runs) and emits JSON on its last stdout line. ``harness`` always
  comes from this checkout, so both variants run under one session
  configuration and only the package differs.
- The artifact records per-key old/new seconds (min across reps — the
  least-interfered observation), their ratio, each worker's single-
  thread md5 calibration, and the load average, so a reader can check
  the boot was comparable while both variants ran.

A ratio ≈1.0 here on a key whose raw cross-round ratio was 1.5× is
positive evidence the cross-round number was boot/noise, not code.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

from harness import bench_session, cpu_cal, time_key, warm

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker(tree: str, keys: list[str], sf_dir: str) -> None:
    """Time ``keys`` against the registry in ``tree``; print one JSON line."""
    sys.path.insert(0, tree)
    spark = bench_session("ab-bench")
    cal = cpu_cal()
    from data_ingestor_spark.plans import queries as q

    warm(spark, sf_dir)
    keys = [k for k in keys if k in q.REGISTRY]
    out = {k: min(time_key(spark, q.REGISTRY[k].fn, sf_dir)[1]) for k in keys}
    print(json.dumps({"queries": out, "cpu_cal_s": cal}))
    spark.stop()


def summarize(reps: list[dict]) -> dict[str, dict]:
    """Per-key A/B table from interleaved rep records.

    Each rep record carries ``variant`` ("old"/"new") and a
    ``queries`` {key: seconds} map; the per-variant time is the MIN
    over reps (steady-state floor — co-tenant noise only ever adds
    time), and the ratio is new/old, rounded to 3 places. Keys present
    in only one variant are dropped (a key added or removed between
    revisions has no A/B meaning)."""

    def best(variant: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for rec in reps:
            if rec["variant"] != variant:
                continue
            for k, v in rec["queries"].items():
                out[k] = min(v, out.get(k, float("inf")))
        return out

    old_b, new_b = best("old"), best("new")
    return {
        k: {
            "old_s": old_b[k],
            "new_s": new_b[k],
            "ratio_new_over_old": round(new_b[k] / old_b[k], 3) if old_b[k] else None,
        }
        for k in sorted(set(old_b) & set(new_b))
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--old-rev", required=True, help="git revision to A/B against")
    p.add_argument("--keys", required=True)
    p.add_argument("--reps", type=int, default=2)
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--json", dest="json_out", default=None)
    p.add_argument("--worker-tree", default=None, help=argparse.SUPPRESS)
    args = p.parse_args()
    keys = [k for k in args.keys.split(",") if k]

    if args.worker_tree:
        _worker(args.worker_tree, keys, args.sf)
        return 0

    tmp = tempfile.mkdtemp(prefix="ab_old_")
    subprocess.run(
        f"git -C {REPO} archive {args.old_rev} | tar -x -C {tmp}",
        shell=True, check=True,
    )

    def run_variant(tree: str) -> dict:
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--worker-tree", tree, "--old-rev", args.old_rev,
            "--keys", args.keys, "--sf", args.sf,
        ]
        r = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=tree)
        last = [ln for ln in r.stdout.strip().splitlines() if ln.startswith("{")][-1]
        return json.loads(last)

    load_start = round(os.getloadavg()[0], 2)
    reps: list[dict] = []
    for i in range(args.reps):
        for variant, tree in (("old", tmp), ("new", REPO)):
            rec = run_variant(tree)
            rec["variant"], rec["rep"] = variant, i
            reps.append(rec)
            print(
                f"rep{i} {variant}: cal={rec['cpu_cal_s']} "
                + " ".join(f"{k}={v}" for k, v in rec["queries"].items())
            )

    table = summarize(reps)
    new_rev = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    dirty = bool(
        subprocess.run(
            ["git", "-C", REPO, "status", "--porcelain"],
            capture_output=True, text=True,
        ).stdout.strip()
    )
    result = {
        "old_rev": args.old_rev,
        "new_rev": new_rev + ("+dirty" if dirty else ""),
        "sf_dir": args.sf,
        "reps": args.reps,
        "host_load_avg_1m_start": load_start,
        "host_load_avg_1m_end": round(os.getloadavg()[0], 2),
        "cal_s": {
            "old": [r["cpu_cal_s"] for r in reps if r["variant"] == "old"],
            "new": [r["cpu_cal_s"] for r in reps if r["variant"] == "new"],
        },
        "queries": table,
        "note": "per-key seconds are min over reps of best-of-2 in-process "
        "runs; both variants timed interleaved on one boot, so "
        "ratio_new_over_old is code-attributable",
    }
    print(json.dumps(result))
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(f"wrote {args.json_out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
