"""Per-key build and run timing, with optional plan dumps.

Times registry keys with the bench's methodology (noop sink, best of N
in one warmed session) and optionally writes each key's
``explain("formatted")`` to a directory, so a plan change can be
measured before and after:

    python scripts/opt_profile.py --keys q_agg_basic,q_tpch_q3 \
        [--sf /root/testdata/sf0.1] [--reps 2] [--plans-dir plans/r13 \
        --plan-suffix _before] [--json /tmp/prof.json]

The session, warm-up and timing loop come from ``harness`` (bench.py's
configuration), so numbers here are directly comparable to the bench's
per-key entries. ``build_s`` is the last rep's plan-build time, which
includes any Spark jobs the key's builder runs eagerly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import bench_session, time_key, warm  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", required=True, help="comma-separated registry keys")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-suffix", default="")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    spark = bench_session("opt-profile")
    from data_ingestor_spark.plans import queries as q

    warm(spark, args.sf)

    out: dict[str, dict] = {}
    for name in args.keys.split(","):
        name = name.strip()
        spec = q.REGISTRY.get(name)
        if spec is None:
            out[name] = {"err": "unknown key"}
            continue
        spark.sparkContext.setJobDescription(f"opt-profile:{name}")
        builds, runs, err = [], [], None
        try:
            builds, runs = time_key(spark, spec.fn, args.sf, args.reps)
            if args.plans_dir:
                os.makedirs(args.plans_dir, exist_ok=True)
                plan = spec.fn(spark, args.sf)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
                with open(
                    os.path.join(args.plans_dir, f"{name}{args.plan_suffix}.txt"), "w"
                ) as fh:
                    fh.write(plan)
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:300]
        out[name] = {
            "runs": runs,
            "best": min(runs) if runs else None,
            "build_s": builds[-1] if builds else None,
            "err": err,
        }
        print(name, out[name], flush=True)
        spark.sparkContext.setJobDescription(None)

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
