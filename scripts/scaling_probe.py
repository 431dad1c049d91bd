"""Per-key Spark-side runtime scaling across scale factors.

The repo's 100 TB claims are plan-shape arguments (no cartesian
products, banded joins instead of all-pairs, bounded fan-outs). This
tool adds the runtime counterpart: it times EVERY registered query's
Spark plan (``harness.time_key``: ``noop``-format write, best of 2 in
bench.py's session) at each provided scale factor and reports how the runtime
grows as the data grows 10x per step.

Reading the numbers on local[32]:

- runtime = fixed_overhead + c * work(data). Small SFs are overhead-
  dominated, so ratios well BELOW the 10x data-growth factor are
  expected and meaningless.
- A key doing work linear in its input can approach ratio 10 as data
  swamps overhead; a key with a hidden quadratic stage (all-pairs
  join, per-group O(n^2) fan-out) shows ratio pulling toward 100.
- The flag therefore fires only on (ratio > SUSPECT_RATIO) AND
  (absolute runtime at the big SF > SUSPECT_ABS_S) — a tiny-absolute
  ratio blowup is scheduling noise, not a scale signal.

Usage:
    python scripts/scaling_probe.py [--json OUT.json] [key ...]

Writes incrementally per key so an interrupted run leaves evidence.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import bench_session, time_key, warm  # noqa: E402

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

#: Data grows 10x between consecutive SF dirs; a linear-work plan can
#: reach ~10x runtime growth once data swamps fixed overhead. 15 allows
#: for measurement noise on top of exactly-linear; a quadratic stage
#: lands far above it (toward 100).
SUSPECT_RATIO = 15.0
#: ... but only when the large-SF runtime is big enough for the ratio
#: to be work-driven rather than scheduling jitter on a <1 s plan.
SUSPECT_ABS_S = 1.0


def classify(times_s: list[float | None]) -> dict:
    """Pure summary of one key's per-SF steady-state times.

    Returns consecutive-step ratios, the log10 slope of the last step
    (1.0 = exactly linear in data), and the suspect flag per the module
    policy. ``None`` entries (errored runs) disable the affected ratios.
    """
    ratios: list[float | None] = []
    for a, b in zip(times_s, times_s[1:]):
        if a is None or b is None or a <= 0:
            ratios.append(None)
        else:
            ratios.append(round(b / a, 2))
    last = ratios[-1] if ratios else None
    big = times_s[-1] if times_s else None
    slope = round(math.log10(last), 3) if last and last > 0 else None
    suspect = bool(
        last is not None
        and big is not None
        and last > SUSPECT_RATIO
        and big > SUSPECT_ABS_S
    )
    return {
        "step_ratios": ratios,
        "last_step_log10_slope": slope,
        "suspect_superlinear": suspect,
    }


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    only = [a for a in args if not a.startswith("-")]

    spark = bench_session("data-ingestor-spark-scaling-probe")
    from data_ingestor_spark.plans.queries import REGISTRY

    warm(spark, SF_DIRS[0])

    names = only or sorted(REGISTRY)
    results: dict[str, dict] = {}

    def flush(complete: bool) -> None:
        if not json_out:
            return
        flagged = sorted(
            k for k, v in results.items() if v.get("suspect_superlinear")
        )
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dirs": SF_DIRS,
                    "complete": complete,
                    "n_keys": len(results),
                    "suspect_superlinear": flagged,
                    "policy": {
                        "suspect_ratio": SUSPECT_RATIO,
                        "suspect_abs_s": SUSPECT_ABS_S,
                        "runs_per_point": 2,
                    },
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )

    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(f"skip  {name}: not registered")
            continue
        times: list[float | None] = []
        err = None
        for sf_dir in SF_DIRS:
            try:
                times.append(min(time_key(spark, spec.fn, sf_dir)[1]))
            except Exception as e:  # noqa: BLE001
                err = f"{sf_dir}: {e}"
                times.append(None)
        rec = {"times_s": times, "err": err}
        rec.update(classify(times))
        results[name] = rec
        flush(False)
        tag = "SUSPECT" if rec["suspect_superlinear"] else "ok"
        print(f"{tag:7s} {name}: {times} ratios={rec['step_ratios']}")

    flush(True)
    flagged = sorted(k for k, v in results.items() if v.get("suspect_superlinear"))
    print(
        json.dumps(
            {
                "n_keys": len(results),
                "n_suspect": len(flagged),
                "suspect": flagged,
                "out": json_out,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
