"""Physical-plan audit over the whole query registry.

Compiles every registered query at the given scale factor WITHOUT
executing it and emits one JSON line per key with the plan-shape
counters that matter at 100 TB: scan count, exchange (shuffle) count,
join strategy mix, window/aggregate counts, whole-stage-codegen span
count, and the red flags (CartesianProduct, row-at-a-time Python eval).

This is the fleet-wide version of tests/test_plan_quality.py: the pins
assert hand-picked invariants on flagship keys; this audit records the
full distribution so a refactor that quietly degrades an UNpinned key's
plan (a broadcast that became sort-merge, a new shuffle) shows up as a
diff of two audit files.

Usage: python scripts/plan_audit.py [sf_dir] [out.json]
       python scripts/plan_audit.py --diff old.json new.json

Compile-only (`explainString`): no registered query's plan is
executed. A builder may still launch Spark jobs while it constructs
its DataFrame (an eager ``localCheckpoint`` pin, a one-row plan-shape
probe, a streaming drain); each key's ``build_jobs`` records how many,
counted by job group from the status store (``harness.spark_jobs``,
which the tests use too), so a builder that gains or loses an eager
job shows up in ``--diff`` apart from the plan-shape changes.
Every table in ``sf_dir`` is read before the first key, so a table's
one-time footer job is charged to no key. Jobs a stream runs on its
own thread carry the stream's job group and are not counted.
BroadcastNestedLoopJoin is counted but NOT flagged — every registry
occurrence is a broadcast 1-row scalar attach (audited; see
ext/text.py, plans/relational.py docstrings), which is the intended
plan for "attach a corpus-level aggregate to every row".
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import bench_session, spark_jobs  # noqa: E402

FLAG_KEYS = ("cartesian", "python_row_eval")


def audit_plan(plan: str) -> dict:
    return {
        "scans": len(re.findall(r"\(\d+\) Scan ", plan)),
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "broadcast_hash_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "shuffled_hash_joins": len(re.findall(r"\(\d+\) ShuffledHashJoin", plan)),
        "bnl_joins": len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)),
        "windows": len(re.findall(r"\(\d+\) Window", plan)),
        "window_group_limits": len(re.findall(r"\(\d+\) WindowGroupLimit", plan)),
        "hash_aggregates": len(re.findall(r"\(\d+\) HashAggregate", plan)),
        "sorts": len(re.findall(r"\(\d+\) Sort\b", plan)),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        # at least one scan carries a real (non-empty) pushed filter —
        # an empty PushedFilters on an unfiltered side must not mask it
        "pushed_filters": plan.count("PushedFilters: [")
        > plan.count("PushedFilters: []"),
        # scans over hive-partitioned layouts whose directory-level
        # filter is non-empty (VERDICT r12 directive #4: record the
        # partition-pruning evidence registry-wide, not just in the
        # hand-checked keys)
        "partition_filtered_scans": plan.count("PartitionFilters: [")
        - plan.count("PartitionFilters: []"),
        "dpp_filters": plan.count("dynamicpruning#"),
        "cartesian": len(re.findall(r"\(\d+\) CartesianProduct", plan)),
        # Arrow-batched pandas evals are fine; BatchEvalPython (row-at-a-
        # time Python UDF) is the slow path that must never appear.
        "python_row_eval": len(re.findall(r"\(\d+\) BatchEvalPython", plan)),
        "arrow_evals": len(
            re.findall(r"\(\d+\) (?:ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)", plan)
        ),
    }


def run_audit(sf_dir: str, out_path: str | None) -> int:
    from data_ingestor_spark.plans import queries as q
    from data_ingestor_spark.plans.registry import load_table

    # bench.py's session: the eager-build cost the audit accepts includes
    # output-bound materializations (q_sql_graph_triangles' 208M-triangle
    # rollup) that need its Spark driver heap (OOM diagnosis in OPTIMIZATION_r13.md)
    spark = bench_session("plan-audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    rows = {}
    failed = 0
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        load_table(spark, sf_dir, os.path.basename(path)[: -len(".parquet")])
    for name in sorted(q.REGISTRY):
        try:
            df, jobs = spark_jobs(spark, q.REGISTRY[name].fn, spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
            rows[name] = {**audit_plan(plan), "build_jobs": jobs}
        except Exception as e:  # compile failure IS a finding
            rows[name] = {"error": str(e).splitlines()[0][:200]}
            failed += 1
    doc = {"sf_dir": sf_dir, "n_keys": len(rows), "n_compile_errors": failed, "plans": rows}
    text = json.dumps(doc, indent=1, sort_keys=True)
    if out_path:
        with open(out_path, "w") as f:
            f.write(text + "\n")
    flagged = {
        k: {f: v[f] for f in FLAG_KEYS if v.get(f)}
        for k, v in rows.items()
        if any(v.get(f) for f in FLAG_KEYS)
    }
    print(
        json.dumps(
            {
                "n_keys": len(rows),
                "n_compile_errors": failed,
                "red_flags": flagged,
                "out": out_path,
            }
        )
    )
    return 1 if (failed or flagged) else 0


def run_diff(old_path: str, new_path: str) -> int:
    with open(old_path) as f:
        old = json.load(f)["plans"]
    with open(new_path) as f:
        new = json.load(f)["plans"]
    changes = {}
    for k in sorted(set(old) | set(new)):
        a, b = old.get(k), new.get(k)
        if a == b:
            continue
        if a is None or b is None:
            changes[k] = {"added" if a is None else "removed": True}
            continue
        delta = {
            f: [a.get(f), b.get(f)]
            for f in set(a) | set(b)
            if a.get(f) != b.get(f)
        }
        changes[k] = delta
    # eager build jobs apart from the plan shape: a key whose builder
    # gained or lost a job is not a key whose plan changed
    build_jobs = {k: d.pop("build_jobs") for k, d in changes.items() if "build_jobs" in d}
    changes = {k: d for k, d in changes.items() if d}
    print(
        json.dumps(
            {
                "n_changed": len(changes),
                "changes": changes,
                "n_build_jobs_changed": len(build_jobs),
                "build_jobs_changes": build_jobs,
            },
            indent=1,
            sort_keys=True,
        )
    )
    return 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "--diff":
        return run_diff(argv[1], argv[2])
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    out = argv[1] if len(argv) > 1 else None
    return run_audit(sf_dir, out)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
