"""Dump canonical result hashes for registry keys, Spark-side only.

Companion to check_oracle.py for invariance evidence on keys whose
DuckDB oracles are multi-hour at large SF: the oracle's output does not
depend on Spark parallelism, so once SWEEP_sf01 has proven
Spark@local[32]/32 == oracle at a given SF, re-running ONLY the Spark
side under a different master/shuffle-partition config and comparing
canonical hashes Spark-vs-Spark proves reshard invariance without
paying the oracle again.

Usage:
    [env overrides] python scripts/spark_hash_dump.py <sf_dir> --json=OUT key...
    python scripts/spark_hash_dump.py --compare BASE.json ODD.json \
        [--baseline PRIOR.json]... [--twin KEY_A=KEY_B]... [--json OUT]

Dump mode writes {key: {rows, cols, hash, elapsed_s, err}}
incrementally. Compare mode takes a dump at the default config (BASE)
and one at an odd master/shuffle-partition config (ODD), e.g.
``SPARK_GRAFT_CPUS=5 DIS_SHUFFLE_PARTITIONS=7``, and assembles the
invariance artifact (see ``assemble``); it exits non-zero on any
mismatch, error, drift or failed twin.
"""
from __future__ import annotations

import argparse
import json
import sys
import time


def compare(dump_a: dict, dump_b: dict) -> dict:
    """Compare two dump artifacts key-by-key.

    Returns {"n_match": int, "n_mismatch": int, "n_err": int,
    "mismatches": [key...], "errors": [key...]} over the keys present
    in BOTH dumps; a key erring in either run counts as an error, and a
    (rows, cols, hash) triple differing counts as a mismatch.
    """
    ra, rb = dump_a["results"], dump_b["results"]
    shared = sorted(set(ra) & set(rb))
    mismatches, errors, n_match = [], [], 0
    for k in shared:
        a, b = ra[k], rb[k]
        if a.get("err") or b.get("err"):
            errors.append(k)
        elif (a["rows"], a["cols"], a["hash"]) == (b["rows"], b["cols"], b["hash"]):
            n_match += 1
        else:
            mismatches.append(k)
    return {
        "n_match": n_match, "n_mismatch": len(mismatches),
        "n_err": len(errors), "mismatches": mismatches, "errors": errors,
    }


def assemble(base: dict, odd: dict, baselines: list[dict], twins: list[tuple[str, str]]) -> dict:
    """Invariance artifact for a BASE and an ODD dump of one key set.

    ``compare`` is the cross-config block. Each BASE key is checked for
    drift against the first of ``baselines`` (earlier artifacts, in the
    order given) whose ``results_base`` has it: a different hash is
    drift, and a key no baseline has is listed in ``new_keys``. Each
    twin ``(a, b)`` asserts that two keys promising the same output
    have equal BASE hashes.
    """
    rb = base["results"]
    drift, new_keys = [], []
    for k in sorted(rb):
        ref = next((b["results_base"][k] for b in baselines if k in b["results_base"]), None)
        if ref is None:
            new_keys.append(k)
        elif ref["hash"] != rb[k]["hash"]:
            drift.append(k)

    def h(k: str):
        return (rb.get(k) or {}).get("hash")

    def config(d: dict) -> dict:
        return {
            "master": d["meta"]["master"],
            "shuffle_partitions": int(d["meta"]["shuffle_partitions"]),
        }

    return {
        "config_base": config(base),
        "config_odd": config(odd),
        "compare": compare(base, odd),
        "new_keys": new_keys,
        "drift": drift,
        "twins": {f"{a}=={b}": h(a) is not None and h(a) == h(b) for a, b in twins},
        "results_base": rb,
        "results_odd": odd["results"],
    }


def run_compare(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="spark_hash_dump.py --compare")
    ap.add_argument("base")
    ap.add_argument("odd")
    ap.add_argument("--baseline", action="append", default=[])
    ap.add_argument("--twin", action="append", default=[], help="KEY_A=KEY_B")
    ap.add_argument("--json", dest="json_out")
    args = ap.parse_args(argv)
    twins = [tuple(t.split("=", 1)) for t in args.twin]
    if any(len(t) != 2 for t in twins):
        ap.error("--twin takes KEY_A=KEY_B")

    def load(path: str) -> dict:
        with open(path) as f:
            return json.load(f)

    out = assemble(load(args.base), load(args.odd), [load(p) for p in args.baseline], twins)
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in out.items() if not k.startswith("results_")}, indent=1))
    cmp = out["compare"]
    bad = cmp["n_mismatch"] or cmp["n_err"] or out["drift"] or not all(out["twins"].values())
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["--compare"]:
        return run_compare(argv[1:])

    sys.path.insert(0, ".")
    from scripts.check_oracle import canonical  # noqa: E402

    from scripts.check_oracle import parse_json_flag  # noqa: E402

    json_out, args = parse_json_flag(argv)
    sf_dir = args[0]
    keys = args[1:]

    from data_ingestor_spark.plans.queries import REGISTRY  # noqa: E402
    from data_ingestor_spark.session import get_session

    spark = get_session()
    conf = spark.sparkContext.getConf()
    meta = {
        "master": conf.get("spark.master"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "sf_dir": sf_dir,
    }
    results: dict[str, dict] = {}

    def flush() -> None:
        if json_out:
            from scripts.check_oracle import atomic_dump_json

            atomic_dump_json(json_out, {"meta": meta, "results": results})

    for name in keys:
        t0 = time.monotonic()
        try:
            pdf = REGISTRY[name].fn(spark, sf_dir).toPandas()
            n, cols, h = canonical(pdf)
            results[name] = {
                "rows": n, "cols": cols, "hash": h, "err": None,
                "elapsed_s": round(time.monotonic() - t0, 3),
            }
            print(f"ok    {name}: {n} rows {h[:16]}")
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "rows": None, "cols": None, "hash": None, "err": str(e)[:500],
                "elapsed_s": round(time.monotonic() - t0, 3),
            }
            print(f"ERR   {name}: {e}")
        flush()
    flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
