"""The ``query_mix`` key set, its tables, its result check, and the
expected values.

The key set is ``bench.py``'s 16 HEADLINE keys plus four ``ext`` keys
whose builders run Spark jobs or an Arrow UDF at plan-build time. Keys
that read ``ext/graph._EDGE_CACHE`` (a session memo of computed rows: the
graph and cluster keys) are left out, so repeated executions measure work
rather than a memo hit.

The tables are the registry's sf0.01 test tables, stored under
``perfbench/data/sf0.01`` so the benchmark reads nothing outside its
checkout.

Correctness: each key's result must match the row count and the
order-insensitive hash in ``expected.json``, in the canonical form of
``scripts/check_oracle.py``. Those values come from the registry's DuckDB
oracle SQL over the same tables. ``expected.json`` also holds each key's
input rows: the rows of the tables its oracle SQL reads. Derive the file
once with::

    python3 perfbench/querymix.py   # rewrites perfbench/expected.json
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

HEADLINE = [
    "q_agg_basic", "q_tpch_q3", "q_tpch_q5", "q_join_inner", "q_join_broadcast",
    "q_agg_rollup", "q_window_rank", "q_window_tumbling", "q_topk_per_group",
    "q_explode", "q_dedup_minhash", "q_sim_topk", "q_text_stats", "q_scalar_json",
    "q_curation_pipeline", "q_text_tfidf",
]
EXT = ["q_dedup_minhash_pairs", "q_dedup_semantic", "q_kmeans_train", "q_text_contamination"]
KEYS = HEADLINE + EXT


def canonical(pdf) -> tuple[int, str]:
    """Row count and order-insensitive hash, as ``scripts/check_oracle.py``
    computes them."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracle import canonical as oracle_canonical

    rows, _, digest = oracle_canonical(pdf)
    return rows, digest


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def main() -> int:
    import duckdb
    import pyarrow.parquet as pq

    sys.path.insert(0, ROOT)
    from data_ingestor_spark.plans.queries import REGISTRY

    tables = sorted(f[: -len(".parquet")] for f in os.listdir(DATA) if f.endswith(".parquet"))
    table_rows = {t: pq.read_metadata(os.path.join(DATA, f"{t}.parquet")).num_rows for t in tables}
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    out = {"data": "perfbench/data/sf0.01", "keys": {}}
    for key in KEYS:
        sql = REGISTRY[key].oracle
        rows, digest = canonical(con.sql(sql).df())
        read = [t for t in tables if re.search(rf"\b{t}\b", sql, re.IGNORECASE)]
        out["keys"][key] = {"rows": rows, "hash": digest, "tables": read,
                            "input_rows": sum(table_rows[t] for t in read)}
        print(key, rows, digest[:12], read, flush=True)
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
