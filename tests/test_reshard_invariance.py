"""Reshard-invariance guard: registry results must be a function of the
DATA, not the physical partitioning.

INVARIANCE_r6.json proves this registry-wide by re-running the whole
oracle gate at local[5] with 7 shuffle partitions.  That artifact is a
point-in-time proof; this test keeps the property continuously pinned
for the partition-sensitive operator families (md5-priority sampling,
salted aggregation, tie-broken ranking, minhash signatures, largest-
remainder allocation) by executing each key twice in one session —
once under the suite's default 8 shuffle partitions, once under 3 with
AQE partition coalescing disabled — and requiring bit-identical rows.

Shuffle partition count is the physical variable a 1000-executor
deployment actually changes (AQE re-plans it at runtime); any
dependence on it — rand(), spark_partition_id ordering, float
accumulation order surfacing in a rounded column — is a correctness
bug at scale even when every single-config run looks fine.
"""

from __future__ import annotations

import math

import pytest

from data_ingestor_spark.plans.queries import REGISTRY

from conftest import SF_DIR

#: partition-sensitive representatives, one per hazard family; each
#: runs in well under a second at sf0.001 so both configs stay cheap
KEYS = [
    "q_sample_hash",             # md5-priority bottom-k sampling
    "q_sample_per_group",        # per-group deterministic sampling
    "q_sample_weighted",         # weighted md5-priority sampling
    "q_mix_resample",            # broadcast rate table resampling
    "q_window_ntile",            # rank/tile tie-breaking
    "q_topk_per_group",          # per-group top-k windows
    "q_dedup_minhash",           # minhash signature stability
    "q_agg_skew_salted",         # salt-and-merge two-phase aggregate
    "q_split_assign",            # hash-based train/val/test split
    "q_alloc_largest_remainder", # global-order-dependent allocation
    "q_dedup_clusters",          # iterative checkpointed min-label CC loop
    "q_graph_pagerank",          # iterative float accumulation → exact ints
]


def _rows(df) -> list[str]:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    out = []
    for tup in pdf[cols].itertuples(index=False, name=None):
        cells = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                cells.append("NULL")
            else:
                cells.append(repr(v))
        out.append("|".join(cells))
    return sorted(out)


@pytest.mark.parametrize("key", KEYS)
def test_result_invariant_to_shuffle_partitioning(spark, key):
    spec = REGISTRY[key]
    conf = spark.conf
    base_parts = conf.get("spark.sql.shuffle.partitions")
    base_coalesce = conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    baseline = _rows(spec.fn(spark, SF_DIR))
    try:
        conf.set("spark.sql.shuffle.partitions", "3")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        resharded = _rows(spec.fn(spark, SF_DIR))
    finally:
        conf.set("spark.sql.shuffle.partitions", base_parts)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", base_coalesce)
    assert len(baseline) == len(resharded), (
        f"{key}: row count changed with shuffle partitioning "
        f"({len(baseline)} vs {len(resharded)})"
    )
    diffs = [
        (a, b) for a, b in zip(baseline, resharded) if a != b
    ]
    assert not diffs, (
        f"{key}: {len(diffs)} rows differ under resharding; first: "
        f"default={diffs[0][0]!r} resharded={diffs[0][1]!r}"
    )
