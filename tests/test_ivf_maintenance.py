"""Property tests for the IVF index-maintenance family (VERDICT r11
directive #1/#3): INSERT (stale-centroid ingest of an arriving batch),
DELETE-view vs physical COMPACTION hash-neutrality, and the refresh
cut-over, on RANDOM vector sets and RANDOM base/delta splits —
including the empty-delta and all-delta edges the oracle key's fixed
``vec_id % 5`` split can't reach.

The mirror is pure Python with SEQUENTIAL left-to-right accumulation —
bit-identical to Spark's ``F.aggregate`` lambda chain (and DuckDB's
lockstep-unnest SUM), so comparisons are exact, not approximate.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


def _seq_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _cosine(a, b):
    return _seq_dot(a, b) / (math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b)))


def _mirror_centroids(rows):
    """label -> float32 centroid (double mean per position, then the
    float32 cast both engines apply before any use)."""
    by_label = {}
    for _vid, emb, label in rows:
        by_label.setdefault(label, []).append(emb)
    cents = {}
    for label, embs in by_label.items():
        dim = len(embs[0])
        cent = []
        for p in range(dim):
            acc = 0.0
            for e in embs:
                acc += float(e[p])
            cent.append(np.float32(acc / len(embs)))
        cents[label] = cent
    return cents


def _mirror_ivf_insert_search(base, delta, qe, k=10):
    """The full insert-search contract: stale centroids from base,
    delta assigned by nearest stale centroid (ties -> smaller label),
    probe the query's best cell, exact cosine top-k over the union."""
    cents = _mirror_centroids(base)
    if not cents:
        return []
    # deterministic probe tie-break: sim DESC, label ASC
    qlabel = sorted(cents, key=lambda l: (-_cosine(cents[l], qe), l))[0]
    cand = [(v, l, e) for v, e, l in base if l == qlabel]
    for vid, emb, label in delta:
        acell = sorted(cents, key=lambda l: (-_cosine(emb, cents[l]), l))[0]
        if acell == qlabel:
            cand.append((vid, label, emb))
    scored = [(vid, label, _cosine(emb, qe)) for vid, label, emb in cand]
    scored.sort(key=lambda t: (-t[2], t[0]))
    return scored[:k]


def _write_vectors(spark, tmp, rows):
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp / "embeddings.parquet"))


def _mk_rows(seed, n, n_labels, dim=8):
    rng = np.random.default_rng(seed)
    rows = [(0, [float(x) for x in rng.normal(size=dim).astype(np.float32)], 0)]
    for i in range(1, n + 1):
        v = rng.normal(size=dim).astype(np.float32)
        rows.append((i, [float(x) for x in v], int(i % n_labels)))
    return rows


@pytest.mark.parametrize(
    "seed,n,n_labels,delta_mod,delta_rem",
    [
        (11, 24, 3, 5, 2),  # the oracle key's shape: ~20% delta
        (12, 30, 4, 2, 1),  # half the corpus arrives as delta
        (13, 18, 2, 10**9, 10**9 - 1),  # EMPTY delta: pure base search
        (14, 20, 3, 1, 0),  # ALL delta: base empty -> no centroids -> empty
    ],
)
def test_ivf_insert_search_matches_mirror(
    spark, tmp_path, seed, n, n_labels, delta_mod, delta_rem
):
    """ivf_search_with_inserts == the sequential-sum mirror on random
    vectors and random split boundaries, including both degenerate
    splits (VERDICT r11 directive #1's 'empty-delta / all-delta
    edges')."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        ivf_search_with_inserts,
        load_vectors,
    )

    rows = _mk_rows(seed, n, n_labels)
    _write_vectors(spark, tmp_path, rows)
    qe = rows[0][1]
    base_rows = [
        (v, e, l) for v, e, l in rows if v != 0 and v % delta_mod != delta_rem
    ]
    delta_rows = [
        (v, e, l) for v, e, l in rows if v != 0 and v % delta_mod == delta_rem
    ]
    assert delta_mod != 10**9 or not delta_rows  # the empty-delta edge is real
    assert delta_mod != 1 or not base_rows  # the all-delta edge is real
    expected = [
        (vid, label) for vid, label, _s in _mirror_ivf_insert_search(base_rows, delta_rows, qe)
    ]

    e = load_vectors(spark, str(tmp_path))
    base = e.filter(
        (F.col("vec_id") != 0) & (F.col("vec_id") % delta_mod != delta_rem)
    )
    delta = e.filter(
        (F.col("vec_id") != 0) & (F.col("vec_id") % delta_mod == delta_rem)
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))
    got = [
        (r["vec_id"], r["label"])
        for r in ivf_search_with_inserts(base, delta, qv).collect()
    ]
    assert got == expected


@pytest.mark.parametrize(
    "seed,n,n_labels,tomb_mod",
    [(51, 28, 3, 4), (52, 32, 4, 3), (53, 20, 2, 1)],  # mod 1: ALL base deleted
)
def test_ivf_mixed_view_matches_mirror(spark, tmp_path, seed, n, n_labels, tomb_mod):
    """The composed delete+insert view (q_sim_ann_ivf_mixed's library
    form) == the sequential-sum mirror: centroids from the FULL base,
    members = delete-survivors, delta assigned to stale centroids —
    on random vectors, random tombstone strides, and the
    everything-deleted edge where only batch vectors can answer."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        ivf_search_with_inserts,
        label_centroids,
        load_vectors,
    )

    rows = _mk_rows(seed, n, n_labels)
    _write_vectors(spark, tmp_path, rows)
    qe = rows[0][1]
    base_rows = [(v, e, l) for v, e, l in rows if v != 0 and v % 5 != 2]
    delta_rows = [(v, e, l) for v, e, l in rows if v != 0 and v % 5 == 2]
    surv_rows = [(v, e, l) for v, e, l in base_rows if v % tomb_mod != 0]

    # mirror: centroids from the FULL base, candidates from survivors
    cents = _mirror_centroids(base_rows)
    expected = []
    if cents:
        qlabel = sorted(cents, key=lambda l: (-_cosine(cents[l], qe), l))[0]
        cand = [(v, l, e) for v, e, l in surv_rows if l == qlabel]
        for vid, emb, label in delta_rows:
            acell = sorted(cents, key=lambda l: (-_cosine(emb, cents[l]), l))[0]
            if acell == qlabel:
                cand.append((vid, label, emb))
        scored = [(vid, label, _cosine(emb, qe)) for vid, label, emb in cand]
        scored.sort(key=lambda t: (-t[2], t[0]))
        expected = [(vid, label) for vid, label, _s in scored[:10]]

    e = load_vectors(spark, str(tmp_path))
    base = e.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 2))
    delta = e.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 2))
    tomb = F.broadcast(base.filter(F.col("vec_id") % tomb_mod == 0).select("vec_id"))
    members = base.join(tomb, "vec_id", "left_anti")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))
    got = [
        (r["vec_id"], r["label"])
        for r in ivf_search_with_inserts(
            members, delta, qv, cents=label_centroids(base)
        ).collect()
    ]
    assert got == expected


@pytest.mark.parametrize("seed,n,n_labels,tomb_mod", [(21, 26, 3, 4), (22, 30, 4, 3)])
def test_ivf_compact_is_hash_neutral_with_delete_view(
    spark, tmp_path, seed, n, n_labels, tomb_mod
):
    """Physical compaction searched with STALE centroids returns the
    EXACT rows of the query-time tombstone view (the deployability
    invariant q_sim_ann_ivf_compact's shared oracle pins at the driver
    gate) — here on random vectors and a different tombstone stride."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        ivf_cell_search,
        ivf_compact,
        label_centroids,
        load_vectors,
    )

    rows = _mk_rows(seed, n, n_labels)
    _write_vectors(spark, tmp_path, rows)
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    tomb = base.filter(F.col("vec_id") % tomb_mod == 1).select("vec_id")
    stale = label_centroids(base)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))

    view = ivf_cell_search(base.join(tomb, "vec_id", "left_anti"), stale, qv).collect()
    survivors, _refreshed = ivf_compact(base, tomb)
    compacted = ivf_cell_search(survivors, stale, qv).collect()
    assert [tuple(r) for r in compacted] == [tuple(r) for r in view]


def test_ivf_compact_refresh_equals_rebuild_over_survivors(spark, tmp_path):
    """After the refresh cut-over, the compacted index is
    indistinguishable from a from-scratch build over the surviving
    vectors — compaction ends where a rebuild would."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        ivf_cell_search,
        ivf_compact,
        label_centroids,
        load_vectors,
    )

    rows = _mk_rows(31, 28, 3)
    _write_vectors(spark, tmp_path, rows)
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    tomb = base.filter(F.col("vec_id") % 4 == 1).select("vec_id")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))

    survivors, refreshed = ivf_compact(base, tomb)
    refreshed_search = ivf_cell_search(survivors, refreshed, qv).collect()

    scratch_members = base.join(tomb, "vec_id", "left_anti")
    scratch = ivf_cell_search(
        scratch_members, label_centroids(scratch_members), qv
    ).collect()
    assert [tuple(r) for r in refreshed_search] == [tuple(r) for r in scratch]


def _mass_delete_rows():
    """A corpus where the centroid refresh measurably matters: cell B's
    mass is tombstoned members sitting NEAR the query, dragging its
    stale centroid onto the query's probe; its survivors are orthogonal.
    The stale probe therefore lands in B (recall 0/10) while the
    refreshed centroid moves B away and the probe recovers cell A, which
    holds the true neighbors (recall 10/10). This is the production
    shape: a hot shard deleted en masse leaves a stale centroid pointing
    at vectors that no longer exist. Tombstoned ids are >= 900."""
    dim = 8
    q = np.zeros(dim, dtype=np.float32)
    q[0] = 1.0
    rng = np.random.default_rng(7)
    rows = [(0, [float(x) for x in q], 0)]

    def add(vid, v, label):
        v = v / np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v.astype(np.float32)], label))

    def noise():
        return 0.01 * rng.normal(size=dim).astype(np.float32)

    vid = 1
    # cell A: 12 survivors at cos~0.9 to q, displaced in a COMMON
    # direction (e3) so the cell mean stays at cos~0.9 instead of the
    # noise averaging out back onto q — the true top-10 lives here
    e3 = np.zeros(dim, dtype=np.float32)
    e3[2] = 1.0
    for _ in range(12):
        add(vid, q * 0.9 + 0.436 * e3 + noise(), 0)
        vid += 1
    # cell B: 20 tombstoned members hugging q, plus 5 orthogonal survivors
    e2 = np.zeros(dim, dtype=np.float32)
    e2[1] = 1.0
    for _ in range(20):
        add(900 + vid, q * 0.99 + noise(), 1)
        vid += 1
    for _ in range(5):
        add(vid, e2 + noise(), 1)
        vid += 1
    return rows


def test_ivf_compact_refresh_recovers_mass_delete_recall(spark, tmp_path):
    """The IVF_COMPACT_r12.json 'refresh matters' demonstration, pinned:
    on a corpus where a hot cell's mass is tombstoned (its stale
    centroid keeps pointing at vectors that no longer exist), the stale
    probe scores 0/10 and the refreshed probe recovers 10/10 — the
    measured reason the refresh step exists."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        ivf_cell_search,
        ivf_compact,
        label_centroids,
        load_vectors,
        topk_cosine,
    )

    _write_vectors(spark, tmp_path, _mass_delete_rows())
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    tomb = base.filter(F.col("vec_id") >= 900).select("vec_id")
    qv_raw = e.filter(F.col("vec_id") == 0)
    qv = qv_raw.select(F.col("embedding").alias("_qe"))
    survivors, refreshed = ivf_compact(base, tomb)
    exact10 = {r["vec_id"] for r in topk_cosine(survivors, qv_raw, k=10).collect()}
    stale = label_centroids(base)
    got_stale = {r["vec_id"] for r in ivf_cell_search(survivors, stale, qv).collect()}
    got_refr = {r["vec_id"] for r in ivf_cell_search(survivors, refreshed, qv).collect()}
    assert len(got_stale & exact10) == 0
    assert len(got_refr & exact10) == 10


def test_ivf_compact_drops_tombstones_physically(spark, tmp_path):
    """The survivors relation really is the post-delete index: no
    tombstoned vec_id survives, and the refreshed centroid table only
    covers cells that still have members."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import ivf_compact, load_vectors

    rows = _mk_rows(41, 12, 6)
    # tombstone EVERY member of label 1 (vec_ids 1 and 7): the refreshed
    # centroid table must lose that cell entirely
    _write_vectors(spark, tmp_path, rows)
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    tomb = base.filter(F.col("label") == 1).select("vec_id")
    survivors, refreshed = ivf_compact(base, tomb)
    assert survivors.filter(F.col("label") == 1).count() == 0
    assert refreshed.filter(F.col("label") == 1).count() == 0
    assert survivors.count() == base.count() - 2
