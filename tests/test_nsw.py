"""Pure-Python mirror for the graph-based ANN family (knn_graph +
nsw_search): replicates the md5-derived hyperplane buckets, the
Hamming-1 edge candidates, the per-node top-K edges, and the beam walk
with SEQUENTIAL left-to-right accumulation (bit-identical to Spark's
F.aggregate chains), so the comparison is exact on random vector sets —
the same discipline as the IVF-maintenance and IVFADC mirrors."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest


def _plane(p: int, j: int) -> float:
    h = hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:8]
    return int(h, 16) / 2147483648.0 - 1.0


def _bucket(emb, planes: int) -> int:
    b = 0
    for p in range(planes):
        acc = 0.0
        for j, v in enumerate(emb):
            acc = acc + float(v) * _plane(p, j)
        if acc >= 0:
            b += 1 << p
    return b


def _seq_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _cos(a, b):
    return _seq_dot(a, b) / (math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b)))


def _mirror_nsw(rows, qe, planes, k, beam, rounds, topk=10):
    base = [(v, e) for v, e, _l in rows if v != 0]
    emb = dict(base)
    buckets = {v: _bucket(e, planes) for v, e in base}
    flips = [0] + [1 << p for p in range(planes)]
    by_bucket: dict[int, list[int]] = {}
    for v, b in buckets.items():
        by_bucket.setdefault(b, []).append(v)
    graph: dict[int, list[int]] = {}
    for v, b in buckets.items():
        cand = []
        for f in flips:
            for u in by_bucket.get(b ^ f, []):
                if u != v:
                    cand.append(u)
        cand = sorted(set(cand), key=lambda u: (-_cos(emb[v], emb[u]), u))
        graph[v] = cand[:k]
    labels = {v: l for v, _e, l in rows}
    sims = {v: _cos(e, qe) for v, e in base}
    beam_set = [min(emb)] if emb else []
    visited: set[int] = set()
    for _ in range(rounds):
        cand = set(beam_set)
        for v in beam_set:
            cand.update(graph.get(v, []))
        visited |= cand
        beam_set = sorted(cand, key=lambda u: (-sims[u], u))[:beam]
    out = sorted(visited, key=lambda u: (-sims[u], u))[:topk]
    return [(v, labels[v]) for v in out]


@pytest.mark.parametrize("seed,n,dim", [(61, 40, 8), (62, 25, 16), (63, 60, 8)])
def test_nsw_search_matches_mirror(spark, tmp_path, seed, n, dim):
    """knn_graph + nsw_search == the pure-Python mirror on random
    vector sets of varying size and dimension: pins the bucket hash,
    the Hamming-1 candidate set, the top-K edge selection, the beam
    walk, and the final top-10 order."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        _LSH_PLANES,
        _NSW_BEAM,
        _NSW_K,
        _NSW_ROUNDS,
        knn_graph,
        load_vectors,
        nsw_search,
    )

    rng = np.random.default_rng(seed)
    rows = [(0, [float(x) for x in rng.normal(size=dim).astype(np.float32)], 0)]
    for i in range(1, n + 1):
        v = rng.normal(size=dim).astype(np.float32)
        rows.append((i, [float(x) for x in v], int(i % 3)))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    expected = _mirror_nsw(
        rows, rows[0][1], _LSH_PLANES, _NSW_K, _NSW_BEAM, _NSW_ROUNDS
    )
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))
    got = [
        (r["vec_id"], r["label"])
        for r in nsw_search(base, knn_graph(base), qv).collect()
    ]
    assert got == expected


def test_nsw_single_node_graph(spark, tmp_path):
    """Degenerate edge: one base vector — no edges exist, the walk
    never leaves the entry, and the result is that single row."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import knn_graph, load_vectors, nsw_search

    rng = np.random.default_rng(71)
    q = rng.normal(size=8).astype(np.float32)
    v = rng.normal(size=8).astype(np.float32)
    rows = [(0, [float(x) for x in q], 0), (7, [float(x) for x in v], 1)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))
    out = nsw_search(base, knn_graph(base), qv).collect()
    assert [(r["vec_id"], r["label"]) for r in out] == [(7, 1)]


def _lvl_hash(i: int) -> int:
    return int(hashlib.md5(f"lvl:{i}".encode()).hexdigest()[:8], 16)


def _mirror_graph(rows, members, planes, k):
    emb = {v: e for v, e, _l in rows if v in members}
    buckets = {v: _bucket(e, planes) for v, e in emb.items()}
    flips = [0] + [1 << p for p in range(planes)]
    by_bucket: dict[int, list[int]] = {}
    for v, b in buckets.items():
        by_bucket.setdefault(b, []).append(v)
    graph: dict[int, list[int]] = {}
    for v, b in buckets.items():
        cand = sorted(
            {u for f in flips for u in by_bucket.get(b ^ f, []) if u != v},
            key=lambda u: (-_cos(emb[v], emb[u]), u),
        )
        graph[v] = cand[:k]
    return graph


def _mirror_walk(graph, sims, entries, beam, rounds):
    bm = list(entries)
    visited: set[int] = set()
    for _ in range(rounds):
        cand = set(bm)
        for v in bm:
            cand.update(graph.get(v, []))
        visited |= cand
        bm = sorted(cand, key=lambda u: (-sims[u], u))[:beam]
    return visited, bm


def _mirror_hnsw(rows, qe, planes, k, beam, rounds, dbeam, drounds, mod, topk=10):
    """HNSW mirror: md5 level layers, top-down greedy descent with
    per-layer min-id fallback, descent beam seeds the base walk."""
    base_ids = {v for v, _e, _l in rows if v != 0}
    emb = {v: e for v, e, _l in rows}
    labels = {v: l for v, _e, l in rows}
    sims = {v: _cos(emb[v], qe) for v in base_ids}
    ent: list[int] = []
    for level in (2, 1):
        layer = {v for v in base_ids if _lvl_hash(v) % (mod**level) == 0}
        if not layer:
            continue
        g = _mirror_graph(rows, layer, planes, k)
        start = ent if ent else [min(layer)]
        _, ent = _mirror_walk(g, sims, start, dbeam, drounds)
    e0 = ent if ent else [min(base_ids)]
    g0 = _mirror_graph(rows, base_ids, planes, k)
    visited, _ = _mirror_walk(g0, sims, e0, beam, rounds)
    out = sorted(visited, key=lambda u: (-sims[u], u))[:topk]
    return [(v, labels[v]) for v in out]


@pytest.mark.parametrize("seed,n,dim", [(81, 60, 8), (82, 120, 16)])
def test_hnsw_search_matches_mirror(spark, tmp_path, seed, n, dim):
    """q_sim_ann_hnsw's walk == the pure-Python HNSW mirror on random
    vector sets: pins the md5 level assignment, both upper-layer
    graphs, the greedy descents (including per-layer fallbacks), and
    the seeded base walk."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        _HNSW_DESC_BEAM,
        _HNSW_DESC_ROUNDS,
        _HNSW_LEVEL_MOD,
        _LSH_PLANES,
        _NSW_BEAM,
        _NSW_K,
        _NSW_ROUNDS,
        hnsw_entry,
        knn_graph,
        load_vectors,
        nsw_search,
    )

    rng = np.random.default_rng(seed)
    rows = [(0, [float(x) for x in rng.normal(size=dim).astype(np.float32)], 0)]
    for i in range(1, n + 1):
        v = rng.normal(size=dim).astype(np.float32)
        rows.append((i, [float(x) for x in v], int(i % 3)))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    expected = _mirror_hnsw(
        rows, rows[0][1], _LSH_PLANES, _NSW_K, _NSW_BEAM, _NSW_ROUNDS,
        _HNSW_DESC_BEAM, _HNSW_DESC_ROUNDS, _HNSW_LEVEL_MOD,
    )
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))
    got = [
        (r["vec_id"], r["label"])
        for r in nsw_search(
            base, knn_graph(base), qv, entry=hnsw_entry(base, qv)
        ).collect()
    ]
    assert got == expected


def test_hnsw_levels_nested():
    """The md5 level draw nests by construction: membership at level 2
    (hash % 16 == 0) implies membership at level 1 (hash % 4 == 0) —
    the invariant the greedy descent relies on."""
    from data_ingestor_spark.ext.similarity import _HNSW_LEVEL_MOD

    mod = _HNSW_LEVEL_MOD
    n1 = n2 = 0
    for i in range(1, 4001):
        h = _lvl_hash(i)
        if h % mod**2 == 0:
            assert h % mod == 0
            n2 += 1
        n1 += h % mod == 0
    # the draw actually samples near its nominal rates
    assert 0.15 < n1 / 4000 < 0.35
    assert 0.02 < n2 / 4000 < 0.13


def test_hnsw_empty_upper_layer_falls_back(spark, tmp_path):
    """A corpus whose ids all miss the level-1 draw has EMPTY upper
    layers: the descent returns nothing and hnsw_entry's fallback row
    (min vec_id) makes the walk identical to flat nsw_search."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        _HNSW_LEVEL_MOD,
        hnsw_entry,
        knn_graph,
        load_vectors,
        nsw_search,
    )

    rng = np.random.default_rng(91)
    ids = [i for i in range(1, 400) if _lvl_hash(i) % _HNSW_LEVEL_MOD != 0][:20]
    rows = [(0, [float(x) for x in rng.normal(size=8).astype(np.float32)], 0)]
    for i in ids:
        rows.append((i, [float(x) for x in rng.normal(size=8).astype(np.float32)], int(i % 3)))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    e = load_vectors(spark, str(tmp_path))
    base = e.filter(F.col("vec_id") != 0)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qe"))
    ent = hnsw_entry(base, qv)
    assert [r["vid"] for r in ent.collect()] == [min(ids)]
    flat = nsw_search(base, knn_graph(base), qv).collect()
    seeded = nsw_search(base, knn_graph(base), qv, entry=ent).collect()
    assert [tuple(r) for r in seeded] == [tuple(r) for r in flat]


@pytest.mark.parametrize(
    "seed,n,dim,split",
    [
        (101, 50, 8, "mod"),     # ~1/3 delta
        (102, 40, 8, "empty"),   # empty delta: merge == existing graph
        (103, 40, 8, "all"),     # all delta: merge == from-scratch build
        (104, 80, 16, "mod"),
    ],
)
def test_knn_graph_insert_equals_rebuild(spark, tmp_path, seed, n, dim, split):
    """The incremental merge invariant, edge-for-edge: knn_graph_insert
    (stored-top-K ∪ delta candidates, re-ranked) returns the IDENTICAL
    edge set to a from-scratch knn_graph over base ∪ delta — including
    the empty-delta and all-delta degenerate splits."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        knn_graph,
        knn_graph_insert,
        load_vectors,
    )

    rng = np.random.default_rng(seed)
    rows = [(0, [float(x) for x in rng.normal(size=dim).astype(np.float32)], 0)]
    for i in range(1, n + 1):
        v = rng.normal(size=dim).astype(np.float32)
        rows.append((i, [float(x) for x in v], int(i % 3)))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    e = load_vectors(spark, str(tmp_path))
    allv = e.filter(F.col("vec_id") != 0)
    if split == "mod":
        base = allv.filter(F.col("vec_id") % 3 != 1)
        delta = allv.filter(F.col("vec_id") % 3 == 1)
    elif split == "empty":
        base, delta = allv, allv.filter(F.lit(False))
    else:
        base, delta = allv.filter(F.lit(False)), allv
    merged = sorted(map(tuple, knn_graph_insert(base, delta).collect()))
    scratch = sorted(map(tuple, knn_graph(allv).collect()))
    assert merged == scratch


@pytest.mark.parametrize(
    "seed,n,dim,tomb",
    [
        (121, 50, 8, "mod"),    # ~1/4 tombstoned
        (122, 40, 8, "none"),   # no tombstones: repair is a no-op
        (123, 40, 8, "all"),    # everything tombstoned: empty graph
        (124, 80, 16, "mod"),
    ],
)
def test_knn_graph_compact_equals_rebuild(spark, tmp_path, seed, n, dim, tomb):
    """The incremental repair invariant, edge-for-edge: dropping
    tombstoned sources, keeping unaffected survivors' edges, and
    re-probing only the affected rim returns the IDENTICAL edge set
    to a from-scratch knn_graph over the survivors — including the
    no-tombstone and all-tombstone degenerate batches."""
    from pyspark.sql import functions as F

    from data_ingestor_spark.ext.similarity import (
        knn_graph,
        knn_graph_compact,
        load_vectors,
    )

    rng = np.random.default_rng(seed)
    rows = [(0, [float(x) for x in rng.normal(size=dim).astype(np.float32)], 0)]
    for i in range(1, n + 1):
        v = rng.normal(size=dim).astype(np.float32)
        rows.append((i, [float(x) for x in v], int(i % 3)))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    allv = load_vectors(spark, str(tmp_path)).filter(F.col("vec_id") != 0)
    if tomb == "mod":
        tombs = allv.filter(F.col("vec_id") % 4 == 1).select("vec_id")
    elif tomb == "none":
        tombs = allv.filter(F.lit(False)).select("vec_id")
    else:
        tombs = allv.select("vec_id")
    survivors = allv.join(tombs, "vec_id", "left_anti")
    repaired = sorted(map(tuple, knn_graph_compact(allv, tombs).collect()))
    scratch = sorted(map(tuple, knn_graph(survivors).collect()))
    assert repaired == scratch
