"""Property tests for the streaming-maintained BM25 index
(ext/text.py maintain_bm25_index / q_stream_bm25_maintain): the
maintained index serves exactly the one-shot batch build, and the
checkpoint makes a replayed micro-batch — of the dictionary aggregate
or of a postings segment — land where the clean run did."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR


def _split_docs(spark, in_dir, n):
    """Write the documents table as ``n`` parquet files: with
    ``maxFilesPerTrigger=1`` each becomes one micro-batch."""
    from data_ingestor_spark.plans.registry import load_table

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    for i in range(n):
        d.filter(d.doc_id % n == i).coalesce(1).write.mode("append").parquet(in_dir)


def _maintain(spark, in_dir, root, n):
    from data_ingestor_spark.ext.text import maintain_bm25_index

    queries = maintain_bm25_index(spark, in_dir, root)
    for q in queries:
        assert {p["batchId"] for p in q.recentProgress if p["numInputRows"]} == set(range(n))
    return queries


def _drop_commit(root, checkpoint, batch_id):
    """Delete ``commits/<batch_id>`` of one checkpoint: the crash
    after that batch's sink ran and before Structured Streaming
    committed it. Asserts the commit file is there first, so a Spark
    that moves the commit log fails here instead of passing
    vacuously."""
    commit = os.path.join(root, checkpoint, "commits", str(batch_id))
    assert os.path.isfile(commit), commit
    os.remove(commit)
    crc = os.path.join(root, checkpoint, "commits", f".{batch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_maintained_equals_batch_build(spark, tmp_path):
    """Three micro-batches over a 3-way split serve exactly
    q_text_bm25's top-20 — segment flush + dictionary aggregate +
    pruned serve ≡ one-shot build."""
    from data_ingestor_spark.ext.text import bm25_query_maintained, q_text_bm25

    in_dir, root = str(tmp_path / "in"), str(tmp_path / "idx")
    _split_docs(spark, in_dir, 3)
    _maintain(spark, in_dir, root, 3)
    got = [tuple(r) for r in bm25_query_maintained(spark, root).collect()]
    want = [tuple(r) for r in q_text_bm25(spark, SF_DIR).collect()]
    assert got == want and len(got) == 20


def test_replayed_batch_is_noop(spark, tmp_path):
    """A replayed dictionary batch (foreachBatch is at-least-once) must
    not double-count df/N/sum_dl: the checkpoint recomputes the same
    state version from the previous one, so the published dictionary
    and the served top-20 are unchanged, and no postings row is
    duplicated."""
    from data_ingestor_spark.ext.text import bm25_query_maintained, maintain_bm25_index

    in_dir, root = str(tmp_path / "in"), str(tmp_path / "idx")
    _split_docs(spark, in_dir, 2)
    _maintain(spark, in_dir, root, 2)
    dict_before = _rows(spark.read.parquet(os.path.join(root, "dict")))
    n_postings = spark.read.parquet(os.path.join(root, "postings")).count()
    before = [tuple(r) for r in bm25_query_maintained(spark, root).collect()]

    # replay the LAST batch of the dictionary (the crash-after-publish case)
    _drop_commit(root, "_checkpoint_dict", 1)
    postings_q, dict_q = maintain_bm25_index(spark, in_dir, root)
    assert {p["batchId"] for p in dict_q.recentProgress if p["numInputRows"]} == {1}
    assert sum(p["numInputRows"] for p in postings_q.recentProgress) == 0

    assert _rows(spark.read.parquet(os.path.join(root, "dict"))) == dict_before
    assert spark.read.parquet(os.path.join(root, "postings")).count() == n_postings
    assert [tuple(r) for r in bm25_query_maintained(spark, root).collect()] == before


def test_segment_rewrite_is_idempotent(spark, tmp_path):
    """A crash in the middle of segment 1's write — some bucket files
    gone, the postings batch not committed, the dictionary already
    committed — replays into a full rewrite of ``postings/b=1``: the
    segment and the served top-20 equal the clean run's."""
    import shutil

    from data_ingestor_spark.ext.text import bm25_query_maintained, maintain_bm25_index

    in_dir = str(tmp_path / "in")
    _split_docs(spark, in_dir, 2)
    clean = str(tmp_path / "clean")
    _maintain(spark, in_dir, clean, 2)

    crashed = str(tmp_path / "crashed")
    _maintain(spark, in_dir, crashed, 2)
    seg_dir = os.path.join(crashed, "postings", "b=1")
    buckets = sorted(d for d in os.listdir(seg_dir) if d.startswith("bucket="))
    assert len(buckets) >= 2, buckets
    for d in buckets[: len(buckets) // 2]:  # the torn segment write
        shutil.rmtree(os.path.join(seg_dir, d))
    _drop_commit(crashed, "_checkpoint_postings", 1)

    postings_q, dict_q = maintain_bm25_index(spark, in_dir, crashed)
    assert {p["batchId"] for p in postings_q.recentProgress if p["numInputRows"]} == {1}
    assert sum(p["numInputRows"] for p in dict_q.recentProgress) == 0

    def segment(root):
        return _rows(spark.read.parquet(os.path.join(root, "postings", "b=1")))

    assert segment(crashed) == segment(clean)
    got = [tuple(r) for r in bm25_query_maintained(spark, crashed).collect()]
    want = [tuple(r) for r in bm25_query_maintained(spark, clean).collect()]
    assert got == want and len(got) == 20
