"""Registry-wide expression-totality gate (judge directive r8 #2).

Round 7 found two crash bugs in the class "Catalyst evaluates an
inferred predicate / codegen-shared subexpression BEFORE the user's
guard filter, so a partial expression (illegal sequence bounds, invalid
array index, division by zero — all hard errors under Spark 4 ANSI
mode) crashes on rows the query meant to filter out". The driver
testdata can never expose the class: its documents are uniformly
well-formed. This gate runs EVERY registry key against the adversarial
mini-corpus (``scripts/adversarial_corpus.py``: empty / whitespace-only
/ 1-token / NULL documents, empty / NULL / short / NaN vectors, NULL
and malformed event payloads) and requires full evaluation without an
exception — totality, not correctness (result values on this corpus
are checked nowhere; zero rows is a fine answer, a crash is not).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _registry_keys():
    from data_ingestor_spark.plans.queries import REGISTRY

    return sorted(REGISTRY)


@pytest.mark.parametrize("key", _registry_keys())
def test_registry_key_total_on_adversarial_corpus(spark, adversarial_sf_dir, key):
    from data_ingestor_spark.plans.queries import REGISTRY

    # .collect(), never .count(): count() lets Catalyst prune every
    # projected column, which would skip evaluating the very
    # expressions this gate exists to exercise
    REGISTRY[key].fn(spark, adversarial_sf_dir).collect()


def test_export_surfaces_total_on_adversarial_documents(
    spark, adversarial_sf_dir, tmp_path
):
    """The export sinks (O16-O18) must survive the same corpus: NULL
    text, embedded newlines, control characters, emoji. CSV and JSON
    prove lossless row counts through a read-back; Excel round-trips
    through the repo's own reader (XML-illegal code points are
    documented as stripped — before r8 one \\x00 cell made the whole
    workbook ill-formed)."""
    from data_ingestor_spark.sinks import export_csv, export_excel, export_json
    from data_ingestor_spark.xlsx import read_rows

    d = spark.read.parquet(f"{adversarial_sf_dir}/documents.parquet")
    n = d.count()

    csv_dir = str(tmp_path / "docs_csv")
    export_csv(d, csv_dir)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")  # embedded newlines are quoted
        .csv(csv_dir)
    )
    assert back.count() == n

    json_dir = str(tmp_path / "docs_jsonl")
    export_json(d, json_dir)
    assert spark.read.json(json_dir).count() == n

    xlsx_path = str(tmp_path / "docs.xlsx")
    export_excel(d, xlsx_path)
    rows = read_rows(xlsx_path)
    assert len(rows) == n + 1  # header + every document row


def test_adversarial_corpus_builder_is_deterministic(tmp_path):
    """Two builds from the same source produce byte-identical parquet —
    the gate's input cannot drift between runs or machines (no
    randomness, no timestamps in the builder)."""
    import hashlib

    from scripts.adversarial_corpus import build

    a = build(str(tmp_path / "a"))
    b = build(str(tmp_path / "b"))
    for t in (
        "documents", "embeddings", "events",
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    ):
        da = hashlib.md5(open(f"{a}/{t}.parquet", "rb").read()).hexdigest()
        db = hashlib.md5(open(f"{b}/{t}.parquet", "rb").read()).hexdigest()
        assert da == db, t
