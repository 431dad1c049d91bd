"""Blocked self-pair generation: the salted join (``salted_block_pairs``)
emits exactly the pair set of the plain equality join (``block_pairs``)
on a skewed block layout."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def blocks_df(spark):
    # one big skewed block (12 members), one small (3), one singleton
    rows = [(i, "big") for i in range(12)]
    rows += [(100 + i, "small") for i in range(3)]
    rows += [(200, "solo")]
    return spark.createDataFrame(rows, "doc_id bigint, source string")


def test_salted_caps_default_off_matches_exact(spark, blocks_df):
    from data_ingestor_spark.operators.pairs import block_pairs, salted_block_pairs

    def ids(df):
        return {
            (r["a_id"], r["b_id"])
            for r in df.select(
                df["a.doc_id"].alias("a_id"), df["b.doc_id"].alias("b_id")
            ).collect()
        }

    exact = ids(block_pairs(blocks_df, ["source"], "doc_id"))
    assert len(exact) == 12 * 11 // 2 + 3
    assert ids(salted_block_pairs(blocks_df, ["source"], "doc_id")) == exact
