"""Blocked self-pair generation — the shared skeleton under every
pairwise near-duplicate operator (MinHash-LSH candidates, n-gram
blocks, embedding-label blocks).

Semantics: all unordered intra-block pairs ``(a, b)`` with
``a.id < b.id``, produced by an EQUALITY self-join on the block key —
never a global cross join.

Scale problem this module solves: when the block key has low
cardinality (10 labels, a handful of sources), a plain equality join
hashes every block onto one reducer — a 1000-executor cluster runs 10
tasks. :func:`salted_block_pairs` splits each block into ``S²`` join
groups by salting both sides with a deterministic id-hash and
replicating each side ``S`` ways against the partner's possible salt:
pair (a, b) meets exactly once, at join key
``(block, salt(a), salt(b))``. Replication multiplies *input* rows by
``S`` (cheap — inputs are the small side) while the *pair* work — the
quadratic part — spreads over ``S²`` × blocks reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def block_pairs(df: DataFrame, block_cols: list[str], id_col: str) -> DataFrame:
    """Plain blocked self-pairs: fine when block-key cardinality ≫ cores.

    Output columns: ``a.*`` / ``b.*`` accessible via aliases ``a``/``b``.
    """
    a, b = df.alias("a"), df.alias("b")
    cond = F.lit(True)
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return a.join(b, cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))


def salted_block_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-resistant blocked self-pairs (see module docstring).

    Each row gets a deterministic salt ``xxhash64(id) mod S``; side A is
    replicated over every possible partner salt, side B likewise, and
    the join key is ``block_cols + (salt_a, salt_b)`` — so each block's
    quadratic pair work lands on ``S²`` independent reducers instead of
    one. Result set is IDENTICAL to :func:`block_pairs`; only the
    physical distribution changes.
    """
    S = salt_buckets
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(S)).cast("int")
    a = (
        df.withColumn("_sa", salt)
        .withColumn("_sb", F.explode(F.sequence(F.lit(0), F.lit(S - 1))))
        .alias("a")
    )
    b = (
        df.withColumn("_sb", salt)
        .withColumn("_sa", F.explode(F.sequence(F.lit(0), F.lit(S - 1))))
        .alias("b")
    )
    cond = (F.col("a._sa") == F.col("b._sa")) & (F.col("a._sb") == F.col("b._sb"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    out = a.join(b, cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    return out.drop("_sa", "_sb")
