"""Skew tools: salted two-phase top-k for hot groups.

Spark's AQE splits skewed JOIN partitions automatically, and hash
aggregates with algebraic functions (count/sum/min/max) already combine
map-side — but a per-group ranking window funnels every row of a hot
group through one task, and per-term and per-domain top-k is what the
extraction domain needs (q52, q58, quota sampling).  The classic fix:
rank per (group, salt) first, then merge the salt survivors per group —
no window ever holds more than ~1/salt of the hottest group's rows.

Two exchanges instead of one, both bounded; equivalence with the direct
single-window form is pinned in tests/test_operators.py
(TestQuotaSample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

TOPK_SALT = 8


def two_phase_topk(df: DataFrame, group_col: str, order: list[Column],
                   salt_key: Column, k: int) -> DataFrame:
    """The ``k`` first rows per ``group_col`` value in ``order`` (which
    must be total), with their int ``rank`` (1..k).

    Phase 1 ranks inside (group, pmod(xxhash64(salt_key), TOPK_SALT)) and
    keeps k rows per salt bucket; phase 2 ranks the <= k * TOPK_SALT
    survivors per group.  Every global top-k row is in its salt bucket's
    top k, so the result equals one ``row_number`` window per group, while
    no window holds more than ~1/TOPK_SALT of a hot group."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_key), F.lit(TOPK_SALT)))
    rn = F.row_number().over(W.partitionBy(group_col, "_salt").orderBy(*order))
    pruned = (
        salted.withColumn("_rn", rn).filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    rank = F.row_number().over(W.partitionBy(group_col).orderBy(*order))
    return (
        pruned.withColumn("rank", rank).filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )
