"""Skew tools: salted two-phase aggregation and top-k for hot keys.

Spark's AQE splits skewed JOIN partitions automatically, and hash
aggregates with algebraic functions (count/sum/min/max) already combine
map-side — but HOLISTIC aggregates (collect_list / ordered group-concat)
and per-group ranking windows funnel every row of a hot key through one
task, and those are exactly what the extraction domain needs
(reading-ordered text assembly per document/site/domain, per-term and
per-domain top-k).  The classic fix: work per (key, salt) first, then
merge the salt partials per key — no task ever holds more than ~1/salt of
the hottest key's rows.

Two exchanges instead of one, both bounded; equivalence with the direct
single-phase forms is pinned in tests/test_operators.py (TestSaltedAgg,
TestQuotaSample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

TOPK_SALT = 8


def salted_ordered_concat(df: DataFrame, key: str, order_col: str,
                          val_col: str, salt: int = 32,
                          sep: str = " ") -> DataFrame:
    """Ordered group-concat that survives hot keys.

    Phase 1 groups by (key, pmod(xxhash64(order_col), salt)) and collects
    (order, val) structs per salt bucket; phase 2 flattens + sorts the
    (at most ``salt``) partial arrays per key and joins.  Result is
    identical to ``array_join(array_sort(collect_list(struct(order, val))))``
    grouped by key alone — the A1 ordered-concat semantics — while the
    biggest single aggregation state is ~hottest_key/salt rows.
    """
    # salt on (order, val): hashing the order column alone collapses every
    # row sharing an order value into ONE bucket — a hot key with few
    # distinct order values would defeat the bound.  Correctness is salt-
    # independent (phase 2 re-sorts globally per key).
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(order_col), F.col(val_col)), F.lit(salt)),
    )
    partial = salted.groupBy(key, "_salt").agg(
        F.collect_list(F.struct(F.col(order_col).alias("o"),
                                F.col(val_col).alias("v"))).alias("_part")
    )
    merged = partial.groupBy(key).agg(
        F.flatten(F.collect_list("_part")).alias("_all")
    )
    return merged.select(
        key,
        F.array_join(
            F.transform(F.array_sort("_all"), lambda s: s["v"]), sep
        ).alias("concat"),
    )


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
