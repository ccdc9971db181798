"""Weighted sampling without replacement (Efraimidis-Spirakis 2006).

A training-data pipeline constantly needs "sample k documents, longer /
higher-quality ones more likely" over corpora that cannot be shuffled
globally.  The E-S one-pass trick: give each row the key u^(1/w) for
u ~ U(0,1) and keep the k largest keys — exactly a weighted sample
without replacement.  Here u is derived from the corpus-wide 48-bit md5
hash, so the sample is DETERMINISTIC (re-runs and engines agree row for
row — q97's DuckDB oracle replays it) yet distributionally correct
across salts.  The plan is TakeOrdered (per-partition top-k, merge at
the driver) — no global sort, no shuffle of the corpus; state is O(k)
per task at any scale.

The reference has no sampling counterpart (it processes every document,
v10_ALTAIR.R); this extends the training-data suite like q44's
stratified sampler, which covers the unweighted keep-rate case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _h48_duck, h48
from .skew import two_phase_topk

_DENOM = float((1 << 48) + 1)


def es_key(id_expr: str, weight, salt: str = ""):
    """The E-S sort key u^(1/w) as a Spark column.  ``weight`` is a
    column expression (must be > 0); ``salt`` varies the sample."""
    u = (h48(f"concat('{salt}', {id_expr})") + F.lit(1.0)) / F.lit(_DENOM)
    return F.pow(u, F.lit(1.0) / weight)


def sample_weighted(df: DataFrame, id_expr: str, weight_col: str, k: int,
                    salt: str = "") -> DataFrame:
    """Top-``k`` rows by E-S key -> the weighted sample, with the key as
    ``sample_key`` (rounded 6dp for cross-engine comparison).  Ties
    break on the id expression, so the result is total-ordered."""
    key = es_key(id_expr, F.col(weight_col), salt)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.expr(id_expr))
        .limit(k)
        .withColumn("sample_key", F.round("sample_key", 6))
    )


def sample_weighted_sql(table: str, id_expr: str, weight_col: str, k: int,
                        salt: str = "") -> str:
    """DuckDB twin of :func:`sample_weighted` (same hash, same key)."""
    h = _h48_duck(f"'{salt}' || {id_expr}")
    key = f"power(({h} + 1.0) / {_DENOM!r}, 1.0 / {weight_col})"
    return f"""
SELECT * EXCLUDE (sample_key),
       round(sample_key, 6) AS sample_key
FROM (
  SELECT *, {key} AS sample_key
  FROM {table}
  WHERE {weight_col} > 0
  ORDER BY sample_key DESC, {id_expr}
  LIMIT {k}
)
"""


def quota_sample(df: DataFrame, group_col: str, id_expr: str,
                 weight_col: str, k: int, salt: str = "") -> DataFrame:
    """Per-group weighted sample without replacement: the ``k`` largest
    E-S keys WITHIN each ``group_col`` value (uniform quota when the
    weight column is constant).  The training-mix workhorse: "keep at most
    k docs per domain, quality-weighted".

    Scale shape: a single window partitioned by group would funnel every
    row of a hot group (one domain with 10^9 docs) through one task, so
    the rank is ``skew.two_phase_topk`` like bm25's top-k, salted on the
    id expression.  Deterministic: the E-S key is hash-derived and ties
    break on the id expression.

    Returns (*df columns, sample_key rounded 6dp, rank).
    """
    keyed = df.where(F.col(weight_col) > 0).withColumn(
        "sample_key", es_key(id_expr, F.col(weight_col), salt))
    order = [F.desc("sample_key"), F.expr(id_expr)]
    return (
        two_phase_topk(keyed, group_col, order, F.expr(id_expr), k)
        .withColumn("sample_key", F.round("sample_key", 6))
    )


def quota_sample_sql(table: str, group_col: str, id_expr: str,
                     weight_col: str, k: int, salt: str = "") -> str:
    """DuckDB twin of :func:`quota_sample` (single window — the salted
    prune is a physical detail with identical results)."""
    h = _h48_duck(f"'{salt}' || {id_expr}")
    key = f"power(({h} + 1.0) / {_DENOM!r}, 1.0 / {weight_col})"
    return f"""
SELECT * EXCLUDE (sample_key), round(sample_key, 6) AS sample_key
FROM (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY {group_col}
                                 ORDER BY {key} DESC, {id_expr}) AS INT)
           AS rank,
         {key} AS sample_key
  FROM {table}
  WHERE {weight_col} > 0
)
WHERE rank <= {k}
"""
