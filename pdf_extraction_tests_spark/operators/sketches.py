"""Corpus-scale counting operators: the exact heavy-hitter count (q42)
and the HyperLogLog distinct-count sketch (q95).

Both are pure column expressions, so each is exactly reproducible in
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import with_shingles


def heavy_hitters(docs: DataFrame, k: int = 20, shingle_n: int = 3,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` shingles by document frequency -> (shingle, df).

    Scan-side shingling, one count shuffle over the distinct-shingle
    stream, then TakeOrdered — exact, and the q42 oracle's twin.
    """
    sh = with_shingles(docs, shingle_n, text_col, id_col)
    return (
        sh.groupBy("shingle").agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("shingle"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet et al. 2007).  The 100 TB
# swap for COUNT(DISTINCT x): the exact form shuffles one row per
# distinct value; HLL's aggregation state is 2^p registers TOTAL (map-
# side combine reduces each task to <= 2^p rows), mergeable across
# corpora by per-register max.  Deterministic end-to-end: the same
# 60-bit md5-derived hash both engines can compute, rho via bin()
# string length (no float log2), so the registers — and the estimate —
# are exactly reproducible in DuckDB (q95's oracle is the full sketch,
# not a tolerance band).
# ---------------------------------------------------------------------------

HLL_P = 12                       # 4096 registers; rel. error ~1.04/64 = 1.6%


def _h60(col: str):
    """60-bit nonneg hash (15 md5 hex digits), cross-engine with
    DuckDB ('0x'||substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10) \
            .cast("long")


def hll_registers(df: DataFrame, col: str, p: int = HLL_P) -> DataFrame:
    """-> (bucket, reg): the sketch's nonzero registers.  bucket = low p
    hash bits; reg = max over values of rho(upper 60-p bits), where
    rho = leading zeros + 1 (bin() length — exact integer arithmetic)."""
    m = 1 << p
    w = 60 - p
    h = _h60(col)
    val = F.shiftright(h, p)
    rho = F.when(val == 0, F.lit(w + 1)) \
           .otherwise(F.lit(w + 1) - F.length(F.bin(val)))
    return (
        df.where(F.col(col).isNotNull())
        .select(F.pmod(h, F.lit(m)).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket").agg(F.max("rho").alias("reg"))
    )


def hll_estimate(regs: DataFrame, p: int = HLL_P) -> DataFrame:
    """Registers -> one row (ndv_est, nonzero_registers, register_sum).
    Standard bias-corrected estimator with the small-range linear-
    counting switch; integer register aggregates ride along so the
    oracle comparison has exact columns beside the rounded double."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.agg(
        F.count("*").alias("nz"),
        F.sum("reg").cast("long").alias("register_sum"),
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("s"),
    )
    v = F.lit(m) - F.col("nz")                      # zero registers
    raw = F.lit(alpha * m * m) / (F.col("s") + v)   # empties add 2^0 each
    est = F.when((raw <= 2.5 * m) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v)) \
           .otherwise(raw)
    return agg.select(
        F.round(est, 2).alias("ndv_est"),
        F.col("nz").cast("long").alias("nonzero_registers"),
        F.col("register_sum"),
    )


def hll_ndv(df: DataFrame, col: str, p: int = HLL_P) -> DataFrame:
    """COUNT(DISTINCT col) estimate as a fixed-state sketch."""
    return hll_estimate(hll_registers(df, col, p), p)


def hll_ndv_sql(table: str, col: str, p: int = HLL_P) -> str:
    """DuckDB twin of :func:`hll_ndv` — register-for-register."""
    m = 1 << p
    w = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return f"""
WITH h AS (
  SELECT ('0x' || substr(md5({col}), 1, 15))::BIGINT AS hv
  FROM {table} WHERE {col} IS NOT NULL
), b AS (
  SELECT hv % {m} AS bucket, hv // {m} AS val FROM h
), regs AS (
  SELECT bucket,
         MAX(CASE WHEN val = 0 THEN {w + 1}
                  ELSE {w + 1} - length(bin(val)) END) AS reg
  FROM b GROUP BY bucket
), agg AS (
  SELECT COUNT(*) AS nz,
         CAST(SUM(reg) AS BIGINT) AS register_sum,
         SUM(power(2.0, -reg)) AS s
  FROM regs
)
SELECT round(CASE WHEN {alpha * m * m!r}::DOUBLE / (s + ({m} - nz))
                       <= 2.5 * {m} AND nz < {m}
             THEN {float(m)!r}::DOUBLE * ln({float(m)!r}::DOUBLE / ({m} - nz))
             ELSE {alpha * m * m!r}::DOUBLE / (s + ({m} - nz)) END,
             2) AS ndv_est,
       CAST(nz AS BIGINT) AS nonzero_registers,
       register_sum
FROM agg
"""
