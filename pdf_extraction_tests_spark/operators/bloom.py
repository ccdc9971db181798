"""Bloom-filter join pruning — the runtime-filter pattern for the regime
between "small side broadcasts exactly" (q43's broadcast semi-join) and
"both sides shuffle" (sort-merge join).

At 100 TB the probe side of a selective join should never reach the
shuffle: a Bloom bitset built from the build side's keys is a few MB at
any build-side cardinality (``m_bits`` is fixed), broadcasts for free,
and filters the probe scan-side with NO false negatives — only a
deterministic, bounded false-positive residue reaches the real join.
Spark's AQE injects similar runtime filters when statistics allow; this
operator makes the pattern explicit, plan-pinned, and cross-engine
checkable.

Everything is pure column expressions over the corpus-wide 48-bit md5
hash (operators/dedup.py), with k affine-derived bit positions per key
(same overflow-safe family as the MinHash hashes: a < 2^14,
h < 2^48 => a*h + b < 2^63, folded mod 2^61-1).  Words are 32-bit so
``1 << bit`` never touches the sign bit on either engine.  The bitset —
and therefore the exact false-positive set — is reproducible in DuckDB
(q96's oracle replays the filter bit-for-bit; no tolerance band).

The reference has no counterpart (single-machine R, v10_ALTAIR.R joins
per document); this is part of the training-data-pipeline suite the
engine adds for web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _h48_duck, h48

_M61 = (1 << 61) - 1
_A = [10007, 11003, 12011, 13001, 14011]
_B = [31337, 271828, 141421, 161803, 57721]

DEFAULT_M_BITS = 1 << 20          # 128 KiB bitset
DEFAULT_K = 3


def _pos(key_expr: str, i: int, m_bits: int):
    """Bit position i for the key (Spark column, in [0, m_bits))."""
    return F.pmod(
        F.pmod(h48(key_expr) * F.lit(_A[i]) + F.lit(_B[i]), F.lit(_M61)),
        F.lit(m_bits))


def _pos_sql(key_expr: str, i: int, m_bits: int) -> str:
    h = _h48_duck(key_expr)
    return f"((({h}) * {_A[i]} + {_B[i]}) % {_M61}) % {m_bits}"


def bloom_build(keys: DataFrame, key_expr: str,
                m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
                ) -> DataFrame:
    """Build-side keys -> (word, mask): the bitset's nonzero 32-bit
    words, bit_or-folded.  At most ``m_bits / 32`` rows regardless of
    key cardinality — always broadcastable."""
    pos = F.explode(F.array(
        *[_pos(key_expr, i, m_bits) for i in range(k)])).alias("pos")
    return (
        keys.select(pos)
        # 1L << bit keeps bit 31 positive (64-bit) on both engines
        .select(F.shiftright("pos", 5).alias("word"),
                F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("bit"))
        .groupBy("word").agg(F.bit_or("bit").alias("mask"))
    )


def bloom_prefilter(df: DataFrame, key_expr: str, bloom: DataFrame,
                    m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
                    ) -> DataFrame:
    """Rows of ``df`` whose key MIGHT be in the build set (no false
    negatives; false positives bounded by (1-e^{-kn/m})^k).  k broadcast
    left joins on word index + bit tests — the probe side never
    shuffles."""
    out = df
    cond = F.lit(True)
    for i in range(k):
        p = _pos(key_expr, i, m_bits)
        bi = bloom.select(F.col("word").alias(f"_bw{i}"),
                          F.col("mask").alias(f"_bm{i}"))
        out = (
            out.withColumn(f"_bp{i}", p)
            .join(F.broadcast(bi),
                  F.shiftright(F.col(f"_bp{i}"), 5) == F.col(f"_bw{i}"),
                  "left")
        )
        bit = F.expr(f"shiftleft(1L, cast(_bp{i} % 32 as int))")
        cond = cond & (
            F.coalesce(F.col(f"_bm{i}"), F.lit(0)).bitwiseAND(bit) != 0)
    drop = [c for i in range(k) for c in (f"_bp{i}", f"_bw{i}", f"_bm{i}")]
    return out.filter(cond).drop(*drop)


def bloom_prefilter_sql(big_table: str, big_key_expr: str,
                        keys_subquery: str, keys_key_expr: str,
                        m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
                        ) -> str:
    """DuckDB twin: SELECT big.* rows passing the same Bloom filter,
    bit-for-bit.  ``keys_subquery`` is a parenthesized SELECT producing
    the build-side keys."""
    pos_union = "\nUNION ALL\n".join(
        f"SELECT {_pos_sql(keys_key_expr, i, m_bits)} AS pos "
        f"FROM {keys_subquery} kk"
        for i in range(k))
    joins, tests = [], []
    for i in range(k):
        p = _pos_sql(big_key_expr, i, m_bits)
        joins.append(
            f"LEFT JOIN bloom w{i} ON ({p}) // 32 = w{i}.word")
        tests.append(
            f"(coalesce(w{i}.mask, 0) & (1::BIGINT << (({p}) % 32)::INT))"
            f" <> 0")
    return f"""
WITH bloom AS (
  SELECT pos // 32 AS word,
         bit_or(1::BIGINT << (pos % 32)::INT) AS mask
  FROM ({pos_union}) GROUP BY 1
)
SELECT b.* FROM {big_table} b
{chr(10).join(joins)}
WHERE {" AND ".join(tests)}
"""
