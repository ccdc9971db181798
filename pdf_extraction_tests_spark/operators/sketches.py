"""Count-min sketch over the corpus shingle stream — the 100 TB swap for
q42's exact heavy-hitter count (queries.py::q42 names this module).

Why a sketch: the exact query shuffles one row per distinct (shingle)
group — fine while distinct shingles fit a shuffle, ruinous at web scale.
A count-min sketch bounds the aggregation state at ``depth x width``
counters per partition regardless of corpus size: the map side emits at
most depth*width partially-aggregated cells per task, the reduce side
merges ``<= depth * width`` rows total.  Estimates are one-sided
(``est >= true``) with additive error ``<= e * N / width`` at confidence
``1 - exp(-depth)`` (Cormode & Muthukrishnan 2005).

Everything is pure column expressions over the same 48-bit md5 hash the
dedup operators use, so the whole sketch (build AND probe) is exactly
reproducible in DuckDB — tests/test_operators.py pins the cross-engine
equality and the exact-vs-sketch agreement on the bench corpus.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from ..shipping import map_batches
from .dedup import _h48_duck, h48, shingles_sql, with_shingles

# affine family over one base hash, same overflow-safe arithmetic as the
# MinHash family (a_d < 2^14, h48 < 2^48 => a*h + b < 2^63); M = 2^61-1
_CMS_M = (1 << 61) - 1
_CMS_A = [10007, 11003, 12011, 13001, 14011, 15013, 16033, 9001]
_CMS_B = [31337, 271828, 141421, 161803, 57721, 66260, 299792, 98765]

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 2048


def _cell(d: int, width: int):
    """Row d's cell index for the ``shingle`` column (pure expression)."""
    return F.pmod(
        F.pmod(h48("shingle") * F.lit(_CMS_A[d]) + F.lit(_CMS_B[d]),
               F.lit(_CMS_M)),
        F.lit(width),
    ).cast("int")


def _dc_rows(df: DataFrame, depth: int, width: int) -> DataFrame:
    """(shingle rows) -> one (d, cell) row per depth per input row."""
    arr = F.array(*[
        F.struct(F.lit(d).alias("d"), _cell(d, width).alias("cell"))
        for d in range(depth)
    ])
    return df.select(F.col("shingle"), F.explode(arr).alias("dc")).select(
        "shingle", F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell")
    )


class CmsSketch(NamedTuple):
    """A sketch TABLE plus the (depth, width) that built it — bound
    together so a probe can never run with mismatched hash parameters
    (a depth/width mismatch silently breaks the one-sided est >= true
    guarantee: unmatched cells coalesce to 0)."""

    table: DataFrame
    depth: int
    width: int


def cms_build(docs: DataFrame, shingle_n: int = 3, depth: int = DEFAULT_DEPTH,
              width: int = DEFAULT_WIDTH, text_col: str = "text",
              id_col: str = "doc_id") -> CmsSketch:
    """Build the sketch: table (d, cell, cnt) of at most depth*width rows,
    returned WITH its parameters (:class:`CmsSketch`).

    Counts DOCUMENT frequency (distinct shingles per doc, the q42
    semantics).  The groupBy key space is fixed at depth*width, so Spark's
    partial aggregation caps the shuffle at depth*width rows per map task
    — the state bound that makes this the web-scale form.
    """
    if depth > len(_CMS_A):
        raise ValueError(f"depth <= {len(_CMS_A)} supported")
    sh = with_shingles(docs, shingle_n, text_col, id_col)
    table = (
        _dc_rows(sh, depth, width)
        .groupBy("d", "cell")
        .agg(F.count("*").alias("cnt"))
    )
    return CmsSketch(table, depth, width)


def cms_estimate(sketch: CmsSketch, candidates: DataFrame) -> DataFrame:
    """Probe the sketch: candidates(shingle) -> (shingle, est).

    est = min over rows of the candidate's cell counters (0 when a cell
    was never touched).  The sketch table is <= depth*width rows, so it
    broadcasts; the probe never shuffles the candidate side beyond its own
    tiny per-shingle aggregate.  Hash parameters come from the sketch
    itself, so build and probe cannot disagree.
    """
    probed = _dc_rows(candidates.select("shingle").distinct(),
                      sketch.depth, sketch.width)
    return (
        probed.join(F.broadcast(sketch.table), ["d", "cell"], "left")
        .groupBy("shingle")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_build_sql(shingle_n: int = 3, depth: int = DEFAULT_DEPTH,
                  width: int = DEFAULT_WIDTH, table: str = "documents") -> str:
    """DuckDB twin of :func:`cms_build` (identical hash family and cells);
    used by the cross-engine pin in tests."""
    base = _h48_duck("shingle")
    branches = "\n        UNION ALL ".join(
        f"SELECT {d} AS d, CAST((({base}) * {_CMS_A[d]} + {_CMS_B[d]}) "
        f"% {_CMS_M} % {width} AS INT) AS cell FROM sh"
        for d in range(depth)
    )
    return f"""
    WITH sh AS (
      {shingles_sql(shingle_n, table)}),
    dc AS (
        {branches})
    SELECT d, cell, count(*) AS cnt FROM dc GROUP BY d, cell
    """


def _local_top_shingles(local_m: int, cap_mult: int = 500,
                        keep_mult: int = 100):
    """Per-partition candidate generator for :func:`heavy_hitters`: a
    bounded lossy counter in the Manku-Motwani style, emitting the
    partition's top ``local_m`` shingles by estimated count.

    State is capped at ``cap_mult * local_m`` entries (~a few MB per task
    regardless of partition size); when the cap trips, the counter prunes
    to ``keep_mult * local_m`` and remembers the largest count it ever
    dropped (``floor``).  A key (re-)entering after a prune is credited
    ``+floor`` — at most what it could have lost — so estimates stay
    one-sided (est >= true partition count) and a heavy shingle whose
    occurrences arrive late can never be silently zeroed by an early
    prune (the round-4 bug: plain top-N pruning dropped df=7 hitters that
    were count-1 at prune time).  Vectorized (pandas value_counts), no
    per-row Python."""
    import pandas as pd  # local: runs on executors

    def gen(batches):
        from collections import Counter

        c: Counter = Counter()
        floor = 0
        for pdf in batches:
            vc = pdf["shingle"].value_counts().to_dict()
            if floor:
                for s in vc.keys() - c.keys():
                    vc[s] += floor
            c.update(vc)
            if len(c) > cap_mult * local_m:
                kept = c.most_common(keep_mult * local_m)
                # everything dropped had count <= the kept minimum
                floor = max(floor, kept[-1][1])
                c = Counter(dict(kept))
        top = c.most_common(local_m)
        yield pd.DataFrame({"shingle": [s for s, _ in top]})

    return gen


def heavy_hitters(docs: DataFrame, k: int = 20, shingle_n: int = 3,
                  exact: bool = True, depth: int = DEFAULT_DEPTH,
                  width: int = DEFAULT_WIDTH, local_m: int | None = None,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` shingles by document frequency -> (shingle, df).

    ``exact=True`` (the size switch's small side): one count shuffle over
    the distinct-shingle stream + TakeOrdered — exact, and the q42
    oracle's twin.  ``exact=False`` (the 100 TB side) is the classic
    two-pass heavy-hitter shape — no per-shingle global group ever forms:

    1. candidates: per-partition bounded local top-``local_m``
       (mapInPandas lossy counter, no shuffle);
    2. prune: count-min sketch estimates (:func:`cms_build` /
       :func:`cms_estimate`, depth*width state) keep the top
       ``max(64k, 1024)`` candidates — one-sided est >= true, so a true
       top-k hitter is only lost if 64x its rank's worth of candidates
       over-estimate ABOVE it (collision noise of order N/width; size
       width accordingly).  The margin is deliberately wide: the prune
       only exists to bound the pass-3 broadcast when partitions are
       many, and a few thousand strings broadcast for free;
    3. verify: EXACT counts for just those shingles via a broadcast
       semi-join on the shingle stream (corpus side never shuffles;
       groupBy state bounded by the candidate count).

    Pass 3 makes the output's counts and (df desc, shingle) tiebreaks
    identical to ``exact=True`` whenever coverage holds — tie plateaus
    don't reorder under estimate noise.  Coverage needs every global
    heavy hitter to be locally heavy in at least one partition — true for
    boilerplate-style hitters; raise ``local_m`` (default 8k) to harden.
    Sketch-vs-exact agreement is pinned in
    tests/test_operators.py::TestCountMinSketch.
    """
    sh = with_shingles(docs, shingle_n, text_col, id_col)
    if exact:
        return (
            sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .orderBy(F.desc("df"), F.asc("shingle"))
            .limit(k)
        )
    sketch = cms_build(docs, shingle_n, depth, width, text_col, id_col)
    cand = (
        map_batches(sh.select("shingle"),
                    _local_top_shingles(local_m or 8 * k), "shingle string")
        .distinct()
    )
    pruned = (
        cms_estimate(sketch, cand)
        .orderBy(F.desc("est"), F.asc("shingle"))
        .limit(max(64 * k, 1024))
        .select("shingle")
    )
    return (
        sh.join(F.broadcast(pruned), "shingle")
        .groupBy("shingle").agg(F.count("*").alias("df"))
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


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union of sketches == sketch of the union (per-register max)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.max("reg").alias("reg"))


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
