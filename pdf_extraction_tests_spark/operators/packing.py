"""The one distributed exclusive prefix sum, and sequence packing on it.

:func:`prior_sum` gives every row the sum of a value over all earlier rows
of a total order, with NO global-ordered window over the corpus (that
funnels every row through one task).  It is the two-level shape of a
parallel prefix sum:

1. sub-bucket = floor(id / width): monotone in the id tiebreak, so
   (lead, sub-bucket, id) is the same total order as (lead, id).  The
   width is a column of a broadcast 1-row ``max(id)`` aggregate, sized so
   the totals frame stays <= MAX_TOTALS_ROWS per lead value at any corpus
   size, so building the plan runs no job;
2. per-bucket totals (one hash aggregate);
3. exclusive bucket offsets via an ordered window over the TOTALS frame
   only, the small sequential pass;
4. offsets broadcast back; a per-bucket PARTITIONED exclusive running sum.

q45 (token-budget head) and q49 (:func:`sequence_pack`) use it.  Plan
shape pinned in tests/test_plans.py; value parity vs a DuckDB global
window in both oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# ceiling on the totals-frame rows per lead value (step 3's single-task
# ordered window).  65,536 eight-byte rows is a trivially small frame at
# any executor size; the width grows with the id domain so the frame never
# exceeds it (1e12 docs -> width ~1.5e7, frame 65k).
MAX_TOTALS_ROWS = 65_536


def _width(df: DataFrame, id_col: str) -> DataFrame:
    """1-row frame: the sub-bucket width ``_w`` for ``df``'s id domain,
    ceil((max id + 1) / MAX_TOTALS_ROWS) and at least 64."""
    n = MAX_TOTALS_ROWS
    return df.agg(F.expr(
        f"greatest(64, (coalesce(max({id_col}), 0) + {n}) div {n})"
    ).alias("_w"))


def prior_sum(scored: DataFrame, value: str, lead: str | None, id_col: str,
              limit: int | None = None) -> DataFrame:
    """``scored`` plus ``_prior``: the sum of ``value`` over every earlier
    row in (``lead`` DESC, ``id_col`` ASC) order (``lead=None``: id order
    alone).  NULL when no earlier row has a non-NULL value, the NULL rule
    of a SQL running sum.

    ``limit`` prunes every bucket whose offset is past it before the
    join-back, so the corpus-sized window exchange carries only the
    head buckets; with non-negative values, every pruned row has
    ``_prior > limit``."""
    keys = ([lead] if lead else []) + ["_sub"]
    width = F.broadcast(_width(scored, id_col))
    subbed = scored.crossJoin(width).withColumn(
        "_sub", F.floor(F.col(id_col) / F.col("_w"))).drop("_w")
    totals = subbed.groupBy(*keys).agg(F.sum(value).alias("_bt"))
    order = ([F.desc(lead)] if lead else []) + [F.asc("_sub")]
    off_w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(*keys, F.sum("_bt").over(off_w).alias("_off"))
    off = F.col("_off")
    if limit is not None:
        offsets = offsets.filter(off.isNull() | (off <= F.lit(limit)))
    run_w = (
        W.partitionBy(*keys).orderBy(F.asc(id_col))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run = F.sum(value).over(run_w)
    return (
        subbed.join(F.broadcast(offsets), keys)
        .withColumn("_prior", F.coalesce(off + run, off, run))
        .drop("_sub", "_off")
    )


def sequence_pack(docs: DataFrame, seq_len: int = 2048,
                  text_col: str = "text", id_col: str = "doc_id",
                  tokenizer: str = "whitespace",
                  merges: list | None = None) -> DataFrame:
    """-> (doc_id, n_tokens, seq_id, seq_offset) for every non-NULL-text
    document, under the chosen tokenization and doc_id concatenation
    order (the "concat-and-chunk" packing of LLM pretraining batches).
    ``seq_id`` is the fixed-length sequence containing the doc's first
    token; ``seq_offset`` its position inside that sequence (docs
    straddle boundaries, exactly like concat-and-chunk).

    ``tokenizer='whitespace'`` (default, DuckDB-oracled via q49) or
    ``'bpe'`` (real subword counts — functions/bpe.py; scan-side Arrow
    kernel for the counts).  The token offsets are :func:`prior_sum`."""
    from ..functions.bpe import token_count_col

    toks = token_count_col(text_col, tokenizer, merges)
    scored = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_toks"))
    prior = F.coalesce(F.col("_prior"), F.lit(0).cast("long"))
    return prior_sum(scored, "_toks", None, id_col).select(
        id_col,
        F.col("_toks").alias("n_tokens"),
        F.floor(prior / seq_len).cast("long").alias("seq_id"),
        (prior % seq_len).cast("long").alias("seq_offset"),
    )
