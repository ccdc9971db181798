"""Sliding-window document chunking (LLM context-window prep).

Training pipelines slice long documents into overlapping fixed-width
windows before tokenization/packing (stride < width keeps cross-boundary
context).  This is a pure scan-side transform: words via ``split``, start
offsets via a strided ``sequence``, window text via ``slice`` +
``array_join``, rows via one ``explode`` — zero shuffles, zero Python,
entirely inside whole-stage codegen.  Composes with operators/packing.py
(chunk first, pack the chunks).

Guard: ``sequence`` with stop < start yields a DESCENDING range in Spark
(the round-6 ``sequence(1,0) == [1,0]`` finding), so empty/short docs are
routed explicitly: a doc with at least one word emits starts
``0, stride, 2*stride, ...`` strictly below its word count (the tail chunk
may be shorter than ``width``); a doc with no words emits no chunks but is
kept discoverable by the caller (left-join if needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_WIDTH = 32
DEFAULT_STRIDE = 24


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = DEFAULT_WIDTH,
    stride: int = DEFAULT_STRIDE,
) -> DataFrame:
    """Explode each document into overlapping word windows.

    Returns (id_col, chunk_idx, start_word, n_words, chunk_text);
    chunk_idx = start_word / stride.  Deterministic, partitioning-
    independent (no window functions, no shuffle).
    """
    if stride <= 0 or width <= 0:
        raise ValueError("width and stride must be positive")
    w = F.col("w")
    starts = F.when(
        F.size(w) > 0,
        F.sequence(F.lit(0), F.size(w) - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        # w is projected before the select that explodes: an expression
        # beside a generator is evaluated once per generated row
        docs.select(F.col(id_col), F.split(F.lower(text_col), r"\s+")
                    .alias("w"))
        .select(id_col, "w", F.explode(starts).alias("s"))
        .select(
            id_col,
            (F.col("s") / stride).cast("bigint").alias("chunk_idx"),
            F.col("s").cast("bigint").alias("start_word"),
            F.least(F.lit(width), F.size("w") - F.col("s"))
            .cast("bigint")
            .alias("n_words"),
            F.array_join(F.slice("w", F.col("s") + 1, width), " ").alias(
                "chunk_text"
            ),
        )
    )


def chunk_documents_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = DEFAULT_WIDTH,
    stride: int = DEFAULT_STRIDE,
) -> str:
    """DuckDB oracle for :func:`chunk_documents` (1-based list slices;
    ``range`` is empty on stop <= start so the short-doc guard is
    implicit)."""
    return f"""
    WITH words AS (
      SELECT {id_col}, regexp_split_to_array(lower({text_col}), '\\s+') AS w
      FROM {table}
    )
    SELECT {id_col},
           CAST((s - 1) / {stride} AS BIGINT)      AS chunk_idx,
           CAST(s - 1 AS BIGINT)                   AS start_word,
           CAST(least({width}, len(w) - (s - 1)) AS BIGINT) AS n_words,
           array_to_string(w[s:s+{width - 1}], ' ') AS chunk_text
    FROM words, LATERAL (
      SELECT unnest(range(1, len(w) + 1, {stride})) AS s
    ) t
    """
