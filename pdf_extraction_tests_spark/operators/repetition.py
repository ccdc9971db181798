"""Within-document repetition signals (Gopher-style quality gates).

Rae et al. 2021 (Gopher) filter documents whose content is dominated by a
few repeated n-grams — boilerplate listings, keyword stuffing, scraper
loops.  Two standard signals, both per-document:

* ``top_bigram_frac`` — occurrences of the document's most frequent word
  bigram over all bigram positions (1.0 == the doc is one bigram repeated);
* ``dup_trigram_frac`` — fraction of trigram positions whose trigram
  occurs more than once in the SAME document.

Spark shape: gram emission is the same scan-side
``boilerplate.word_ngrams_col`` as q51/q55; the per-(doc, gram) counts are
algebraic ``count(*)`` aggregates (map-side combinable — a hot document salts
naturally because the groupBy key includes the gram), folded to per-doc
signals by a second algebraic aggregate.  No windows, no Python, no
holistic state: the largest aggregation state is one counter per distinct
(doc, gram).

Distinct from q51/q55, which measure CROSS-document duplication; these
are within-document signals (a doc can be 100 % internally repetitive yet
corpus-unique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# ONE gram definition engine-wide: the split/lower + sequence-descending
# guard lives in boilerplate.word_ngrams_col; a local copy would silently
# diverge from it (and from the SQL oracles that mirror it)
from pdf_extraction_tests_spark.operators.boilerplate import (
    word_ngrams_col as _gram_col,
)


def _per_doc_gram_stats(
    docs: DataFrame, id_col: str, text_col: str, n: int, prefix: str
) -> DataFrame:
    """(id_col, {prefix}_top_cnt, {prefix}_dup_pos, {prefix}_total) via two
    algebraic aggregations."""
    grams = docs.select(
        F.col(id_col), F.explode(_gram_col(text_col, n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy(id_col).agg(
        F.max("cnt").alias(f"{prefix}_top_cnt"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
            f"{prefix}_dup_pos"
        ),
        F.sum("cnt").alias(f"{prefix}_total"),
    )


def gram_runs(grams: str) -> str:
    """SQL ``struct<top: int, dup: int>`` of the gram array ``grams`` (SQL
    text) from one sort (``sort_array``: natural order, no comparator
    lambda) and a run-length ``aggregate``: ``top`` is the longest run of
    one gram, ``dup`` the summed length of the runs of two or more.  With ``size(grams)`` as the total, it equals
    :func:`_per_doc_gram_stats`'s (top_cnt, dup_pos, total) on a row whose
    id is unique, computed in the row's own projection: no explode and no
    shuffle."""
    return (
        f"aggregate(sort_array({grams}), named_struct('prev', "
        "CAST(NULL AS STRING), 'run', 0, 'top', 0, 'dup', 0), "
        "(a, g) -> IF(g = a.prev, "
        "named_struct('prev', g, 'run', a.run + 1, "
        "'top', greatest(a.top, a.run + 1), "
        "'dup', a.dup + IF(a.run = 1, 2, 1)), "
        "named_struct('prev', g, 'run', 1, 'top', greatest(a.top, 1), "
        "'dup', a.dup)), "
        "a -> named_struct('top', a.top, 'dup', a.dup))"
    )


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document (id_col, n_words, top_bigram_frac, dup_trigram_frac).

    Fractions are 0.0 for documents too short to emit the gram (they are
    kept, not dropped — a two-word doc is not "repetitive").
    """
    bi = _per_doc_gram_stats(docs, id_col, text_col, 2, "bi")
    tri = _per_doc_gram_stats(docs, id_col, text_col, 3, "tri")
    # NULL text has no word count (the oracle's len(NULL)); bare size(NULL)
    # reads -1 with ANSI off
    text = F.col(text_col)
    base = docs.select(
        F.col(id_col),
        F.when(text.isNotNull(), F.size(F.split(F.lower(text), r"\s+")))
        .cast("bigint").alias("n_words"),
    )
    return (
        base.join(bi, id_col, "left")
        .join(tri, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.round(
                F.coalesce(F.col("bi_top_cnt") / F.col("bi_total"), F.lit(0.0)),
                6,
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(
                    F.col("tri_dup_pos") / F.col("tri_total"), F.lit(0.0)
                ),
                6,
            ).alias("dup_trigram_frac"),
        )
    )


def repetition_signals_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`repetition_signals` (same gram definition,
    same two-level aggregation)."""

    def grams_cte(n: int, name: str) -> str:
        return f"""
    {name} AS (
      SELECT {id_col}, array_to_string(w[i:i+{n - 1}], ' ') AS gram
      FROM words, LATERAL (SELECT unnest(range(1, len(w) - {n - 2})) AS i) t
      WHERE len(w) >= {n}
    ),
    {name}_stats AS (
      SELECT {id_col},
             max(cnt) AS top_cnt,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_pos,
             sum(cnt) AS total
      FROM (SELECT {id_col}, gram, count(*) AS cnt
            FROM {name} GROUP BY {id_col}, gram)
      GROUP BY {id_col}
    )"""

    return f"""
    WITH words AS (
      SELECT {id_col}, regexp_split_to_array(lower({text_col}), '\\s+') AS w
      FROM {table}
    ),{grams_cte(2, "bi")},{grams_cte(3, "tri")}
    SELECT d.{id_col},
           CAST(len(d.w) AS BIGINT) AS n_words,
           round(coalesce(b.top_cnt::DOUBLE / b.total, 0.0), 6)
             AS top_bigram_frac,
           round(coalesce(t.dup_pos::DOUBLE / t.total, 0.0), 6)
             AS dup_trigram_frac
    FROM words d
    LEFT JOIN bi_stats b USING ({id_col})
    LEFT JOIN tri_stats t USING ({id_col})
    """
