"""Within-document repetition signals (Gopher-style quality gates).

Rae et al. 2021 (Gopher) filter documents whose content is dominated by a
few repeated n-grams — boilerplate listings, keyword stuffing, scraper
loops.  Two standard signals, both per-document:

* ``top_bigram_frac`` — occurrences of the document's most frequent word
  bigram over all bigram positions (1.0 == the doc is one bigram repeated);
* ``dup_trigram_frac`` — fraction of trigram positions whose trigram
  occurs more than once in the SAME document.

Spark shape: each signal is a column of the row's own projection.  Gram
emission is the same scan-side ``boilerplate.word_ngrams_col`` as q51/q55;
the per-gram counts come from one sort of the row's gram array and a
run-length ``aggregate`` over it (:func:`gram_runs`).  No explode, no
shuffle, no join back on the id, no Python: a repeated id keeps one row
per input row, and any split of the input gives the same rows.

Distinct from q51/q55, which measure CROSS-document duplication; these
are within-document signals (a doc can be 100 % internally repetitive yet
corpus-unique).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ONE gram definition engine-wide: the split/lower + sequence-descending
# guard lives in boilerplate.word_ngrams_col; a local copy would silently
# diverge from it (and from the SQL oracles that mirror it)
from pdf_extraction_tests_spark.operators.boilerplate import (
    word_ngrams_col as _gram_col,
)


def gram_runs(grams: str) -> str:
    """SQL ``struct<top: int, dup: int>`` of the gram array ``grams`` (SQL
    text) from one sort (``sort_array``: natural order, no comparator
    lambda) and a run-length ``aggregate``: ``top`` is the number of
    occurrences of the most frequent gram, ``dup`` the number of positions
    whose gram occurs two or more times."""
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


def gram_frac(run: str, grams: str) -> str:
    """SQL DOUBLE: :func:`gram_runs`'s ``run`` field (``top`` or ``dup``)
    over the number of positions in ``grams`` (SQL text), rounded to 6
    places; 0.0 for a row with no gram (a too-short doc is kept, not
    "repetitive").  The one definition of ``top_bigram_frac`` (``top`` of
    the bigrams) and ``dup_trigram_frac`` (``dup`` of the trigrams).  The
    guard keeps ANSI division from raising."""
    return (f"round(IF(size({grams}) > 0, "
            f"{gram_runs(grams)}.{run} / size({grams}), 0.0), 6)")


def gram_arrays(text_col: str = "text") -> list[Column]:
    """The row's bigram and trigram arrays as columns ``_bi`` and ``_tri``,
    to project before :func:`repetition_fracs` reads them: each fraction
    reads its array three times, so computing the array in the same
    projection would build it three times."""
    return [_gram_col(text_col, 2).alias("_bi"),
            _gram_col(text_col, 3).alias("_tri")]


def repetition_fracs() -> list[Column]:
    """``top_bigram_frac`` and ``dup_trigram_frac`` of the columns that
    :func:`gram_arrays` projects."""
    return [F.expr(gram_frac("top", "_bi")).alias("top_bigram_frac"),
            F.expr(gram_frac("dup", "_tri")).alias("dup_trigram_frac")]


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document (id_col, n_words, top_bigram_frac, dup_trigram_frac),
    one row per input row."""
    # NULL text has no word count (the oracle's len(NULL)); bare size(NULL)
    # reads -1 with ANSI off
    text = F.col(text_col)
    n_words = F.when(
        text.isNotNull(), F.size(F.split(F.lower(text), r"\s+"))
    ).cast("bigint")
    return docs.select(
        F.col(id_col), n_words.alias("n_words"), *gram_arrays(text_col)
    ).select(id_col, "n_words", *repetition_fracs())


def repetition_signals_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`repetition_signals`: the same gram
    definition, and per row a correlated count of each gram of the row's
    own gram list, so a repeated id keeps one row per input row."""

    def grams(n: int) -> str:
        return (f"list_transform(range(1, len(w) - {n - 2}), "
                f"i -> array_to_string(w[i:i+{n - 1}], ' '))")

    def frac(agg: str, g: str) -> str:
        runs = (f"(SELECT {agg} FROM (SELECT count(*) AS c "
                f"FROM unnest({g}) t(x) GROUP BY x))")
        return (f"round(CASE WHEN len({g}) > 0 "
                f"THEN {runs}::DOUBLE / len({g}) ELSE 0.0 END, 6)")

    return f"""
    SELECT {id_col}, n_words,
           {frac("max(c)", "bi")} AS top_bigram_frac,
           {frac("sum(CASE WHEN c > 1 THEN c ELSE 0 END)", "tri")}
             AS dup_trigram_frac
    FROM (
      SELECT {id_col}, CAST(len(w) AS BIGINT) AS n_words,
             {grams(2)} AS bi, {grams(3)} AS tri
      FROM (SELECT {id_col},
                   regexp_split_to_array(lower({text_col}), '\\s+') AS w
            FROM {table}) words
    ) g
    """
