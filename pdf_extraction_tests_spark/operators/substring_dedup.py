"""Corpus-duplicated n-gram span REMOVAL (exact substring dedup, rewrite).

Scoring a document's overlap with the corpus (q51's boilerplate fraction)
is half the job; a training pipeline must also REWRITE the corpus with the
duplicated spans cut out (the "exact substring deduplication" step of
Lee et al. 2022, at word n-gram granularity instead of a suffix array —
the suffix-array construction is a single-machine algorithm; the n-gram
form is the shuffle-friendly distributed equivalent).

Spark shape:

1. gram emission is scan-side column arithmetic
   (:func:`~.boilerplate.word_ngrams_col`); ``posexplode`` gives each gram
   its start offset;
2. cross-document frequency is q51's document-frequency set
   (:func:`~.boilerplate.frequent_grams` with ``min_docs``): one
   groupBy(gram) with map-side partial ``count(distinct doc_id)``;
3. duplicated grams (>= ``min_docs`` distinct docs) join back to the gram
   stream ON GRAM: a set below the broadcast threshold is broadcast, a
   larger one is a shuffle join co-partitioned on gram (at corpus scale
   the duplicate vocabulary grows with the corpus, unlike q51's min_df
   frequent set; a join hint would shuffle at every size);
4. covered start offsets fold per doc (bounded by doc length), and the
   rewrite itself is an indexed ``filter`` lambda over the word array —
   a word survives iff no duplicated gram window [s, s+n) covers it.

The reference deduplicates sentences within a document (v10.R sentence
dedup, kernel A10); this is the corpus-level generalization a 100 TB
training corpus needs.

Determinism: the output depends only on the corpus content, never on
partitioning (no windows, no ordering sensitivity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .boilerplate import frequent_grams, word_ngrams_col

DEFAULT_N = 8
DEFAULT_MIN_DOCS = 2


def duplicated_span_rewrite(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
    min_docs: int = DEFAULT_MIN_DOCS,
) -> DataFrame:
    """Remove every word span covered by an ``n``-gram that occurs in
    >= ``min_docs`` distinct documents.

    Returns (id_col, n_words, n_dup_words, dup_frac, clean_text).  Grams
    are matched on lowercased words; the rewrite preserves the original
    casing of surviving words.  Docs shorter than ``n`` words pass through
    unchanged (sequence-descending guard).
    """
    w = F.split(F.col(text_col), r"\s+")
    gram_strings = word_ngrams_col(text_col, n)
    # a gram's position in the array is its start offset s
    grams = docs.select(
        F.col(id_col), F.posexplode(gram_strings).alias("s", "gram"))

    dup_grams = frequent_grams(docs, id_col, text_col, n, min_docs)
    covered = (
        grams.join(dup_grams, "gram")  # broadcast or co-partitioned: step 3
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("s")).alias("starts"))
    )

    joined = docs.join(covered, id_col, "left").select(
        F.col(id_col),
        w.alias("w"),
        F.coalesce("starts", F.array().cast("array<int>")).alias("starts"),
    )
    clean = F.filter(
        "w",
        lambda x, i: ~F.exists(
            F.col("starts"), lambda s: (i >= s) & (i < s + n)
        ),
    )
    return joined.select(
        id_col,
        F.size("w").cast("bigint").alias("n_words"),
        (F.size("w") - F.size(clean)).cast("bigint").alias("n_dup_words"),
        F.round(
            (F.size("w") - F.size(clean))
            / F.greatest(F.size("w"), F.lit(1)).cast("double"),
            6,
        ).alias("dup_frac"),
        F.array_join(clean, " ").alias("clean_text"),
    )


def duplicated_span_rewrite_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
    min_docs: int = DEFAULT_MIN_DOCS,
) -> str:
    """DuckDB oracle for :func:`duplicated_span_rewrite` (1-based list
    slices; lambda captures the outer position column — verified DuckDB-1.0
    behavior; string_agg FILTER rebuilds the surviving text in order)."""
    return f"""
    WITH words AS (
      SELECT {id_col},
             regexp_split_to_array({text_col}, '\\s+') AS w,
             regexp_split_to_array(lower({text_col}), '\\s+') AS lw
      FROM {table}
    ),
    grams AS (
      SELECT {id_col}, s, array_to_string(lw[s+1:s+{n}], ' ') AS gram
      FROM words, LATERAL (SELECT unnest(range(0, len(lw) - {n - 1})) AS s) t
      WHERE len(lw) >= {n}
    ),
    dups AS (
      SELECT gram FROM (
        SELECT gram, count(DISTINCT {id_col}) AS ddf FROM grams GROUP BY gram
      ) WHERE ddf >= {min_docs}
    ),
    covered AS (
      SELECT {id_col}, list_sort(list(DISTINCT s)) AS starts
      FROM grams JOIN dups USING (gram)
      GROUP BY {id_col}
    ),
    pos AS (
      SELECT wd.{id_col}, wd.w[i + 1] AS word, i,
             len(list_filter(coalesce(c.starts, []),
                             s -> i >= s AND i < s + {n})) > 0 AS is_dup
      FROM words wd
      LEFT JOIN covered c USING ({id_col}),
      LATERAL (SELECT unnest(range(0, len(wd.w))) AS i) t
    )
    SELECT {id_col},
           CAST(count(*) AS BIGINT)                         AS n_words,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                                                            AS n_dup_words,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
                 / greatest(count(*), 1)::DOUBLE, 6)        AS dup_frac,
           coalesce(string_agg(word, ' ' ORDER BY i)
                    FILTER (WHERE NOT is_dup), '')          AS clean_text
    FROM pos
    GROUP BY {id_col}
    """
