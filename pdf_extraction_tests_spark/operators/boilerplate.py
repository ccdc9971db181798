"""Corpus-level n-gram boilerplate detection.

The reference strips boilerplate with a hand-curated literal list evaluated
per row (v10.R:612-620 and the per-format band rules) — fine for one journal
family, useless for a web corpus where the boilerplate VOCABULARY itself must
be learned.  The standard web-scale recipe (CleanEval / C4 lineage): an
n-gram that recurs across many distinct documents is boilerplate; a
document's boilerplate fraction is the share of its n-gram positions covered
by that frequent set.

Spark shape (two bounded shuffles, no Python on the hot path):

1. gram emission is scan-side column arithmetic (:func:`word_ngrams`) —
   one ``split`` per row, then ``transform`` over a ``sequence`` of start
   offsets + ``slice``/``array_join`` (NO explode-then-window, NO per-row
   UDF);
2. document frequency is one ``groupBy(gram).agg(countDistinct(doc_id))``
   shuffle with map-side partial aggregation;
3. the frequent set (df >= min_df) is broadcast back onto the exploded
   grams — a corpus min_df grows linearly with corpus size, so the
   frequent-set cardinality is bounded by the corpus's true boilerplate
   vocabulary, not by corpus size;
4. the per-doc fraction is one more groupBy(doc_id) with algebraic
   aggregates (count/sum — map-side combinable).

Guard: ``sequence(0, size-n)`` with ``size < n`` would yield a DESCENDING
range in Spark (sequence(0,-1) == [0,-1]) — short docs are routed to an
empty gram array explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_N = 3
DEFAULT_MIN_DF = 3


def quoted(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def word_ngrams(words: str, n: int) -> Column:
    """Array of the space-joined ``n``-grams of the word array ``words`` (SQL
    text), in start-position order; empty when it holds fewer than ``n``
    words (the sequence-descending guard).  The one gram builder of every
    operator that emits word n-grams.

    ``words`` is bound ONCE, as the variable of an outer one-element
    ``transform``.  A Column defined outside a lambda and referenced inside
    it is inlined into the lambda body and re-evaluated per element, so a
    captured ``split(...)`` would re-split the row once per gram position
    (O(words^2) per row).  The expression is SQL text, parsed JVM-side in
    one call: the Python-API lambdas cost a py4j round trip per node at
    build time.  ``words`` names columns only through :func:`quoted`, and
    ``n`` is ``int()``-coerced."""
    n = int(n)
    return F.expr(
        f"element_at(transform(array({words}), w -> IF(size(w) >= {n}, "
        f"transform(sequence(0, size(w) - {n}), "
        f"i -> array_join(slice(w, i + 1, {n}), ' ')), "
        "CAST(array() AS array<string>))), 1)")


def word_ngrams_col(text_col: str, n: int = DEFAULT_N) -> Column:
    """Word n-grams of column ``text_col``, lowercased and
    whitespace-tokenized."""
    return word_ngrams(f"split(lower({quoted(text_col)}), '\\\\s+')", n)


def frequent_grams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
    min_df: int = DEFAULT_MIN_DF,
) -> DataFrame:
    """The corpus-learned frequent set: (gram, _freq = 1) for every
    ``n``-gram that occurs in >= ``min_df`` distinct documents.  One
    shuffle on ``gram``.  q51, q55 and q59 share it."""
    # df over per-doc DISTINCT grams (round-7): array_distinct forms the
    # doc's gram set scan-side, so the aggregate's exchange carries one
    # row per (doc, gram) instead of one per position.  countDistinct is
    # KEPT (not count(*)) so a frame with duplicated or NULL doc_id rows
    # still matches the oracle's count(DISTINCT doc_id) exactly.
    return (
        docs.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_ngrams_col(text_col, n))
            ).alias("gram"),
        )
        .groupBy("gram")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gram", F.lit(1).alias("_freq"))
    )


def boilerplate_fraction(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
    min_df: int = DEFAULT_MIN_DF,
) -> DataFrame:
    """Per-document boilerplate stats against the corpus-learned frequent
    n-gram set.

    Returns (id_col, n_grams, n_boiler, boiler_frac): total n-gram
    positions, positions whose gram has document frequency >= min_df, and
    the ratio (0.0 for docs too short to emit a gram — they are NOT
    dropped).
    """
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams_col(text_col, n)).alias("gram")
    )
    flagged = grams.join(
        F.broadcast(frequent_grams(docs, id_col, text_col, n, min_df)),
        "gram", "left")
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.coalesce(F.sum("_freq"), F.lit(0)).cast("bigint").alias("n_boiler"),
    )
    # short docs emit zero grams and vanish from the groupBy — restore them
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
            F.round(
                F.when(
                    F.coalesce("n_grams", F.lit(0)) > 0,
                    F.coalesce("n_boiler", F.lit(0))
                    / F.coalesce("n_grams", F.lit(0)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("boiler_frac"),
        )
    )


def boilerplate_fraction_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
    min_df: int = DEFAULT_MIN_DF,
) -> str:
    """DuckDB oracle for :func:`boilerplate_fraction` (same gram
    definition: 1-based list slice ``w[i:i+n-1]``; LATERAL range instead of
    WITH ORDINALITY per the DuckDB-1.0 quirks list)."""
    return f"""
    WITH words AS (
      SELECT {id_col}, regexp_split_to_array(lower({text_col}), '\\s+') AS w
      FROM {table}
    ),
    grams AS (
      SELECT {id_col}, array_to_string(w[i:i+{n - 1}], ' ') AS gram
      FROM words, LATERAL (SELECT unnest(range(1, len(w) - {n - 2})) AS i) t
      WHERE len(w) >= {n}
    ),
    freq AS (
      SELECT gram FROM (
        SELECT gram, count(DISTINCT {id_col}) AS df FROM grams GROUP BY gram
      ) WHERE df >= {min_df}
    ),
    per_doc AS (
      SELECT g.{id_col},
             count(*) AS n_grams,
             count(f.gram) AS n_boiler
      FROM grams g LEFT JOIN freq f USING (gram)
      GROUP BY g.{id_col}
    )
    SELECT d.{id_col},
           CAST(coalesce(p.n_grams, 0) AS BIGINT)  AS n_grams,
           CAST(coalesce(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           round(CASE WHEN coalesce(p.n_grams, 0) > 0
                      THEN coalesce(p.n_boiler, 0)::DOUBLE / p.n_grams
                      ELSE 0.0 END, 6)             AS boiler_frac
    FROM {table} d LEFT JOIN per_doc p USING ({id_col})
    """
