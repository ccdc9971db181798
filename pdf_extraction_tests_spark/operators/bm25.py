"""BM25 keyword scoring with a scale-safe per-term top-k.

Gives the corpus a ranked-retrieval surface (the reference greps literal
markers per row, v10.R:612-620; a web-scale corpus needs scored retrieval
for holdout mining and quality probes).  Okapi BM25 with the standard
(k1, b) shape and the +1-smoothed idf (Robertson/Sparck-Jones as used by
Lucene): ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``.

Spark shape:

* tf/dl are scan-side array arithmetic — ``size(filter(words, w == term))``
  — no explode of the corpus, no Python;
* corpus stats (N, avgdl) and per-term df are tiny aggregates, broadcast
  back via crossJoin(broadcast(...)) — never a driver collect;
* the per-term top-k is ``skew.two_phase_topk``: a salted (term, salt)
  window prunes before the per-term rank.  A single window partitioned by
  term would funnel every scoring document of a hot term through one
  task — the classic skew cliff at corpus scale.

Determinism: ranking ties break on ascending doc id in both phases, so the
result is independent of partitioning and matches the DuckDB oracle rank
for rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .skew import two_phase_topk

K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-``k`` documents per query term by BM25 score.

    Returns (term, rank, id_col, tf, dl, score) with score rounded to 4 dp
    for cross-engine hash stability (ln may differ in the last ulp between
    libm implementations; orderings are computed on the unrounded double,
    which only matters for exactly-equal inputs — covered by the id
    tiebreak).
    """
    words = docs.select(
        F.col(id_col), F.split(F.lower(text_col), r"\s+").alias("w")
    ).withColumn("dl", F.size("w"))

    stats = words.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    term_arr = F.array(*[F.lit(t) for t in terms])
    scored = (
        words.select(id_col, "w", "dl", F.explode(term_arr).alias("term"))
        .withColumn(
            "tf", F.size(F.filter("w", lambda x: x == F.col("term")))
        )
        .filter(F.col("tf") > 0)
        .drop("w")
    )
    return _rank_scored(scored, stats, k, id_col, k1, b)


def _rank_scored(
    scored: DataFrame,
    stats: DataFrame,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """BM25 scoring + salted two-phase top-k over a
    (term, id_col, tf, dl) posting frame and a 1-row (n_docs, avgdl)
    stats frame."""
    df_per_term = scored.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df")
    )

    enriched = (
        scored.join(F.broadcast(df_per_term), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )

    ranked = two_phase_topk(enriched, "term",
                            [F.desc("score"), F.asc(id_col)],
                            F.col(id_col), k)
    return ranked.select(
        "term",
        "rank",
        id_col,
        F.col("tf").cast("bigint").alias("tf"),
        F.col("dl").cast("bigint").alias("dl"),
        F.round("score", 4).alias("score"),
    )


def bm25_topk_sql(
    terms: list[str],
    k: int = 5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB oracle for :func:`bm25_topk` (identical arithmetic; the
    engine-side two-phase pruning is a physical detail the oracle does not
    need)."""
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
    WITH words AS (
      SELECT {id_col},
             regexp_split_to_array(lower({text_col}), '\\s+') AS w
      FROM {table}
    ),
    wl AS (SELECT {id_col}, w, len(w) AS dl FROM words),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM wl),
    scored AS (
      SELECT t.term, wl.{id_col},
             len(list_filter(wl.w, x -> x = t.term)) AS tf,
             wl.dl
      FROM wl, (VALUES {values}) t(term)
      WHERE len(list_filter(wl.w, x -> x = t.term)) > 0
    ),
    dfs AS (SELECT term, count(*) AS df FROM scored GROUP BY term),
    enriched AS (
      SELECT s.term, s.{id_col}, s.tf, s.dl,
             ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (s.tf * ({k1} + 1))
               / (s.tf + {k1} * (1 - {b} + {b} * s.dl / st.avgdl)) AS score
      FROM scored s JOIN dfs d USING (term), stats st
    ),
    ranked AS (
      SELECT term, {id_col}, tf, dl, score,
             row_number() OVER (PARTITION BY term
                                ORDER BY score DESC, {id_col} ASC) AS rank
      FROM enriched
    )
    SELECT term, CAST(rank AS INT) AS rank, {id_col},
           CAST(tf AS BIGINT) AS tf, CAST(dl AS BIGINT) AS dl,
           round(score, 4) AS score
    FROM ranked WHERE rank <= {k}
    """
