"""Similarity search over an embedding column (array<float>).

Two paths:
* brute-force cosine top-k — the exact baseline, one scan + one top-k;
* LSH-bucketed ANN — random-hyperplane sign signatures computed scan-side
  as column expressions over literal planes; queries probe only matching
  buckets.  This is the 100 TB path: bucket cardinality ~n/2^bits, so the
  candidate join touches a vanishing fraction of the corpus.

Cosine math and the sign-LSH bucket stay JVM-side (zip_with/aggregate in
double precision), so both are exactly reproducible in DuckDB.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def dot(va, vb):
    """The one cosine dot product: a sequential left-to-right double fold.
    Every cosine operator (q26, q27, q40, q61) and the sign-LSH bucket use
    it."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(vc):
    """The one vector norm: ``sqrt`` of the same sequential fold.  It is a
    deterministic function of one vector, so computing it once per row in
    a projection is bit-identical to computing it per pair."""
    return F.sqrt(
        F.aggregate(
            F.transform(vc, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _rank(cand: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Top-k of ``cand`` by cosine of ``vec_col`` to its ``_q`` column."""
    q = F.col("_q")
    sim = dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * norm(q))
    return (
        cand.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk(emb: DataFrame, query: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity to ``query``, a 1-row frame whose
    one column is the query vector.

    The query row is cross-joined in by broadcast; one scan of ``emb``,
    one TakeOrdered — no shuffle of vectors.  ``dot`` and ``norm`` cast to
    double, so a float vector ranks bit-identically to its double
    literal."""
    return _rank(emb.crossJoin(F.broadcast(query.toDF("_q"))),
                 k, id_col, vec_col)


def hyperplanes(dim: int, bits: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic random-hyperplane matrix (bits x dim)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).astype(np.float64)


def lsh_bucket_expr(planes: np.ndarray, vec_col: str = "embedding"):
    """Sign-LSH bucket as a PURE column expression: bit b = 1 iff
    dot(v, plane_b) > 0, packed little-endian.

    JVM-side (whole-stage codegen) and exactly reproducible in DuckDB via
    ``list_dot_product`` with the same literal planes; q28 buckets with 4
    bits and q40 with 3.  It costs ``bits`` fused dot products per row and
    keeps the whole plan SQL-expressible."""
    bucket = F.lit(0)
    for b, plane in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(
            dot(F.col(vec_col), lit) > 0, F.lit(1 << b)
        ).otherwise(F.lit(0))
    return bucket


def _plane_sql_literal(plane: np.ndarray) -> str:
    """One hyperplane as a DuckDB DOUBLE[] literal (repr round-trips f64)."""
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def lsh_bucket_sql(planes: np.ndarray, vec_expr: str = "e") -> str:
    """DuckDB expression computing the same bucket as :func:`lsh_bucket_expr`
    over a DOUBLE[] column/expression ``vec_expr``."""
    terms = [
        f"(CASE WHEN list_dot_product({vec_expr}, {_plane_sql_literal(p)}) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    ]
    return " + ".join(terms)


def ann_topk_expr(emb: DataFrame, query: DataFrame, planes: np.ndarray,
                  k: int = 10, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """ANN top-k (q28): probe only the bucket of ``query`` (a 1-row frame
    whose one column is the query vector), exact-rank inside it.

    Recall < 1 by construction (single-probe); raise recall with fewer
    planes or multi-probe.  The query's bucket and every row's bucket are
    the same :func:`lsh_bucket_expr` over ``planes``; the vector and its
    bucket travel in one 1-row broadcast frame, so the whole plan (bucket
    -> probe join -> exact rank) is SQL-expressible.  At scale, ``bucket``
    becomes the table's partition column so a probe is a partition-pruned
    scan."""
    q = query.toDF("_q").withColumn("_qb", lsh_bucket_expr(planes, "_q"))
    bucketed = emb.withColumn("bucket", lsh_bucket_expr(planes, vec_col))
    cand = bucketed.join(F.broadcast(q), F.col("bucket") == F.col("_qb"))
    return _rank(cand, k, id_col, vec_col)


def ann_topk_sql(planes: np.ndarray, k: int = 10, query_id: int = 0,
                 table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`ann_topk_expr` (query vector = row
    ``query_id``'s embedding, same literal planes)."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM {table}),
    q AS (SELECT e AS qe, {lsh_bucket_sql(planes, 'e')} AS qbucket
          FROM v WHERE vec_id = {query_id}),
    b AS (SELECT vec_id, e, {lsh_bucket_sql(planes, 'e')} AS bucket FROM v)
    SELECT vec_id,
           round(list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))),
                 6) AS cosine
    FROM b, q
    WHERE b.bucket = q.qbucket
    ORDER BY cosine DESC, vec_id
    LIMIT {k}
    """
