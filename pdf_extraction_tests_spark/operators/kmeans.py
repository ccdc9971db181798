"""Distributed k-means over an embedding column (SemDeDup's first stage).

Embedding-cluster-then-dedup (SemDeDup, Abbas et al. 2023) and
cluster-balanced corpus mixing both need k-means at corpus scale.  This is
Lloyd's algorithm expressed as a FIXED UNROLLED DataFrame plan:

* init — centroids are the embeddings of the k smallest ids
  (deterministic, no RNG state to reproduce on a cluster);
* assign — centroids broadcast (k x dim doubles), squared-L2 via the
  dot-product identity |a|^2 + |b|^2 - 2 a.b, every term the sequential
  fold of :func:`.similarity.dot` (same left-to-right double accumulation
  DuckDB's ``list_dot_product`` performs, so the oracle replays distances
  bit-for-bit); |a|^2 is projected once per row and |b|^2 once per
  centroid; argmin = ``min(struct(dist, cluster))`` — an algebraic
  aggregate with a deterministic cluster tiebreak;
* update — ``posexplode`` to (cluster, dim, value), one groupBy with
  map-side-combinable avg (state: k x dim counters per task, independent
  of corpus size), reassembled in dim order.  Updated centroids are
  ROUNDED to 9 dp: distributed summation order is not deterministic, and
  rounding quenches the ~1e-15 drift before it can flip a borderline
  assignment (the standard determinism trick, same reasoning as the
  engine-wide 6 dp output rounding).

The iteration count is a small fixed constant (the 100 TB shape: each
iteration is one scan + one bounded shuffle; convergence-checked loops
need a driver-side reduction per step and are deliberately avoided —
SemDeDup uses a handful of iterations on normalized embeddings).

The reference's only clustering is the 1-D k-means(2) column-split
heuristic (v10.R:551, kernel A6); this is the embedding-space
generalization the training-data suite needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .similarity import dot, norm

DEFAULT_K = 8
DEFAULT_ITERS = 2
_CENTROID_DP = 9          # quenches order-of-summation drift in the mean


def kmeans_assign(
    emb: DataFrame,
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every row to one of ``k`` clusters after ``iters`` Lloyd
    iterations.  Returns (id_col, cluster:int, dist: squared L2 to the
    final centroid, rounded 6 dp).  Deterministic and partition-invariant.
    """
    v = F.col(vec_col).cast("array<double>")
    vecs = emb.select(F.col(id_col), v.alias("v"), dot(v, v).alias("_sq"))
    # k rows — the single-partition window is bounded by the parameter
    centroids = (
        vecs.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(W.orderBy(id_col)) - 1).alias("cluster"),
            F.col("v").alias("cvec"),
        )
    )

    def assign(cent: DataFrame) -> DataFrame:
        cent = cent.select("cluster", "cvec", dot("cvec", "cvec").alias("_csq"))
        d = F.col("_sq") + F.col("_csq") - 2 * dot("v", "cvec")
        return (
            vecs.crossJoin(F.broadcast(cent))
            .groupBy(id_col)
            .agg(F.min(F.struct(d.alias("d"), F.col("cluster"))).alias("m"))
            .select(
                id_col,
                F.col("m.cluster").alias("cluster"),
                F.col("m.d").alias("dist"),
            )
        )

    for _ in range(iters):
        assigned = assign(centroids).join(vecs, id_col)
        centroids = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("dim"), F.col("mu")))
                    ),
                    lambda s: F.round(s["mu"], _CENTROID_DP),
                ).alias("cvec")
            )
        )

    final = assign(centroids)
    return final.select(
        id_col,
        F.col("cluster").cast("int").alias("cluster"),
        F.round("dist", 6).alias("dist"),
    )


def kmeans_assign_sql(
    table: str = "embeddings",
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`kmeans_assign`: the same unrolled
    iterations as CTEs; distances via ``list_dot_product`` on DOUBLE[]
    (sequential accumulation, identical to the Spark ``aggregate``)."""

    def sqd(a: str, b: str) -> str:
        return (f"(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
                f" - 2 * list_dot_product({a}, {b}))")

    ctes = [f"""
    vecs AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
    ),
    cent0 AS (
      SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cluster, v AS cvec
      FROM (SELECT {id_col}, v FROM vecs ORDER BY {id_col} LIMIT {k})
    )"""]
    prev = "cent0"
    for i in range(iters):
        ctes.append(f"""
    asg{i} AS (
      SELECT {id_col}, cluster, d FROM (
        SELECT e.{id_col}, c.cluster, {sqd('e.v', 'c.cvec')} AS d,
               row_number() OVER (PARTITION BY e.{id_col}
                                  ORDER BY {sqd('e.v', 'c.cvec')}, c.cluster)
                 AS rn
        FROM vecs e, {prev} c
      ) WHERE rn = 1
    ),
    cent{i + 1} AS (
      SELECT cluster,
             list(round(mu, {_CENTROID_DP}) ORDER BY dim) AS cvec
      FROM (
        SELECT cluster, dim, avg(x) AS mu
        FROM (
          -- unnest + generate_subscripts (no WITH ORDINALITY in DuckDB 1.0)
          SELECT a.cluster,
                 generate_subscripts(e.v, 1) - 1 AS dim,
                 unnest(e.v) AS x
          FROM asg{i} a JOIN vecs e USING ({id_col})
        )
        GROUP BY cluster, dim
      )
      GROUP BY cluster
    )""")
        prev = f"cent{i + 1}"

    return f"""
    WITH {','.join(ctes)}
    SELECT {id_col}, CAST(cluster AS INT) AS cluster, round(d, 6) AS dist
    FROM (
      SELECT e.{id_col}, c.cluster, {sqd('e.v', 'c.cvec')} AS d,
             row_number() OVER (PARTITION BY e.{id_col}
                                ORDER BY {sqd('e.v', 'c.cvec')}, c.cluster)
               AS rn
      FROM vecs e, {prev} c
    ) WHERE rn = 1
    """


def semantic_near_dups(
    emb: DataFrame,
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup stage 2: cosine near-dup pairs WITHIN each k-means cluster.

    The whole point of clustering first (Abbas et al. 2023): the pairwise
    compare runs inside clusters only, so the quadratic term is
    (n/k)^2 * k — at corpus scale k grows with the corpus (SemDeDup uses
    ~100k clusters for billions of embeddings), keeping per-cluster
    populations bounded, while the join below stays an equi-join on
    ``cluster`` (co-partitioned shuffle, never an all-pairs cross join —
    contrast the labeled q26 baseline).

    Returns (id_a, id_b, cluster, cosine rounded 6 dp), id_a < id_b.
    """
    asg = kmeans_assign(emb, k, iters, id_col, vec_col).select(
        id_col, "cluster"
    )
    vecs = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).join(asg, id_col)
    # per-vector norms computed once in the a/b projections, not per pair
    a = vecs.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), "cluster",
        norm("v").alias("_na"),
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "cluster",
        norm("v").alias("_nb"),
    )
    cos = dot("va", "vb") / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cluster", F.round("cosine", 6).alias("cosine"))
    )


def semantic_near_dups_sql(
    table: str = "embeddings",
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`semantic_near_dups` (k-means CTE reused
    verbatim from :func:`kmeans_assign_sql`; identical cosine arithmetic)."""
    km = kmeans_assign_sql(table, k, iters, id_col, vec_col)
    cos = ("list_dot_product(a.v, b.v)"
           " / (sqrt(list_dot_product(a.v, a.v))"
           " * sqrt(list_dot_product(b.v, b.v)))")
    return f"""
    WITH km AS ({km}),
    vecs AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table})
    SELECT id_a, id_b, CAST(cluster AS INT) AS cluster,
           round(cosine, 6) AS cosine
    FROM (
      SELECT ka.{id_col} AS id_a, kb.{id_col} AS id_b, ka.cluster,
             {cos} AS cosine
      FROM km ka
      JOIN km kb ON ka.cluster = kb.cluster AND ka.{id_col} < kb.{id_col}
      JOIN vecs a ON a.{id_col} = ka.{id_col}
      JOIN vecs b ON b.{id_col} = kb.{id_col}
    )
    WHERE cosine >= {threshold}
    """
