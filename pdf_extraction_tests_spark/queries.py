"""Named queries + DuckDB oracle SQL — the driver-harness surface.

One named query per SQL-expressible operator row of SURVEY.md §2, each in two
equivalent forms: an idiomatic PySpark DataFrame plan (Catalyst-optimized) and
an ANSI-SQL string DuckDB runs on the same parquet files.  Column names/types
are aligned on both sides because the driver hash-compares values per column.

Conventions:
* every computed column is aliased identically in both forms;
* doubles are rounded (4-6 dp) before comparison;
* timestamps are cast to strings/dates (Spark TZ pinned to UTC);
* deterministic tie-breaks on every top-k / argmax.

Cross-engine 48-bit hash (used by dedup/minhash/fingerprint queries):
  Spark : cast(conv(substr(md5(s), 1, 12), 16, 10) as bigint)
  DuckDB: ('0x' || substr(md5(s), 1, 12))::BIGINT
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None => no DuckDB oracle (rows-only check)


REGISTRY: list[QuerySpec] = []


def query(name: str, sql: str | None):
    def deco(fn):
        REGISTRY.append(QuerySpec(name, fn, sql))
        return fn
    return deco


# ---------------------------------------------------------------------------
# §2.4 A1-A3 aggregations / TPC-H-style core
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1-style pricing summary (agg A1-A3 capability; map-side
    partial aggregation + scan-pushed date filter)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount >= 0.05
    """,
)
def q02(spark, sf_dir):
    """Projection + conjunctive filter (P1/P5); both predicates reach the
    parquet scan as PushedFilters, only 4 columns read."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") >= 0.05)).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
    )


@query(
    "q03_revenue_by_nation",
    """
    SELECT n_name, r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(DISTINCT o_orderkey)                        AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def q03(spark, sf_dir):
    """Multi-join star query; dims are broadcast (no shuffle for the small
    sides — the plan a 100-TB fact table needs).

    Round-7 shape: lineitem pre-aggregates revenue per order BEFORE the
    join (guide §2.3 "aggregate before you shuffle").  The joins then probe
    with one row per order instead of one per line item (4x fewer rows at
    TPC-H ratios), and because o_orderkey is unique after the pre-agg the
    countDistinct — and its extra dedup aggregation phase over the joined
    fact — becomes a plain count.  Same-session A/B at sf0.1: 1.27 s ->
    0.71 s, result rows identical (values compared exactly, including the
    2-dp rounding; the re-associated double sum is the same partial-sum
    nondeterminism class every distributed sum already has)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum("_rev"), 2).alias("revenue"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "q04_semi_join",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q04(spark, sf_dir):
    """left_semi join (EXISTS) with the correlated condition inside the
    join predicate — one shuffle per side (the two-pass
    join+distinct+join-back shape costs a second shuffle of orders)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q05_anti_join",
    """
    SELECT c_mktsegment, count(*) AS n_customers_without_big_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    GROUP BY c_mktsegment
    """,
)
def q05(spark, sf_dir):
    """left_anti join (NOT EXISTS); the filter on the right side is pushed
    below the join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_without_big_orders"))
    )


# ---------------------------------------------------------------------------
# §2.5 window functions
# ---------------------------------------------------------------------------


@query(
    "q06_topk_per_group",
    """
    SELECT c_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def q06(spark, sf_dir):
    """W6 top-k per group: row_number window, deterministic tiebreak."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
        )
    )


@query(
    "q07_running_sum",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 4) AS running_value
    FROM events
    """,
)
def q07(spark, sf_dir):
    """W1-style ordered accumulation per key."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 4).alias("running_value")
    )


@query(
    "q08_lag_gap",
    """
    SELECT user_id, round(max(gap), 4) AS max_gap
    FROM (SELECT user_id,
                 value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS gap
          FROM events) t
    WHERE gap IS NOT NULL
    GROUP BY user_id
    """,
)
def q08(spark, sf_dir):
    """A8/W3 neighbor-gap analysis (the reference's column-boundary method,
    v10.R:569-583, as lag + max)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("gap", F.col("value") - F.lag("value").over(w))
        .filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(F.round(F.max("gap"), 4).alias("max_gap"))
    )


@query(
    "q09_boundary_scan",
    """
    WITH ranked AS (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    bounds AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN rn END) AS start_rn,
             min(CASE WHEN event_type = 'error'  THEN rn END) AS end_rn
      FROM ranked GROUP BY user_id)
    SELECT r.user_id, count(*) AS n_between
    FROM ranked r JOIN bounds b ON r.user_id = b.user_id
    WHERE b.start_rn IS NOT NULL AND b.end_rn IS NOT NULL
      AND r.rn >= b.start_rn AND r.rn < b.end_rn
    GROUP BY r.user_id
    """,
)
def q09(spark, sf_dir):
    """W5 conditional-window boundary extraction — the reference's
    intro..references slice (v10.R:1691-1776) expressed relationally:
    min(when(flag, rn)) over partition, then filter rn between bounds."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wp = W.partitionBy("user_id")
    ranked = e.withColumn("rn", F.row_number().over(w))
    bounded = ranked.withColumn(
        "start_rn", F.min(F.when(F.col("event_type") == "signup", F.col("rn"))).over(wp)
    ).withColumn(
        "end_rn", F.min(F.when(F.col("event_type") == "error", F.col("rn"))).over(wp)
    )
    return (
        bounded.filter(
            F.col("start_rn").isNotNull()
            & F.col("end_rn").isNotNull()
            & (F.col("rn") >= F.col("start_rn"))
            & (F.col("rn") < F.col("end_rn"))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_between"))
    )


# ---------------------------------------------------------------------------
# §2.4 A1 ordered group-concat, A5 argmax, A7 quantile, A10 dedup
# ---------------------------------------------------------------------------


@query(
    "q10_group_concat",
    """
    SELECT p_brand, string_agg(p_name, ' ' ORDER BY p_partkey) AS names
    FROM part GROUP BY p_brand
    """,
)
def q10(spark, sf_dir):
    """A1 THE core reference op: ordered string aggregation
    (pull(text) %>% paste(collapse), v10.R:1788-1791) — collect_list of
    (key, value) structs, array_sort, project, join.  Order is explicit in
    the plan, not an accident of partitioning."""
    p = load(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p_partkey", "p_name"))),
                lambda s: s["p_name"],
            ),
            " ",
        ).alias("names")
    )


@query(
    "q11_argmax",
    """
    SELECT o_custkey, arg_max(o_orderpriority, o_totalprice) AS top_priority,
           round(max(o_totalprice), 2) AS top_price
    FROM orders GROUP BY o_custkey
    """,
)
def q11(spark, sf_dir):
    """A5 argmax-over-score (which.max(format_scores), v10.R:672)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderpriority, o_totalprice)").alias("top_priority"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


@query(
    "q12_quantile",
    """
    SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.3), 4) AS p30
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q12(spark, sf_dir):
    """A7 quantile threshold (quantile(areas, 0.3), v7.R:2238-2240); exact
    interpolated percentile so the DuckDB oracle matches bit-for-bit after
    rounding."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.3)"), 4).alias("p30")
    )


@query(
    "q13_dedup_tokens",
    """
    SELECT doc_id, string_agg(word, ' ' ORDER BY first_pos) AS deduped
    FROM (
      SELECT doc_id, word, min(pos) AS first_pos
      FROM (
        SELECT doc_id, u.word, u.pos
        FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents) a,
             LATERAL (SELECT unnest(arr) AS word,
                             generate_subscripts(arr, 1) AS pos) u) t
      GROUP BY doc_id, word)
    GROUP BY doc_id
    """,
)
def q13(spark, sf_dir):
    """A10 order-preserving distinct (R unique(), v10.R:1808-1814):
    array_distinct keeps first occurrence — matched in DuckDB via
    min(position) re-sort."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(F.array_distinct(F.split("text", " ")), " ").alias("deduped"),
    )


# ---------------------------------------------------------------------------
# §2.2 P8 regex filters, §2.8 scalar/regex functions
# ---------------------------------------------------------------------------


@query(
    "q14_regex_clean",
    """
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')
             AS cleaned,
           length(text) - length(replace(text, ' ', '')) + 1 AS n_words
    FROM documents WHERE doc_id < 200
    """,
)
def q14(spark, sf_dir):
    """§2.8 cleaning pipelines as native column expressions
    (clean_text_for_llm_aggressive, v10.R:3431-3442): chained
    regexp_replace, zero UDFs."""
    d = load(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "[0-9]+", "#"), r"\s+", " "
        ).alias("cleaned"),
        (
            F.length("text") - F.length(F.regexp_replace(F.col("text"), " ", "")) + 1
        ).alias("n_words"),
    )


@query(
    "q15_boilerplate_filter",
    """
    SELECT source, count(*) AS n_kept
    FROM documents
    WHERE NOT regexp_matches(lower(text), 'copyright|correspondence|all rights reserved')
      AND length(trim(text)) > 0
    GROUP BY source
    """,
)
def q15(spark, sf_dir):
    """P1 + P8: non-empty-text filter + negative-regex boilerplate strip
    (v10.R:173, 1661-1685)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(
            ~F.lower(F.col("text")).rlike("copyright|correspondence|all rights reserved")
            & (F.length(F.trim(F.col("text"))) > 0)
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )


@query(
    "q16_weighted_classifier",
    """
    SELECT doc_id,
      CASE WHEN s_spark >= s_sql AND s_spark >= 2 THEN 'sparky'
           WHEN s_sql > s_spark AND s_sql >= 2 THEN 'tabular'
           ELSE 'generic' END AS category
    FROM (
      SELECT doc_id,
        2 * (CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END)
          + (CASE WHEN text LIKE '%stream%' THEN 1 ELSE 0 END)
          + (CASE WHEN text LIKE '%vector%' THEN 1 ELSE 0 END)   AS s_spark,
        2 * (CASE WHEN text LIKE '%table%' THEN 1 ELSE 0 END)
          + (CASE WHEN text LIKE '%row%' THEN 1 ELSE 0 END)
          + (CASE WHEN text LIKE '%column%' THEN 1 ELSE 0 END)   AS s_sql
      FROM documents) t
    """,
)
def q16(spark, sf_dir):
    """A5/U6 weighted-rule classifier (format scores, v10.R:623-672):
    additive regex-hit weights then argmax — pure column expressions."""
    d = load(spark, sf_dir, "documents")
    s_spark = (
        2 * F.col("text").contains("spark").cast("int")
        + F.col("text").contains("stream").cast("int")
        + F.col("text").contains("vector").cast("int")
    )
    s_sql = (
        2 * F.col("text").contains("table").cast("int")
        + F.col("text").contains("row").cast("int")
        + F.col("text").contains("column").cast("int")
    )
    return d.select(
        "doc_id",
        F.when((s_spark >= s_sql) & (s_spark >= 2), "sparky")
        .when((s_sql > s_spark) & (s_sql >= 2), "tabular")
        .otherwise("generic")
        .alias("category"),
    )


# ---------------------------------------------------------------------------
# §2.3 J2 band join, §2.7 set ops, misc relational
# ---------------------------------------------------------------------------


@query(
    "q17_band_join",
    """
    SELECT b.band, count(*) AS n, round(sum(e.value), 2) AS total
    FROM events e
    JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1e9))
         AS b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def q17(spark, sf_dir):
    """J2 interval/band join — the reference's y-band segment assignment
    (v10.R:246-255) as a broadcast range join against a band-spec table."""
    e = load(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "q18_union_distinct",
    """
    SELECT side, count(*) AS n FROM (
      SELECT DISTINCT 'cust' AS side, c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT DISTINCT 'supp' AS side, s_nationkey AS nationkey FROM supplier
    ) t GROUP BY side
    """,
)
def q18(spark, sf_dir):
    """J1 vertical union (bind_rows, v10.R:195) + distinct."""
    c = load(spark, sf_dir, "customer").select(
        F.lit("cust").alias("side"), F.col("c_nationkey").alias("nationkey")
    ).distinct()
    s = load(spark, sf_dir, "supplier").select(
        F.lit("supp").alias("side"), F.col("s_nationkey").alias("nationkey")
    ).distinct()
    return c.unionByName(s).groupBy("side").agg(F.count("*").alias("n"))


@query(
    "q19_rollup",
    """
    SELECT coalesce(r_name, '(all)') AS r_name,
           coalesce(n_name, '(all)') AS n_name,
           count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q19(spark, sf_dir):
    """Hierarchical rollup (driver-harness capability row, SURVEY §2.4)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("r_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            "n_customers",
        )
    )


@query(
    "q20_histogram",
    """
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q20(spark, sf_dir):
    """A4 element-type histogram (v10.R:55-63)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

from .operators import dedup as D  # noqa: E402
from .operators import text_analysis as TA  # noqa: E402


@query(
    "q21_dedup_exact",
    """
    SELECT digest, keep_id, n_copies FROM (
      SELECT md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS digest,
             min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1) t
    WHERE n_copies > 1
    """,
)
def q21(spark, sf_dir):
    """Exact/prefix dedup: hash-groupBy on a content digest, keep min id.
    Keyed on the 5-word prefix (URL/prefix-dedup style) so the synthetic
    corpus actually yields duplicate groups; full-text exact dedup is the
    same plan with digest = md5(text)."""
    d = load(spark, sf_dir, "documents").withColumn(
        "prefix_text", F.array_join(F.slice(F.split("text", " "), 1, 5), " ")
    )
    return D.exact_dedup(d, text_col="prefix_text")


_MINHASH_K, _SHINGLE_N = 6, 3


@query("q22_minhash_signatures", D.minhash_sql(_MINHASH_K, _SHINGLE_N))
def q22(spark, sf_dir):
    """MinHash signatures (k=6, word-3-gram shingles), scan-side mins —
    the signature computation never shuffles raw text."""
    return D.minhash_signatures(load(spark, sf_dir, "documents"), _MINHASH_K, _SHINGLE_N)


@query(
    "q23_lsh_candidates",
    f"""
    WITH sig AS ({D.minhash_sql(_MINHASH_K, _SHINGLE_N)}),
    bands AS (
      SELECT doc_id, 0 AS band, h0 || '_' || h1 AS bh FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 || '_' || h3 AS bh FROM sig
      UNION ALL
      SELECT doc_id, 2 AS band, h4 || '_' || h5 AS bh FROM sig)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
)
def q23(spark, sf_dir):
    """MinHash-LSH near-dup candidates: band the signatures, pair the ids
    of each (band, band_key) bucket (``dedup.bucket_pairs``) — the standard
    web-scale shingle->minhash->band->bucket scheme; candidate pairs only,
    verified by q24."""
    sig = D.minhash_signatures(load(spark, sf_dir, "documents"), _MINHASH_K, _SHINGLE_N)
    return D.lsh_candidate_pairs(sig, bands=3, rows_per_band=2)


@query(
    "q24_ngram_jaccard",
    f"""
    WITH sh AS (
      {D.shingles_sql(_SHINGLE_N)}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (SELECT doc_id, shingle FROM sh
             WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                               HAVING count(*) <= 50)),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    """,
)
def q24(spark, sf_dir):
    """Exact n-gram Jaccard >= 0.8 near-dup pairs with stop-shingle removal
    (df <= 50) bounding the per-shingle pair count."""
    return D.ngram_jaccard_pairs(load(spark, sf_dir, "documents"),
                                 n=_SHINGLE_N, threshold=0.8, max_df=50)


@query("q25_simhash", D.simhash_sql(16))
def q25(spark, sf_dir):
    """16-bit SimHash per doc: bit-majority of token hashes, one scan-side
    expression chain, zero shuffles."""
    return D.simhash(load(spark, sf_dir, "documents"), bits=16)


@query(
    "q26_embedding_near_dups",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cosine
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) a
    JOIN (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) b
      ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4
    """,
)
def q26(spark, sf_dir):
    """Embedding cosine near-duplicate pairs (brute-force baseline; the
    sign-LSH bucketed scale path is q40,
    ``dedup.embedding_near_dups_bucketed``).  Threshold 0.4 is calibrated
    to the synthetic random embeddings (0.95 on real data)."""
    return D.embedding_near_dups(load(spark, sf_dir, "embeddings"), threshold=0.4)


@query(
    "q27_cosine_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(list_dot_product(e, qe)
           / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cosine
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) v, q
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def q27(spark, sf_dir):
    """Brute-force cosine top-k similarity search against a query vector
    (vec_id=0's embedding, a 1-row frame broadcast into the plan), exact
    baseline for ANN."""
    from .operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _query_vec(emb), k=10)


def _query_vec(emb: DataFrame) -> DataFrame:
    """q27/q28's 1-row query frame: vec_id 0's embedding."""
    return emb.filter(F.col("vec_id") == 0).select("embedding")


from .operators import similarity as SIM  # noqa: E402

_EMB_DIM = 64
_ANN_PLANES = SIM.hyperplanes(_EMB_DIM, 4)


@query("q28_ann_lsh_topk", SIM.ann_topk_sql(_ANN_PLANES, k=10))
def q28(spark, sf_dir):
    """ANN: sign-LSH bucketed top-k (single-probe), expression-form bucket
    — per-bit sign(v . plane_b) as zip_with/aggregate with literal planes,
    so the whole plan (bucket -> probe join -> exact rank) has an exact
    DuckDB oracle.  The plan and the oracle share ``_ANN_PLANES``.
    Recall vs brute force is asserted in tests/test_operators.py."""
    from .operators.similarity import ann_topk_expr

    emb = load(spark, sf_dir, "embeddings")
    return ann_topk_expr(emb, _query_vec(emb), _ANN_PLANES, k=10)


@query("q29_language_guess", TA.language_guess_sql())
def q29(spark, sf_dir):
    """Language-ID: char-trigram profile scores (Cavnar-Trenkle shape,
    profiles learned from frozen seed prose) -> argmax with priority
    tie-break — same classifier shape as the reference's format detector."""
    return with_lang(load(spark, sf_dir, "documents"))


def with_lang(d):
    return TA.with_language_guess(d).select("doc_id", "lang_guess")


@query("q30_quality_score", TA.quality_score_sql())
def q30(spark, sf_dir):
    """Pre-training quality filters (C4/Gopher-style) as one codegen'd
    expression: length band + stopword ratio + alpha ratio + word length."""
    return TA.with_quality_score(load(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )


@query("q31_token_counts", TA.token_counts_sql())
def q31(spark, sf_dir):
    """Whitespace + BPE-ish subword token counting."""
    return TA.with_token_counts(load(spark, sf_dir, "documents")).select(
        "doc_id", "ws_tokens", "subword_pieces"
    )


@query(
    "q32_fingerprint",
    """
    SELECT doc_id,
           ('0x' || substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 12))::BIGINT
             AS fingerprint
    FROM documents
    """,
)
def q32(spark, sf_dir):
    """48-bit content fingerprint of normalized text."""
    return TA.with_fingerprint(load(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


from .operators.multimodal import media_features_sql as _media_sql  # noqa: E402


@query("q33_media_features", _media_sql(limit=96))
def q33(spark, sf_dir):
    """Multimodal plumbing: opaque binary media -> per-item features via
    batched mapInPandas.  The media table derives deterministically from
    documents (content = UTF-8 bytes of text), so n_bytes / content_digest
    / media_type / decode_ok are hash-checked against DuckDB; only the
    digest-seeded ``feature`` vector (nothing decodes media) is dropped
    from the oracle surface.  Schema/batching/partitioning are the real
    binary pipeline."""
    from .operators.multimodal import extract_media_features, media_from_documents

    media = media_from_documents(load(spark, sf_dir, "documents"), limit=96)
    return extract_media_features(media).drop("feature")


# ---------------------------------------------------------------------------
# extraction-shaped relational queries (reading order / slice over sequences)
# ---------------------------------------------------------------------------


@query(
    "q34_reading_order_words",
    """
    SELECT doc_id, word,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord
    FROM (
      SELECT doc_id, u.word, u.pos
      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
            WHERE doc_id < 100) a,
           LATERAL (SELECT unnest(arr) AS word,
                           generate_subscripts(arr, 1) AS pos) u) t
    WHERE length(word) > 4
    """,
)
def q34(spark, sf_dir):
    """O1/W1/W2: tokenize -> positional order -> filter -> renumber — the
    reading-order + renumber-after-filter pattern (v10.R:176, 1685) over a
    word sequence."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .filter(F.length("word") > 4)
        .withColumn("ord", F.row_number().over(w))
        .select("doc_id", "word", "ord")
    )


@query(
    "q35_boundary_slice",
    """
    WITH words AS (
      SELECT doc_id, u.word, u.pos
      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents) a,
           LATERAL (SELECT unnest(arr) AS word,
                           generate_subscripts(arr, 1) AS pos) u),
    bounds AS (
      SELECT doc_id,
             min(CASE WHEN word = 'spark'  THEN pos END) AS start_pos,
             min(CASE WHEN word = 'window' THEN pos END) AS end_pos
      FROM words GROUP BY doc_id)
    SELECT w.doc_id, count(*) AS n_words_between
    FROM words w JOIN bounds b ON w.doc_id = b.doc_id
    WHERE b.start_pos IS NOT NULL AND b.end_pos IS NOT NULL
      AND b.end_pos > b.start_pos
      AND w.pos > b.start_pos AND w.pos < b.end_pos
    GROUP BY w.doc_id
    """,
)
def q35(spark, sf_dir):
    """W5/O5 slice-range body extraction (slice(start_idx:end_idx),
    v10.R:1788-1790) over word sequences: first marker -> first end marker,
    count the strictly-between tokens."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
    ).withColumn("pos", F.col("pos0") + 1)
    wp = W.partitionBy("doc_id")
    bounded = words.withColumn(
        "start_pos", F.min(F.when(F.col("word") == "spark", F.col("pos"))).over(wp)
    ).withColumn(
        "end_pos", F.min(F.when(F.col("word") == "window", F.col("pos"))).over(wp)
    )
    return (
        bounded.filter(
            F.col("start_pos").isNotNull()
            & F.col("end_pos").isNotNull()
            & (F.col("end_pos") > F.col("start_pos"))
            & (F.col("pos") > F.col("start_pos"))
            & (F.col("pos") < F.col("end_pos"))
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words_between"))
    )


@query(
    "q36_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps)
    SELECT user_id, count(DISTINCT session_id) AS n_sessions,
           count(*) AS n_events
    FROM sess GROUP BY user_id
    """,
)
def q36(spark, sf_dir):
    """Sessionization: lag-gap > 30 min starts a session, running sum labels
    it — the lag + conditional + cumulative-window composite."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gaps = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn("session_id", F.sum("new_session").over(wrun))
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "q37_intersect_except",
    """
    SELECT 'both' AS side, count(*) AS n FROM (
      SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'cust_only' AS side, count(*) AS n FROM (
      SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def q37(spark, sf_dir):
    """§2.7 set operations: intersect + except (distinct semantics)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    both = c.intersect(s).agg(F.count("*").alias("n")).select(
        F.lit("both").alias("side"), "n"
    )
    only = c.subtract(s).agg(F.count("*").alias("n")).select(
        F.lit("cust_only").alias("side"), "n"  # subtract = set EXCEPT
    )
    return both.unionByName(only)


@query(
    "q39_dedup_clusters",
    f"""
    WITH RECURSIVE sig AS ({D.minhash_sql(_MINHASH_K, _SHINGLE_N)}),
    bands AS (
      SELECT doc_id, 0 AS band, h0 || '_' || h1 AS bh FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 || '_' || h3 AS bh FROM sig
      UNION ALL
      SELECT doc_id, 2 AS band, h4 || '_' || h5 AS bh FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, root) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
    SELECT node AS doc_id, min(root) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q39(spark, sf_dir):
    """Dedup clusters: LSH candidate pairs -> connected components ->
    (doc_id, cluster_id=min id of the component).  Oracle: recursive-CTE
    transitive closure in DuckDB (fine at oracle scale); the Spark side is
    one lazy plan of bounded large-star/small-star steps that raises at
    action time rather than return a label short of convergence."""
    sig = D.minhash_signatures(load(spark, sf_dir, "documents"), _MINHASH_K, _SHINGLE_N)
    pairs = D.lsh_candidate_pairs(sig, bands=3, rows_per_band=2)
    return D.connected_components(pairs)


@query(
    "q40_embedding_dedup_bucketed",
    D.embedding_near_dups_bucketed_sql(threshold=0.4, bits=3, bands=2,
                                       seed=42, dim=_EMB_DIM),
)
def q40(spark, sf_dir):
    """Bucketed pairwise embedding near-dup — the 100 TB replacement for
    q26's brute-force crossJoin: sign-LSH bands bucket every vector
    scan-side, ``dedup.bucket_pairs`` pairs same-bucket ids only, exact
    cosine verifies candidates.  Threshold 0.4 matches q26 (synthetic random
    embeddings); recall vs the exact q26 pairs is pinned in
    tests/test_operators.py."""
    return D.embedding_near_dups_bucketed(
        load(spark, sf_dir, "embeddings"), threshold=0.4, bits=3, bands=2,
        seed=42, dim=_EMB_DIM,
    )


from .functions.cleaning import authors_canonical, authors_canonical_sql  # noqa: E402

_Q41_RAW_SQL = ("'Alice¹ Example 1, Bob† Sample 2,3' || "
                "CASE WHEN doc_id % 2 = 0 THEN ', Carol Test' ELSE '' END")


@query(
    "q41_author_canonicalize",
    f"""
    SELECT doc_id, {authors_canonical_sql(_Q41_RAW_SQL)} AS authors
    FROM documents WHERE doc_id < 300
    """,
)
def q41(spark, sf_dir):
    """Author-cleanup string pipeline (v10.R:3552-3575 split rules,
    :769-770 superscript/affiliation strip) as pure column expressions over
    a deterministic doc_id-derived raw author line: split on commas, strip
    marks/digits, drop empties, canonical '; ' join — golden shape
    'Lauren L. Prister; Shaohui Yin; Laty A. Cahoon' (v10_ALTAIR.R:3746);
    kernel twin pinned in tests/test_extract_core.py::TestAuthorPipeline."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    raw = F.concat(
        F.lit("Alice¹ Example 1, Bob† Sample 2,3"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(", Carol Test")).otherwise(F.lit("")),
    )
    return d.select("doc_id", authors_canonical(raw).alias("authors"))


@query(
    "q38_cube",
    """
    SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
           coalesce(l_linestatus, '(all)') AS l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q38(spark, sf_dir):
    """Grouping-sets capability: CUBE over two dims."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# training-data curation operators (corpus statistics / mixing / hygiene)
# ---------------------------------------------------------------------------


@query(
    "q42_heavy_hitter_ngrams",
    f"""
    SELECT shingle, df FROM (
      SELECT shingle, count(*) AS df
      FROM (
        {D.shingles_sql(_SHINGLE_N)}
      ) s GROUP BY shingle) d
    ORDER BY df DESC, shingle LIMIT 20
    """,
)
def q42(spark, sf_dir):
    """Corpus heavy hitters: top-20 word trigrams by document frequency
    (boilerplate/contamination radar), via
    ``operators.sketches.heavy_hitters`` (scan-side shingling, one count
    shuffle, TakeOrdered; matches the oracle exactly)."""
    from .operators.sketches import heavy_hitters

    return heavy_hitters(
        load(spark, sf_dir, "documents"), k=20, shingle_n=_SHINGLE_N)


@query(
    "q43_contamination_screen",
    f"""
    WITH sh AS (
      {D.shingles_sql(_SHINGLE_N)}),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
    SELECT s.doc_id, count(DISTINCT s.shingle) AS n_hits
    FROM sh s JOIN bench b ON s.shingle = b.shingle
    WHERE s.doc_id >= 10
    GROUP BY s.doc_id
    """,
)
def q43(spark, sf_dir):
    """Benchmark-contamination screen: n-gram overlap between the training
    corpus and a holdout set (docs 0-9 stand in for an eval benchmark).
    The holdout shingle set is broadcast — at 100 TB the corpus side stays
    a single scan with a broadcast semi-join, no corpus shuffle."""
    sh = D.with_shingles(load(spark, sf_dir, "documents"), _SHINGLE_N)
    bench = (
        sh.filter(F.col("doc_id") < 10).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )


@query(
    "q44_stratified_sample",
    """
    SELECT source, count(*) AS n_sampled
    FROM (
      SELECT source,
             ('0x' || substr(md5('s:' || doc_id), 1, 12))::BIGINT % 100 AS bucket
      FROM documents) t
    WHERE bucket < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 50 ELSE 20 END
    GROUP BY source
    """,
)
def q44(spark, sf_dir):
    """Deterministic hash-stratified sampling — the training-mix primitive:
    per-stratum keep-rates via a seeded content hash (reproducible on any
    cluster size, no RNG state).  Pure scan-side predicate: at 100 TB this
    is a filter pushed into the scan, zero shuffle before the final count."""
    d = load(spark, sf_dir, "documents")
    bucket = F.pmod(D.h48("concat('s:', doc_id)"), F.lit(100))
    rate = F.when(F.col("source").isin("src0", "src1", "src2"), 50).otherwise(20)
    return (
        d.filter(bucket < rate)
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )


@query(
    "q45_token_budget_head",
    """
    SELECT doc_id, cum_tokens FROM (
      SELECT doc_id,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
               OVER (ORDER BY quality DESC, doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM (
        SELECT doc_id, text,
          (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN CAST(len(list_filter(string_split(text,' '),
                  w -> lower(w) IN ('the','a','of','and','to'))) AS DOUBLE)
                / greatest(len(string_split(text,' ')), 1) >= 0.01 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1) >= 0.8 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
                / greatest(len(string_split(text,' ')), 1) BETWEEN 3 AND 12
           THEN 0.25 ELSE 0.0 END) AS quality
        FROM documents) q) c
    WHERE cum_tokens <= 20000
    """,
)
def q45(spark, sf_dir, tokenizer: str = "whitespace"):
    """Token-budget head selection: rank docs by quality (desc,
    deterministic doc_id tiebreak), take the prefix whose cumulative
    whitespace-token count fits a 20k budget — the 'best data first' mixing
    step.

    The running sum is ``packing.prior_sum`` over (quality DESC, doc_id):
    a two-level prefix sum with NO global-ordered window over the corpus
    (the round-2 form funneled every row through one task).  Its
    ``limit`` drops the buckets that start past the budget before the
    join-back, so the corpus-sized window exchange carries only the
    budget's candidate buckets.  cum_tokens = prior + own count, NULL
    exactly where the oracle's global running sum is (NULL text has a NULL
    count and sum() skips it).

    ``tokenizer``: 'whitespace' (driver-registered, DuckDB-oracled) or
    'bpe' (real subword budget — functions/bpe.py; pytest-pinned)."""
    from .functions.bpe import token_count_col
    from .operators.packing import prior_sum
    from .operators.text_analysis import with_quality_score

    budget = 20000
    d = with_quality_score(load(spark, sf_dir, "documents"))
    scored = d.select("doc_id", "quality",
                      token_count_col("text", tokenizer).alias("_toks"))
    prior, toks = F.col("_prior"), F.col("_toks")
    return (
        prior_sum(scored, "_toks", "quality", "doc_id", limit=budget)
        .select("doc_id",
                F.coalesce(prior + toks, prior, toks).alias("cum_tokens"))
        .filter(F.col("cum_tokens") <= budget)
    )


@query(
    "q47_repetition_stats",
    """
    SELECT doc_id, n_sentences, n_distinct,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_sentences, 6) AS dup_fraction
    FROM (
      SELECT doc_id,
             len(string_split(text, '. ')) AS n_sentences,
             len(list_distinct(string_split(text, '. '))) AS n_distinct
      FROM documents) t
    WHERE n_sentences > 0
    """,
)
def q47(spark, sf_dir):
    """Repetition statistics (Gopher-style duplicate-fraction filter): per
    doc, the fraction of repeated sentences — the standard pre-training
    signal for boilerplate/spam.  Pure scan-side expressions (split +
    array_distinct), zero shuffle."""
    d = load(spark, sf_dir, "documents")
    sents = F.split("text", r"\. ")
    n = F.size(sents)
    nd = F.size(F.array_distinct(sents))
    return (
        d.select(
            "doc_id",
            n.alias("n_sentences"),
            nd.alias("n_distinct"),
            F.round(1.0 - nd.cast("double") / n, 6).alias("dup_fraction"),
        )
        .filter(F.col("n_sentences") > 0)
    )


_PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
# the planted-PII expression, ONE definition valid in both SQL dialects
# (|| concat, CASE) so the Spark plan and the DuckDB oracle cannot drift
_Q48_PLANTED_SQL = ("text || CASE WHEN doc_id % 7 = 0 "
                    "THEN ' contact author' || doc_id || '@example.org now' "
                    "ELSE '' END")


@query(
    "q48_pii_scrub",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS n_emails,
           regexp_replace(t, '{_PII_EMAIL_RE}', '<EMAIL>', 'g') AS redacted
    FROM (
      SELECT doc_id, {_Q48_PLANTED_SQL} AS t
      FROM documents WHERE doc_id < 200) s
    """,
)
def q48(spark, sf_dir):
    """PII scrub (training-data hygiene): detect + redact email addresses
    as native column expressions (RE2-compatible pattern, exact DuckDB
    oracle).  PII is planted deterministically on every 7th doc so the
    redaction path is actually exercised.  At 100 TB this is a scan-side
    map — no shuffle, no UDF."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = F.expr(_Q48_PLANTED_SQL)  # identical expression text on both engines
    # n_emails via the COLUMN API (F.lit pattern), not an F.expr string:
    # Spark's SQL string-literal unescaper drops the backslash in '\.'
    # (unrecognized escape), silently turning the dot into a wildcard while
    # the redacted column and the DuckDB oracle use the literal dot
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL_RE), F.lit(0)))
        .alias("n_emails"),
        F.regexp_replace(t, _PII_EMAIL_RE, "<EMAIL>").alias("redacted"),
    )


@query(
    "q46_langid_eval",
    f"""
    WITH guessed AS ({TA.language_guess_sql()})
    SELECT d.lang,
           count(*) AS n_docs,
           -- CAST: DuckDB sum(int) yields HUGEINT (pandas float64); Spark
           -- yields int64 — the driver hash needs identical types
           CAST(sum(CASE WHEN g.lang_guess = d.lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
    FROM documents d JOIN guessed g ON d.doc_id = g.doc_id
    GROUP BY d.lang
    """,
)
def q46(spark, sf_dir):
    """Classifier evaluation against labels: per-language agreement of the
    char-trigram language-ID (q29) with the corpus's lang column — the
    eval-harness join every heuristic filter needs before it gates a
    training mix.  On this synthetic corpus the non-en labels are metadata
    only (the text bodies are English-vocabulary shuffles), so agreement
    stays low off-en BY CONSTRUCTION of the data — the query's value is
    exactly that visibility; near-1 agreement on real multilingual prose is
    pinned in tests/test_langid.py."""
    d = load(spark, sf_dir, "documents")
    g = TA.with_language_guess(d).select("doc_id", "lang_guess", "lang")
    return g.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("lang_guess") == F.col("lang")).cast("int")).alias("n_correct"),
    )


@query(
    "q49_sequence_pack",
    r"""
    SELECT doc_id, n_tokens,
           CAST(floor(prior / 2048) AS BIGINT) AS seq_id,
           CAST(prior % 2048 AS BIGINT) AS seq_offset
    FROM (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(coalesce(
               sum(len(regexp_split_to_array(trim(text), '\s+')))
                 OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS prior
      FROM documents WHERE text IS NOT NULL) t
    """,
)
def q49(spark, sf_dir):
    """Sequence packing (concat-and-chunk): each doc's first token lands
    in sequence ``seq_id`` at ``seq_offset`` under doc_id concatenation
    order and 2048-token sequences — the packing step that turns a curated
    corpus into fixed-length training batches.  The offsets are q45's
    two-level prefix sum, ``packing.prior_sum`` (partitioned running sums,
    ordered window only over the tiny bucket-totals frame); the oracle is
    DuckDB's global window, value-identical."""
    from .operators.packing import sequence_pack

    return sequence_pack(load(spark, sf_dir, "documents"))


@query(
    "q50_set_ops",
    """
    SELECT 'cust' AS side, count(*) AS n FROM (
      SELECT DISTINCT c_nationkey AS k FROM customer)
    UNION ALL
    SELECT 'supp' AS side, count(*) AS n FROM (
      SELECT DISTINCT s_nationkey AS k FROM supplier)
    UNION ALL
    SELECT 'both' AS side, count(*) AS n FROM (
      SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'cust_only' AS side, count(*) AS n FROM (
      SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def q50(spark, sf_dir):
    """Set-operations family in one driver row (round-5 verdict item 1):
    vertical union + distinct (J1, bind_rows v10.R:195) alongside
    intersect and except (§2.7) over the same key domain.  Subsumes the
    q18/q37 coverage so those rotate below the driver's 50-entry cap;
    both remain registered and pytest-oracled."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))

    def side(df, label):
        return df.agg(F.count("*").alias("n")).select(
            F.lit(label).alias("side"), "n")

    return (
        side(c.distinct(), "cust")
        .unionByName(side(s.distinct(), "supp"))
        .unionByName(side(c.intersect(s), "both"))
        .unionByName(side(c.subtract(s), "cust_only"))
    )


from pdf_extraction_tests_spark.operators.boilerplate import (  # noqa: E402
    boilerplate_fraction, boilerplate_fraction_sql, frequent_grams)
from pdf_extraction_tests_spark.operators.bm25 import (  # noqa: E402
    bm25_topk, bm25_topk_sql)
from pdf_extraction_tests_spark.operators.chunking import (  # noqa: E402
    chunk_documents, chunk_documents_sql)
from pdf_extraction_tests_spark.operators.quantiles import (  # noqa: E402
    binned_quantiles, binned_quantiles_sql)

_BM25_TERMS = ["join", "window", "spark"]


@query("q51_boilerplate_ngrams", boilerplate_fraction_sql())
def q51(spark, sf_dir):
    """Corpus-learned n-gram boilerplate detection (round-6): word-trigram
    document frequency -> frequent set (df >= 3, broadcast) -> per-doc
    boilerplate fraction.  The learned generalization of the reference's
    hand-curated literal boilerplate list (v10.R:612-620).  Two bounded
    shuffles; gram emission is pure column arithmetic (no Python)."""
    return boilerplate_fraction(load(spark, sf_dir, "documents"))


@query("q52_bm25_topk", bm25_topk_sql(_BM25_TERMS))
def q52(spark, sf_dir):
    """Okapi BM25 top-5 docs per query term, ranked by the salted
    two-phase top-k ``skew.two_phase_topk`` (hot-term skew safety).  tf/dl
    are scan-side array arithmetic."""
    return bm25_topk(load(spark, sf_dir, "documents"), _BM25_TERMS)


@query("q53_binned_quantiles", binned_quantiles_sql("lineitem", "l_extendedprice"))
def q53(spark, sf_dir):
    """Two-pass fixed-bin histogram quantiles over l_extendedprice (A7's
    scale path: bounded O(bins) state per task instead of a holistic
    percentile; deterministic cross-engine arithmetic, equality oracle)."""
    return binned_quantiles(load(spark, sf_dir, "lineitem"), "l_extendedprice")


@query("q54_chunk_windows", chunk_documents_sql() + " ORDER BY doc_id, chunk_idx")
def q54(spark, sf_dir):
    """Sliding-window document chunking (width 32 / stride 24 words) —
    zero-shuffle scan-side transform feeding the packing operator (q49).
    The descending-``sequence`` guard routes empty docs to zero chunks."""
    return chunk_documents(load(spark, sf_dir, "documents"))


from pdf_extraction_tests_spark.operators.substring_dedup import (  # noqa: E402
    duplicated_span_rewrite, duplicated_span_rewrite_sql)
from pdf_extraction_tests_spark.operators.pii import (  # noqa: E402
    scrub_pii, scrub_pii_sql)
from pdf_extraction_tests_spark.operators.repetition import (  # noqa: E402
    gram_arrays, gram_frac, repetition_signals, repetition_signals_sql)
from pdf_extraction_tests_spark.operators.sampling import (  # noqa: E402
    quota_sample, quota_sample_sql)


@query("q55_dup_span_rewrite", duplicated_span_rewrite_sql())
def q55(spark, sf_dir):
    """Exact substring dedup REWRITE (Lee et al. 2022 at word-8-gram
    granularity): spans covered by a gram occurring in >=2 distinct docs
    are cut out; returns per-doc counts + the rewritten text.  The
    duplicate-gram join broadcasts a duplicate set below the broadcast
    threshold and is a shuffle join co-partitioned on gram above it (the
    dup vocabulary grows with the corpus)."""
    return duplicated_span_rewrite(load(spark, sf_dir, "documents"))


# identical expression TEXT on both engines (the q48 lesson: going through
# each engine's own SQL parser with the same source string sidesteps
# escape-handling drift).  Four PII kinds planted on disjoint-ish moduli so
# every pattern path redacts nonzero rows; rows hitting no modulus pin the
# false-positive behavior (counts 0, text round-trips unchanged).
_Q56_PLANTED_SQL = (
    "text"
    " || CASE WHEN doc_id % 7 = 0 THEN ' mail a' || doc_id || '@example.org'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 200) ||"
    " '.1' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' ssn 219-09-9999' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN ' call 312-555-0188' ELSE '' END"
)


@query("q56_pii_scrub",
       scrub_pii_sql(f"(SELECT doc_id, {_Q56_PLANTED_SQL} AS text"
                     " FROM documents) s"))
def q56(spark, sf_dir):
    """Multi-pattern PII scrub (generalizes q48's email-only scrub):
    RE2-compatible email/IPv4/SSN/phone counts + redacted text, one
    zero-shuffle codegen projection over deterministically planted PII."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_Q56_PLANTED_SQL).alias("text")
    )
    return scrub_pii(d)


@query("q57_repetition_signals", repetition_signals_sql())
def q57(spark, sf_dir):
    """Gopher-style within-document repetition gates: top-bigram occurrence
    fraction + duplicated-trigram position fraction, one projection of one
    scan (each row's sorted gram arrays, ``repetition.gram_runs``; no
    shuffle, no join).  One row per input row, a repeated doc_id included,
    as the per-row oracle.  Complements q47, which gates on exact repeated
    SENTENCES; these n-gram signals catch sub-sentence loops q47 cannot
    see."""
    return repetition_signals(load(spark, sf_dir, "documents"))


_QUOTA_SQL = quota_sample_sql(
    "(SELECT doc_id, source, n_chars FROM documents) t",
    "source", "doc_id", "n_chars", 5, salt="q58:",
)


@query("q58_quota_sample", _QUOTA_SQL)
def q58(spark, sf_dir):
    """Per-source quality-weighted quota (k=5 docs per source, weight =
    n_chars, Efraimidis-Spirakis keys): the training-mix "cap per domain"
    primitive.  Salted two-phase rank — no task ever ranks a hot domain's
    full corpus."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quota_sample(d, "source", "doc_id", "n_chars", 5, salt="q58:")


def _q59_sql() -> str:
    """The funnel oracle composes the component operators' own SQL builders
    as CTEs — one source of truth per signal, zero drift between the
    standalone queries (q29/q30/q51/q57/q21-style canonical) and the
    composed funnel."""
    from pdf_extraction_tests_spark.operators import text_analysis as TA2

    return f"""
    WITH lang AS ({TA2.language_guess_sql("documents")}),
    qual AS ({TA2.quality_score_sql("documents")}),
    rep AS ({repetition_signals_sql("documents")}),
    boil AS ({boilerplate_fraction_sql("documents")}),
    pfx AS (
      SELECT doc_id,
             md5(array_to_string((string_split(text, ' '))[1:5], ' '))
               AS digest
      FROM documents
    ),
    canon AS (SELECT digest, min(doc_id) AS canon_id FROM pfx GROUP BY digest)
    SELECT d.doc_id,
           l.lang_guess = 'en'                                AS pass_lang,
           q.quality >= 1.0                                   AS pass_quality,
           r.dup_trigram_frac <= 0.05 AND r.top_bigram_frac <= 0.1
                                                              AS pass_repetition,
           b.boiler_frac <= 0.3                               AS pass_boiler,
           d.doc_id = c.canon_id                              AS is_canonical,
           (l.lang_guess = 'en' AND q.quality >= 1.0
            AND r.dup_trigram_frac <= 0.05 AND r.top_bigram_frac <= 0.1
            AND b.boiler_frac <= 0.3 AND d.doc_id = c.canon_id)
                                                              AS keep_doc
    FROM documents d
    JOIN lang l USING (doc_id)
    JOIN qual q USING (doc_id)
    JOIN rep  r USING (doc_id)
    JOIN boil b USING (doc_id)
    JOIN pfx  p USING (doc_id)
    JOIN canon c USING (digest)
    """


@query("q59_curation_funnel", _q59_sql())
def q59(spark, sf_dir):
    """The C4/Dolma curation pipeline END-TO-END as one Spark plan: language
    gate (char-trigram LID), quality gate (C4/Gopher score), repetition
    gates (q57 n-gram signals), learned-boilerplate gate (q51 fraction),
    and prefix-dedup canonicalization (q21 shape) — per-doc booleans plus
    the final keep decision.

    One projection of one scan computes every per-row signal: the LID
    kernel's guess (the plan's one ArrowEvalPython), the quality score,
    the 5-word prefix digest, and the bigram and trigram arrays
    (``repetition.gram_arrays``, q51/q57's gram definition).  The
    repetition fractions are q57's own (``repetition.gram_frac``: longest
    run over bigram positions, summed runs of >= 2 over trigram positions
    of the row's sorted gram arrays).  Two corpus aggregates remain:

    * q51's frequent-trigram set (``boilerplate.frequent_grams``: one
      shuffle on ``gram``, countDistinct(doc_id) >= 3), broadcast onto the
      row's exploded trigrams; the per-doc boilerplate count is then one
      shuffle on ``doc_id`` with the row's flags riding along as keys;
    * the canonical id, ``min(doc_id)`` over each digest (a window, one
      shuffle on ``digest`` of the per-doc rows).

    Rows with a NULL ``doc_id`` or NULL digest (NULL text) are dropped, as
    the oracle's inner joins drop them.  On unique ids the rows equal the
    oracle, which composes q57's and q51's own SQL, so the funnel cannot
    drift from its parts.  A doc_id that repeats keeps one row per
    distinct (doc_id, digest, flags) here and aggregates its grams over
    those rows, where the oracle's joins multiply rows; which is intended
    is still open."""

    d = load(spark, sf_dir, "documents")
    digest = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 5), " "))
    rows = (
        TA.with_quality_score(TA.with_language_guess(d))
        .select(
            "doc_id",
            (F.col("lang_guess") == "en").alias("pass_lang"),
            (F.col("quality") >= 1.0).alias("pass_quality"),
            digest.alias("digest"),
            *gram_arrays(),
        )
        .where("doc_id IS NOT NULL AND digest IS NOT NULL")
        .select(
            "doc_id", "digest", "pass_lang", "pass_quality", "_tri",
            F.expr(f"{gram_frac('dup', '_tri')} <= 0.05 AND "
                   f"{gram_frac('top', '_bi')} <= 0.1")
            .alias("pass_repetition"),
        )
        # a separate select: expressions beside a generator are evaluated
        # once per generated row, here once per gram position
        .select("doc_id", "digest", "pass_lang", "pass_quality",
                "pass_repetition", F.explode_outer("_tri").alias("gram"))
    )
    flags = (
        rows.join(F.broadcast(frequent_grams(d)), "gram", "left")
        .groupBy("doc_id", "digest", "pass_lang", "pass_quality",
                 "pass_repetition")
        .agg(F.count("gram").alias("n_grams"),
             F.count("_freq").alias("n_boiler"))
        .select(
            "doc_id", "pass_lang", "pass_quality", "pass_repetition",
            F.expr("round(IF(n_grams > 0, n_boiler / n_grams, 0.0), 6) "
                   "<= 0.3").alias("pass_boiler"),
            (F.col("doc_id") == F.min("doc_id").over(
                W.partitionBy("digest"))).alias("is_canonical"),
        )
    )
    return flags.withColumn(
        "keep_doc",
        F.col("pass_lang") & F.col("pass_quality") & F.col("pass_repetition")
        & F.col("pass_boiler") & F.col("is_canonical"),
    )


from pdf_extraction_tests_spark.operators.kmeans import (  # noqa: E402
    kmeans_assign, kmeans_assign_sql, semantic_near_dups,
    semantic_near_dups_sql)


@query("q60_kmeans_clusters", kmeans_assign_sql())
def q60(spark, sf_dir):
    """Distributed k-means over the embedding column (SemDeDup's first
    stage): deterministic init (k smallest ids), two unrolled Lloyd
    iterations — each one broadcast-assign scan + one bounded (cluster,
    dim) shuffle — centroids rounded to quench summation-order drift.
    The oracle replays the SAME unrolled iterations as CTEs (distances
    via list_dot_product on doubles, identical sequential accumulation)."""
    return kmeans_assign(load(spark, sf_dir, "embeddings"))


@query("q61_semantic_near_dups", semantic_near_dups_sql())
def q61(spark, sf_dir):
    """SemDeDup stage 2: cosine near-dup pairs WITHIN each q60 cluster —
    the pairwise compare is an equi-join on cluster (bounded populations),
    never the q26 all-pairs cross join.  27 pairs at sf0.01, threshold
    0.4."""
    return semantic_near_dups(load(spark, sf_dir, "embeddings"))


@query(
    "q62_funnel_summary",
    # single funnel CTE (not six inlined copies) + CAST AS BIGINT on every
    # branch: DuckDB's sum(int) is HUGEINT -> pandas float64, which flips
    # the driver value hash against Spark's bigint (CLAUDE.md rule)
    f"""
    WITH funnel AS ({_q59_sql()})
    SELECT stage, stage_idx, CAST(survivors AS BIGINT) AS survivors FROM (
      SELECT 'total' AS stage, 0 AS stage_idx, count(*) AS survivors
      FROM funnel
      UNION ALL
      SELECT 'lang', 1, sum(CASE WHEN pass_lang THEN 1 ELSE 0 END)
      FROM funnel
      UNION ALL
      SELECT 'lang+quality', 2,
             sum(CASE WHEN pass_lang AND pass_quality THEN 1 ELSE 0 END)
      FROM funnel
      UNION ALL
      SELECT 'lang+quality+rep', 3,
             sum(CASE WHEN pass_lang AND pass_quality AND pass_repetition
                 THEN 1 ELSE 0 END)
      FROM funnel
      UNION ALL
      SELECT 'lang+quality+rep+boiler', 4,
             sum(CASE WHEN pass_lang AND pass_quality AND pass_repetition
                      AND pass_boiler THEN 1 ELSE 0 END)
      FROM funnel
      UNION ALL
      SELECT 'kept', 5, sum(CASE WHEN keep_doc THEN 1 ELSE 0 END)
      FROM funnel
    )
    """,
)
def q62(spark, sf_dir):
    """The curation funnel REPORT: cumulative survivor counts per gate —
    the number a pipeline operator actually watches.  One aggregation
    over the q59 flags (the oracle re-derives each stage from the same
    composed SQL, so the report cannot drift from the row-level truth)."""
    f = q59(spark, sf_dir)
    stages = [
        ("total", 0, None),
        ("lang", 1, F.col("pass_lang")),
        ("lang+quality", 2, F.col("pass_lang") & F.col("pass_quality")),
        ("lang+quality+rep", 3,
         F.col("pass_lang") & F.col("pass_quality")
         & F.col("pass_repetition")),
        ("lang+quality+rep+boiler", 4,
         F.col("pass_lang") & F.col("pass_quality")
         & F.col("pass_repetition") & F.col("pass_boiler")),
        ("kept", 5, F.col("keep_doc")),
    ]
    # total is count(*), as in the oracle: 0 on an empty table, where the
    # gate sums are NULL on both engines
    return f.agg(
        *[
            (F.count(F.lit(1)) if cond is None
             else F.sum(F.when(cond, 1).otherwise(0))).alias(f"_s{idx}")
            for _, idx, cond in stages
        ]
    ).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("stage"),
                    F.lit(idx).alias("stage_idx"),
                    F.col(f"_s{idx}").alias("survivors"),
                )
                for name, idx, _ in stages
            ])
        ).alias("s")
    ).select("s.stage", "s.stage_idx", "s.survivors")


# ---------------------------------------------------------------------------
# public API consumed by __spark_entry__.py
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.fn for spec in REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {spec.name: spec.sql.strip() for spec in REGISTRY if spec.sql is not None}
