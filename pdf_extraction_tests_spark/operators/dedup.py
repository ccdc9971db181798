"""Deduplication operators over a document corpus.

All variants are declarative DataFrame plans (JVM-side, codegen'd); no UDFs.
The 48-bit cross-engine hash ``h48(s) = int(md5(s)[:12], 16)`` keeps every
operator exactly reproducible in DuckDB for the driver's oracle check.

Scale notes (100 TB):
* exact dedup = one shuffle on the digest — the minimum possible;
* MinHash signatures are computed scan-side per row (no shuffle), LSH
  banding shuffles only (band_key -> doc) rows, and candidates pair only
  within buckets;
* stop-shingle removal (drop shingles appearing in > max_df docs) bounds the
  n-gram pair blowup — the standard trick for web-scale near-dup;
* every banded candidate set comes from :func:`bucket_pairs` (strictly
  upper-triangular, doc_a < doc_b); every cosine from
  :func:`.similarity.dot` and :func:`.similarity.norm`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .boilerplate import quoted, word_ngrams
from .similarity import dot, hyperplanes, lsh_bucket_expr, lsh_bucket_sql, norm


def _h48(col_expr) -> str:
    return f"cast(conv(substr(md5({col_expr}), 1, 12), 16, 10) as bigint)"


def h48(col):
    """48-bit md5-derived hash as a Spark column (bigint, non-negative).

    DuckDB equivalent: ``('0x' || substr(md5(x), 1, 12))::BIGINT``.
    """
    return F.expr(_h48(col))


def _h48_duck(col_expr) -> str:
    """Same 48-bit hash in DuckDB dialect (no conv(); hex-literal cast)."""
    return f"('0x' || substr(md5({col_expr}), 1, 12))::BIGINT"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest: keep the min id, count dups.

    One hash-shuffle on the digest; at scale add
    ``.hint("rebalance")`` upstream if the corpus has giant identical docs.
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# bucket pairs: the candidate step of every banded near-dup operator
# ---------------------------------------------------------------------------


def bucket_pairs(df: DataFrame, bucket_cols: list[str], id_col: str,
                 max_size: int | None = None) -> DataFrame:
    """(doc_a, doc_b): every pair of ids that share a bucket, one row per
    (bucket, pair).

    * Strict upper triangle: ``doc_a < doc_b``, so no ``(x, x)`` and no
      mirrored ``(b, a)``.
    * Set semantics: an id counts once per bucket however many input rows
      carry it (``array_sort(collect_set(id))``), so repeated rows neither
      repeat a pair within a bucket nor pair an id with itself.
    * Per-bucket state is the bucket's id list, bounded by bucket size.
      Buckets with more than ``max_size`` distinct ids are dropped (None
      keeps every bucket).

    The bucketed frame is computed once and shuffled once on the bucket
    keys; a self-join on the keys would plan it twice.  A pair that shares
    several buckets appears once per bucket: callers that want a pair set
    add ``distinct``.
    """
    keep = F.size("ids") >= 2
    if max_size is not None:
        keep = keep & (F.size("ids") <= max_size)
    buckets = (
        df.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(keep)
    )
    return buckets.select("ids", F.posexplode("ids").alias("i", "doc_a")).select(
        "doc_a",
        F.explode(
            F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
        ).alias("doc_b"),
    )


# ---------------------------------------------------------------------------
# word-shingle helpers
# ---------------------------------------------------------------------------


def with_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) pairs: distinct word n-grams per document.

    Built scan-side with split + :func:`word_ngrams` + filter — no explode
    until the (smaller) distinct shingle set is formed per row.
    """
    words = F.split(F.col(text_col), " ")
    shingles = F.array_distinct(
        word_ngrams(f"split({quoted(text_col)}, ' ')", n))
    return (
        docs.filter(F.size(words) >= n)
        .select(F.col(id_col).alias("doc_id"), F.explode(shingles).alias("shingle"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# affine MinHash family over one base hash: h_i(x) = (a_i*h48(x) + b_i) mod M
# — one md5 per shingle instead of k (the standard universal-hash family).
# a_i < 2^14 and h48 < 2^48 keep a_i*h48 + b_i < 2^63 (no int64 overflow);
# M = 2^61-1 (Mersenne prime).  Same arithmetic is exact in DuckDB.
_MINHASH_M = (1 << 61) - 1
_MINHASH_A = [9973, 12007, 14009, 15013, 15607, 16001, 16183, 16369]
_MINHASH_B = [12345, 54321, 77777, 13579, 24680, 98765, 11111, 22222]


def minhash_signatures(docs: DataFrame, num_hashes: int = 8, shingle_n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature columns h0..h{k-1}.

    One 48-bit base hash per shingle; family members derived affinely
    (a_i*h + b_i mod M) — k-1 md5 computations saved per shingle row.
    Mins are plain groupBy aggregates; signatures never shuffle raw text
    (the exchange carries (doc_id, 6 partial mins) after map-side combine).
    """
    pairs = with_shingles(docs, shingle_n, text_col, id_col).withColumn(
        "_h", h48("shingle")
    )
    aggs = [
        F.min(
            F.pmod(
                F.col("_h") * F.lit(_MINHASH_A[i]) + F.lit(_MINHASH_B[i]),
                F.lit(_MINHASH_M),
            )
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return pairs.groupBy("doc_id").agg(*aggs)


def shingles_sql(shingle_n: int = 3, table: str = "documents") -> str:
    """The DuckDB twin of :func:`with_shingles` — ONE definition shared by
    every oracle that shingles (minhash, q42/q43), so
    a semantics change cannot desynchronize them."""
    return (
        f"SELECT DISTINCT doc_id, array_to_string(arr[i:i+{shingle_n - 1}], ' ') AS shingle\n"
        f"      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM {table}\n"
        f"            WHERE len(string_split(text, ' ')) >= {shingle_n}) t,\n"
        f"           LATERAL (SELECT unnest(generate_series(1, len(arr) - {shingle_n - 1})) AS i) u"
    )


def minhash_sql(num_hashes: int = 8, shingle_n: int = 3,
                table: str = "documents") -> str:
    """DuckDB oracle for :func:`minhash_signatures`."""
    base = _h48_duck("shingle")
    parts = []
    for i in range(num_hashes):
        parts.append(
            f"min((({base}) * {_MINHASH_A[i]} + {_MINHASH_B[i]}) % {_MINHASH_M}) AS h{i}"
        )
    mins = ",\n           ".join(parts)
    return f"""
    SELECT doc_id,
           {mins}
    FROM (
      {shingles_sql(shingle_n, table)}
    ) s
    GROUP BY doc_id
    """


def banded_keys(signatures: DataFrame, bands: int = 4,
                rows_per_band: int = 2) -> DataFrame:
    """Signature frame -> exploded (doc_id, band, bh) band keys — the unit
    the LSH join buckets on."""
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        band_cols.append(F.struct(
            F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("bh")))
    return signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.bh").alias("bh"))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4,
                        rows_per_band: int = 2) -> DataFrame:
    """LSH banding: docs agreeing on all hashes of any band become a
    candidate pair.  Shuffle is on (band, band_key) — tiny rows.  The band
    key is the band's hash values concatenated (cross-engine deterministic;
    on a pure-Spark deployment swap in xxhash64(*cols) to shrink the key).

    The pairs of each (band, band_key) bucket come from
    :func:`bucket_pairs`; ``distinct`` folds a pair shared by several bands
    into one row.
    """
    bk = banded_keys(signatures, bands, rows_per_band)
    return bucket_pairs(bk, ["band", "bh"], "doc_id").distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        max_df: int = 50, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard over word n-gram sets for near-duplicate pairs.

    ``max_df`` drops stop-shingles (appearing in > max_df docs) before
    pairing — bounding the quadratic blowup; at web scale this filter is
    what keeps the shuffle linear-ish in corpus size.  Per-doc sizes come
    from the per-row shingle arrays; common counts are the
    :func:`bucket_pairs` rows of the per-shingle buckets, capped at
    ``max_df`` ids.
    """
    # NO cache: this function returns a lazy frame, so a cache here could
    # only be released by the caller (one pinned shingle frame per call,
    # session lifetime).
    words = F.split(F.col(text_col), " ")
    sh_arr = F.array_distinct(
        word_ngrams(f"split({quoted(text_col)}, ' ')", n))
    # Both sides treat a doc_id as its set of shingles over ALL its rows, as
    # the oracle's DISTINCT (doc_id, shingle) does: sizes has one row per
    # doc_id (so the joins below cannot repeat a pair), and bucket_pairs
    # counts a shingle once per doc (so a repeated doc_id row does not
    # double n_common).
    base = docs.filter(F.size(words) >= n)
    sizes = base.groupBy(F.col(id_col).alias("doc_id")).agg(
        F.size(F.array_distinct(F.flatten(F.collect_list(sh_arr)))).alias("sz"))
    sh = with_shingles(docs, n, text_col, id_col)
    pairs = bucket_pairs(sh, ["shingle"], "doc_id", max_size=max_df)
    common = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    # filter on the RAW similarity, round only for output — matching the
    # oracle SQL's WHERE-on-raw / SELECT-rounded shape (a value in
    # [threshold-5e-7, threshold) must fail on both engines)
    raw = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(raw >= threshold)
        .withColumn("jaccard", F.round(raw, 6))
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash over word tokens (bit-majority of token hashes).

    The whole computation is one scan-side expression chain: token array ->
    per-bit +/-1 votes via aggregate -> sign -> packed integer.  No shuffle.
    """
    token_hash = _h48("concat('t:', w)")
    # hash each distinct token ONCE (md5 is the expensive part), then take
    # the per-bit +/-1 majorities over the integer array — 16x fewer md5s
    # than folding the raw tokens per bit
    hashes = F.expr(
        f"transform(array_distinct(split({text_col}, ' ')), w -> {token_hash})"
    )
    withh = docs.withColumn("_th", hashes)
    votes = [
        F.expr(
            f"aggregate(_th, 0, (acc, h) -> acc + "
            f"CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        )
        for b in range(bits)
    ]
    sig = None
    for b, v in enumerate(votes):
        term = F.when(v > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return withh.select(F.col(id_col).alias("doc_id"), sig.cast("bigint").alias("simhash"))


def simhash_sql(bits: int = 16, table: str = "documents") -> str:
    """DuckDB oracle for :func:`simhash`."""
    token_hash = _h48_duck("concat('t:', w)")
    terms = []
    for b in range(bits):
        terms.append(
            f"(CASE WHEN sum(CASE WHEN (({token_hash} >> {b}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END)"
        )
    return f"""
    SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS simhash
    FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM {table}) t
    GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------


_STAR_STEPS = 12  # alternating large-star / small-star steps in the plan


def _undirected(df: DataFrame, a, b) -> DataFrame:
    """(src, dst): the edge a-b of each row of ``df`` in both orientations,
    self-loops dropped."""
    both = F.array(F.struct(a.alias("src"), b.alias("dst")),
                   F.struct(b.alias("src"), a.alias("dst")))
    return (df.select(F.explode(both).alias("e")).select("e.*")
            .filter(F.col("src") != F.col("dst")))


def _neighbours(edges: DataFrame) -> DataFrame:
    """(src, nbrs): each node's distinct neighbour set."""
    return edges.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))


def _star_step(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (``large``) or small-star step over a symmetric edge
    frame: node u with neighbours N and m = min(N + [u]) links m to each
    neighbour above u (large) or to u and each neighbour below u (small).
    One ``groupBy`` over ``edges``, which is referenced once, so the plan
    grows by one aggregate per step."""
    src = F.col("src")
    m = F.least(src, F.array_min("nbrs"))
    if large:
        keep = F.filter("nbrs", lambda v: v > src)
    else:
        keep = F.concat(F.filter("nbrs", lambda v: v < src), F.array(src))
    links = _neighbours(edges).select(m.alias("m"), F.explode(keep).alias("v"))
    return _undirected(links, F.col("v"), F.col("m"))


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) near-dup pairs of distinct ids -> (doc_id,
    cluster_id) with cluster_id = min doc id in the component (the
    canonical keeper).  One lazy plan: building it runs no Spark job and
    nothing is persisted.

    Algorithm: ``_STAR_STEPS`` alternating large-star / small-star steps
    (Kiveris et al., SoCC 2014), each one aggregate keyed on a doc id,
    then one checking aggregate that gives each node ``lo`` = its minimum
    neighbour, its degree, and ``cluster_id = least(doc_id, lo)``.

    Exact, or it raises: a node passes the check if it is a centre
    (``lo > doc_id``) or a leaf (degree 1, ``lo < doc_id``); any other
    node evaluates ``raise_error`` in the same projection, so the action
    fails with ``did not converge``.  If every node passes, each component
    is a star centred on its minimum (a centre's neighbours are all
    larger, hence leaves; a leaf's one neighbour is smaller, hence not a
    leaf), and star steps never change components, so a returned label is
    always the component minimum.

    What converges (pure-Python simulation of the same steps): paths of
    <= 64 nodes with sorted or reversed ids and every shuffled order
    sampled (paths of 21-64 nodes are new: min-label propagation capped
    at 20 rounds rejected them); chains
    of 80 five-node cliques; random trees of depth <= 9 with random ids up
    to 20,000 nodes (<= 11 steps).  One case narrows: a depth-<= 9 tree
    whose ids fall from root to leaves needs 13 steps from ~1,500 nodes on
    and now raises, where the 20-round cap accepted it.  q39's candidate
    graphs at sf0.001 / sf0.01 / sf0.1 (100 / 86 / 6,301 pairs) need
    1 / 2 / 5 steps; LSH candidates form clique chains, not deep trees.
    """
    edges = _undirected(pairs, F.col("doc_a"), F.col("doc_b"))
    for step in range(_STAR_STEPS):
        edges = _star_step(edges, large=step % 2 == 0)
    src = F.col("src")
    lo = F.array_min("nbrs")
    converged = (lo > src) | ((F.size("nbrs") == 1) & (lo < src))
    failed = F.raise_error(F.lit(
        f"connected_components did not converge in {_STAR_STEPS} star steps"))
    return _neighbours(edges).select(
        src.alias("doc_id"),
        F.when(converged, F.least(src, lo)).otherwise(failed).alias("cluster_id"))


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def _normed(emb: DataFrame, side: str, id_col: str,
            vec_col: str) -> DataFrame:
    """One side of a cosine pair join: (id_<side>, v<side>, _n<side>), the
    norm computed once per vector rather than once per pair."""
    return emb.select(F.col(id_col).alias(f"id_{side}"),
                      F.col(vec_col).alias(f"v{side}"),
                      norm(F.col(vec_col)).alias(f"_n{side}"))


def _cosine_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine) for the joined pairs whose RAW cosine reaches
    ``threshold``; the output is rounded after the filter, as the oracle
    SQL filters on the raw value and rounds in the SELECT (a value in
    [threshold-5e-7, threshold) must fail on both engines)."""
    raw = dot("va", "vb") / (F.col("_na") * F.col("_nb"))
    return (
        pairs.filter(raw >= threshold)
        .withColumn("cosine", F.round(raw, 6))
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Cosine near-duplicate pairs among embeddings (upper-triangular).

    Brute-force O(n^2) — correct baseline; the sign-LSH bucketed variant
    :func:`embedding_near_dups_bucketed` (q40) is the scale path.  Cosine is
    computed in double precision via zip_with + aggregate (JVM-side, no
    UDF).
    """
    a = _normed(emb, "a", id_col, vec_col)
    b = _normed(emb, "b", id_col, vec_col)
    return _cosine_at_least(
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")), threshold)


def embedding_near_dups_bucketed(emb: DataFrame, threshold: float = 0.95,
                                 bits: int = 3, bands: int = 2, seed: int = 42,
                                 dim: int = 64, id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> DataFrame:
    """Cosine near-duplicate pairs via sign-LSH bucketing — the 100 TB path.

    Candidate generation is the same banded shape as MinHash-LSH: per band
    an independent hyperplane set buckets every vector scan-side (pure
    column expressions, :func:`..similarity.lsh_bucket_expr`),
    :func:`bucket_pairs` shuffles only (band, bucket, id) rows and pairs
    same-bucket ids only (~n^2 / 2^bits per band instead of n^2), then
    candidates are verified with the exact cosine (filter on RAW, round for
    output).
    Recall rises with ``bands`` and falls with ``bits``; at the real-dedup
    operating point (cosine >= 0.95, i.e. angle <= 18deg) a bit agrees with
    probability ~0.9, so 2 bands x 3 bits give ~86% recall and each extra
    band multiplies the miss rate by ~0.27.  Fully SQL-expressible —
    :func:`embedding_near_dups_bucketed_sql` is the exact DuckDB oracle.
    """
    band_cols = [
        lsh_bucket_expr(hyperplanes(dim, bits, seed + 1000 * i), vec_col)
        .alias(f"band{i}")
        for i in range(bands)
    ]
    sig = emb.select(F.col(id_col).alias("doc"), *band_cols)
    bands_arr = F.array(*[
        F.struct(F.lit(i).alias("band"), F.col(f"band{i}").alias("bucket"))
        for i in range(bands)
    ])
    exploded = sig.select("doc", F.explode(bands_arr).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )
    cand = bucket_pairs(exploded, ["band", "bucket"], "doc").distinct().select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    return _cosine_at_least(
        cand.join(_normed(emb, "a", id_col, vec_col), "id_a")
        .join(_normed(emb, "b", id_col, vec_col), "id_b"),
        threshold,
    )


def embedding_near_dups_bucketed_sql(threshold: float = 0.95, bits: int = 3,
                                     bands: int = 2, seed: int = 42,
                                     dim: int = 64,
                                     table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`embedding_near_dups_bucketed` (identical
    literal hyperplanes, identical banded candidate join, WHERE on the raw
    cosine / rounded in the SELECT)."""
    band_exprs = ",\n           ".join(
        f"{lsh_bucket_sql(hyperplanes(dim, bits, seed + 1000 * i), 'e')} AS band{i}"
        for i in range(bands)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, {i} AS band, band{i} AS bucket FROM sig"
        for i in range(bands)
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM {table}),
    sig AS (SELECT vec_id,
           {band_exprs}
            FROM v),
    bk AS (
      {band_rows}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, round(cos, 6) AS cosine FROM (
      SELECT id_a, id_b,
             list_dot_product(va.e, vb.e)
               / (sqrt(list_dot_product(va.e, va.e))
                  * sqrt(list_dot_product(vb.e, vb.e))) AS cos
      FROM cand
      JOIN v va ON va.vec_id = cand.id_a
      JOIN v vb ON vb.vec_id = cand.id_b) t
    WHERE cos >= {threshold}
    """
