"""Tests for the training-data operators (dedup / similarity / multimodal)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from pdf_extraction_tests_spark.operators import dedup as D
from pdf_extraction_tests_spark.operators import similarity as S
from pdf_extraction_tests_spark.operators import text_analysis as TA
from pdf_extraction_tests_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _decode_stub,
    extract_media_features,
)

SF = "/root/testdata/sf0.001"


def synthetic_media(spark, n: int = 64, seed: int = 42):
    """Deterministic fake media table (random bytes, MEDIA_SCHEMA)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        mtype = ["image", "audio", "video"][i % 3]
        content = rng.integers(0, 256, size=int(rng.integers(64, 4096)), dtype=np.uint8)
        rows.append(
            {
                "media_ref": f"media://{i}",
                "media_type": mtype,
                "content": bytearray(content.tobytes()),
                "width": 640 if mtype == "image" else None,
                "height": 480 if mtype == "image" else None,
                "duration_ms": 1000 * (i % 30) if mtype != "image" else None,
            }
        )
    pdf = pd.DataFrame(rows)
    # pandas promotes int+None columns to float64; IntegerType rejects floats
    for c in ("width", "height", "duration_ms"):
        pdf[c] = pd.Series(
            [None if v is None or pd.isna(v) else int(v) for v in pdf[c]],
            dtype="object",
        )
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


class TestDedup:
    def test_exact_dedup_finds_planted_dup(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["same text", "same text", "other"]}
        )
        df = spark.createDataFrame(pdf)
        rows = D.exact_dedup(df).collect()
        assert len(rows) == 1
        assert rows[0].keep_id == 1 and rows[0].n_copies == 2

    def test_shingles(self, spark):
        pdf = pd.DataFrame({"doc_id": [1], "text": ["a b c d"]})
        got = {r.shingle for r in D.with_shingles(spark.createDataFrame(pdf), 3).collect()}
        assert got == {"a b c", "b c d"}

    def test_minhash_identical_docs_same_signature(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2], "text": ["the quick brown fox jumps"] * 2}
        )
        sig = D.minhash_signatures(spark.createDataFrame(pdf), 4, 3).collect()
        a, b = sorted(sig, key=lambda r: r.doc_id)
        assert (a.h0, a.h1, a.h2, a.h3) == (b.h0, b.h1, b.h2, b.h3)

    def test_lsh_catches_identical(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2, 3],
             "text": ["the quick brown fox jumps over it",
                      "the quick brown fox jumps over it",
                      "completely different words appear in this document"]}
        )
        sig = D.minhash_signatures(spark.createDataFrame(pdf), 6, 3)
        pairs = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(sig, 3, 2).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_candidate_pairs_duplicate_id_rows_no_self_pairs(self, spark):
        """A signatures frame with a duplicated doc_id must not emit (x, x)
        pairs from the bucket-pair generation."""
        sig = spark.createDataFrame(
            [(1, 10, 11, 12, 13, 14, 15),
             (1, 10, 11, 12, 13, 14, 15),   # duplicated id row
             (2, 10, 11, 99, 98, 97, 96)],  # shares band 0 with doc 1
            "doc_id long, h0 long, h1 long, h2 long, h3 long, h4 long, h5 long")
        pairs = {(r.doc_a, r.doc_b) for r in
                 D.lsh_candidate_pairs(sig, bands=3, rows_per_band=2).collect()}
        assert pairs == {(1, 2)}

    def test_jaccard_exact_one(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2], "text": ["alpha beta gamma delta"] * 2}
        )
        rows = D.ngram_jaccard_pairs(spark.createDataFrame(pdf), 3, 0.8, 50).collect()
        assert len(rows) == 1 and rows[0].jaccard == 1.0

    def test_jaccard_duplicated_doc_id_matches_oracle(self, spark):
        """A doc_id on several rows is one doc, the union of its rows'
        shingles, as in q24's oracle: no pair repeats and every jaccard
        equals DuckDB's."""
        import duckdb

        from pdf_extraction_tests_spark.queries import oracle_sql

        w = [f"w{i}" for i in range(1, 12)]
        pdf = pd.DataFrame({
            "doc_id": [1, 1, 2, 3, 3],
            "text": [" ".join(w[:10]), " ".join(w[:10]),  # repeated row
                     " ".join(w),
                     " ".join(w[:6]), " ".join(w[4:])],   # split over two rows
        })
        rows = D.ngram_jaccard_pairs(spark.createDataFrame(pdf), 3, 0.8, 50).collect()
        pairs = [(r.doc_a, r.doc_b) for r in rows]
        assert len(pairs) == len(set(pairs)) == 3
        con = duckdb.connect()
        con.register("documents", pdf)
        want = {(int(a), int(b)): j for a, b, j in
                con.execute(oracle_sql()["q24_ngram_jaccard"]).fetchall()}
        assert {(r.doc_a, r.doc_b): r.jaccard for r in rows} == want

    def test_simhash_close_for_similar(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2, 3],
             "text": ["w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
                      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11",   # 1 token differs
                      "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"]}  # all differ
        )
        rows = {r.doc_id: r.simhash for r in D.simhash(spark.createDataFrame(pdf), 16).collect()}
        ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
        assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


class TestBucketedEmbeddingDedup:
    def test_recall_and_precision_vs_exact(self, spark, emb):
        """q40's bucketed pairs vs q26's exact O(n^2) pairs: every bucketed
        pair must be a true pair (exact verify => precision 1.0), and the
        banded buckets must recover a meaningful share of them."""
        exact = {(r.id_a, r.id_b)
                 for r in D.embedding_near_dups(emb, threshold=0.4).collect()}
        bucketed = {(r.id_a, r.id_b)
                    for r in D.embedding_near_dups_bucketed(
                        emb, threshold=0.4, bits=3, bands=2, dim=64).collect()}
        assert bucketed <= exact  # exact cosine verify => no false positives
        assert exact  # sanity: the synthetic corpus has near-dup pairs
        recall = len(bucketed) / len(exact)
        assert recall >= 0.2, f"recall {recall:.2f}"  # 2 bands x 3 bits, thr 0.4

    def test_more_bands_raise_recall(self, spark, emb):
        exact = {(r.id_a, r.id_b)
                 for r in D.embedding_near_dups(emb, threshold=0.4).collect()}
        few = {(r.id_a, r.id_b)
               for r in D.embedding_near_dups_bucketed(
                   emb, threshold=0.4, bits=3, bands=1, dim=64).collect()}
        many = {(r.id_a, r.id_b)
                for r in D.embedding_near_dups_bucketed(
                    emb, threshold=0.4, bits=3, bands=4, dim=64).collect()}
        assert len(many) >= len(few)
        assert len(many & exact) >= len(few & exact)


def _union_find_min_labels(pairs) -> dict:
    """Reference: node -> min id of its component, by union-find."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _generated_graphs(seed: int = 7) -> list:
    """Union of disjoint graphs, each on its own id range, as (a, b) pairs
    in random orientation: paths of 2-40 nodes in sorted, reversed and
    shuffled id order, clique chains, a hot 200-clique, a random tree of
    depth <= 9 and 1,000 nodes, and isolated pairs."""
    import random

    rng = random.Random(seed)
    pairs, base = [], 0

    def ids(n, order="shuffled"):
        nonlocal base
        out = list(range(base, base + n))
        base += n + 1000
        if order == "reversed":
            out.reverse()
        elif order == "shuffled":
            rng.shuffle(out)
        return out

    def path(nodes):
        return list(zip(nodes, nodes[1:]))

    def cliques(nodes, size):
        # consecutive cliques share one node
        out = []
        for c in range(0, len(nodes) - 1, size - 1):
            mem = nodes[c:c + size]
            out += [(a, b) for i, a in enumerate(mem) for b in mem[i + 1:]]
        return out

    for n in range(2, 41):
        for order in ("sorted", "reversed", "shuffled"):
            pairs += path(ids(n, order))
    for n_cliques, size in ((2, 3), (10, 5), (40, 5), (30, 12)):
        pairs += cliques(ids(n_cliques * (size - 1) + 1), size)
    pairs += cliques(ids(200), 200)
    tree, depth = ids(1000), [0]
    for i in range(1, len(tree)):
        p = rng.choice([j for j in range(i) if depth[j] < 9])
        depth.append(depth[p] + 1)
        pairs.append((tree[p], tree[i]))
    for _ in range(50):
        pairs += path(ids(2))
    return [(a, b) if rng.random() < 0.5 else (b, a) for a, b in pairs]


class TestConnectedComponentsHardening:
    def test_long_chain_within_iters_converges(self, spark):
        # a path graph of diameter 6: label must propagate end to end
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": [1, 2, 3, 4, 5, 6],
                          "doc_b": [2, 3, 4, 5, 6, 7]})
        )
        rows = {r.doc_id: r.cluster_id
                for r in D.connected_components(pairs).collect()}
        assert rows == {i: 1 for i in range(1, 8)}

    def test_nonconvergence_raises_not_truncates(self, spark):
        # a 1,000-node path needs 19 star steps, more than the plan has:
        # the action must RAISE, never silently emit wrong cluster ids
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": list(range(1, 1000)),
                          "doc_b": list(range(2, 1001))})
        )
        with pytest.raises(SparkRuntimeException, match="did not converge"):
            D.connected_components(pairs).collect()

    def test_matches_union_find_on_generated_graphs(self, spark):
        """One Spark call over many disjoint generated graphs equals the
        union-find min label of every node."""
        pairs = _generated_graphs()
        frame = spark.createDataFrame(
            pd.DataFrame(pairs, columns=["doc_a", "doc_b"]))
        got = {r.doc_id: r.cluster_id
               for r in D.connected_components(frame).collect()}
        assert got == _union_find_min_labels(pairs)


class TestSimilarity:
    @staticmethod
    def _query(emb):
        return emb.filter(F.col("vec_id") == 0).select("embedding")

    def test_bruteforce_top1_is_self(self, spark, emb):
        top = S.cosine_topk(emb, self._query(emb), k=3).collect()
        assert top[0].vec_id == 0
        assert abs(top[0].cosine - 1.0) < 1e-6

    def test_ann_recall_vs_bruteforce(self, spark, emb):
        q = self._query(emb)
        exact = {r.vec_id for r in S.cosine_topk(emb, q, k=10).collect()}
        approx = {r.vec_id for r in S.ann_topk_expr(
            emb, q, S.hyperplanes(64, 4), k=10).collect()}
        # single-probe LSH: require the query itself + meaningful overlap
        assert 0 in approx
        assert len(exact & approx) >= 3

    def test_bucket_is_deterministic(self, spark, emb):
        planes = S.hyperplanes(64, 6)

        def buckets():
            return {r.vec_id: r.bucket for r in emb.select(
                "vec_id", S.lsh_bucket_expr(planes).alias("bucket")).collect()}

        assert buckets() == buckets()


class TestTextAnalysis:
    def test_language_guess_markers(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2],
             "text": ["the cat and the dog of the house",
                      "der hund und die katze und der baum"]}
        )
        rows = {r.doc_id: r.lang_guess
                for r in TA.with_language_guess(spark.createDataFrame(pdf))
                .select("doc_id", "lang_guess").collect()}
        assert rows == {1: "en", 2: "de"}

    def test_quality_score_range(self, spark, docs):
        vals = [r.quality for r in TA.with_quality_score(docs).select("quality").collect()]
        assert all(0.0 <= v <= 1.0 for v in vals)

    def test_fingerprint_whitespace_invariant(self, spark):
        pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a  b\tc", "a b c"]})
        rows = [r.fingerprint for r in TA.with_fingerprint(spark.createDataFrame(pdf)).collect()]
        assert rows[0] == rows[1]


class TestMultimodal:
    def test_feature_extraction_runs_batched(self, spark):
        media = synthetic_media(spark, n=48)
        feats = extract_media_features(media).collect()
        assert len(feats) == 48
        assert all(r.decode_ok for r in feats)
        assert all(len(r.feature) == 16 for r in feats)

    def test_features_deterministic_and_content_sensitive(self, spark):
        media = synthetic_media(spark, n=8)
        a = {r.media_ref: tuple(r.feature) for r in extract_media_features(media).collect()}
        b = {r.media_ref: tuple(r.feature) for r in extract_media_features(media).collect()}
        assert a == b
        assert len(set(a.values())) == 8  # distinct content -> distinct features


class TestRealImageDecode:
    """Real image bytes take the same path as any other content: the
    kernel decodes nothing, so the feature is the digest-seeded stub."""

    @staticmethod
    def _one(spark, content: bytes):
        pdf = pd.DataFrame([{
            "media_ref": "media://img", "media_type": "image",
            "content": bytearray(content), "width": 3, "height": 3,
            "duration_ms": None,
        }])
        df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
        return extract_media_features(df).collect()[0]

    def test_end_to_end_decode_ok_on_real_bytes(self, spark):
        import hashlib

        import numpy as np

        pgm = b"P5\n3 3\n255\n" + bytes(range(9))
        row = self._one(spark, pgm)
        assert row.decode_ok
        assert row.n_bytes == len(pgm)
        assert row.content_digest == hashlib.md5(pgm).hexdigest()
        assert np.allclose(row.feature, _decode_stub(pgm, "image"))

    def test_magic_prefix_text_falls_back_to_stub(self, spark):
        import numpy as np

        fake = b"BMW sales prose, not a bitmap at all"
        row = self._one(spark, fake)
        assert row.decode_ok
        assert np.allclose(row.feature, _decode_stub(fake, "image"))


class TestCacheHygiene:
    """Round-2 leak class: operators pinning frames for the session
    lifetime.  Every operator returns a lazy plan and pins NOTHING."""

    @staticmethod
    def _persistent_ids(spark) -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def test_lazy_operators_pin_nothing(self, spark, docs):
        d = docs.filter(F.col("doc_id") < 60)
        base = self._persistent_ids(spark)
        for _ in range(3):
            D.ngram_jaccard_pairs(d, threshold=0.2).count()
            D.minhash_signatures(d).count()
            D.simhash(d).count()
            D.connected_components(
                D.lsh_candidate_pairs(D.minhash_signatures(d))).collect()
        assert not self._persistent_ids(spark) - base

    def test_nonconvergence_leaves_no_blocks(self, spark):
        """The raise path pins nothing either."""
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": list(range(1, 1000)),
                          "doc_b": list(range(2, 1001))})
        )
        base = self._persistent_ids(spark)
        with pytest.raises(SparkRuntimeException, match="did not converge"):
            D.connected_components(pairs).collect()
        assert not self._persistent_ids(spark) - base


class TestAsofJoin:
    def test_matches_duckdb_asof_join(self, spark):
        """The union+window formulation must equal DuckDB's native
        ASOF LEFT JOIN (l.ts >= r.ts per user) on the events table."""
        import duckdb

        from pdf_extraction_tests_spark.operators.asof import asof_join

        ev = spark.read.parquet(f"{SF}/events.parquet")
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id", "value")
        right = ev.filter(F.col("event_type") == "signup").select(
            "ts", "user_id", "event_id", "value")
        got = {
            r.event_id: (r.event_id_asof, r.value_asof)
            for r in asof_join(left, right).collect()
        }
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{SF}/events.parquet')")
        want = {
            int(eid): ((int(mid) if mid is not None else None),
                       (float(mv) if mv is not None else None))
            for eid, mid, mv in con.execute("""
                SELECT l.event_id, r.event_id, r.value
                FROM (SELECT * FROM events WHERE event_type = 'purchase') l
                ASOF LEFT JOIN
                     (SELECT * FROM events WHERE event_type = 'signup') r
                  ON l.user_id = r.user_id AND l.ts >= r.ts
            """).fetchall()
        }
        assert got == want
        assert any(m[0] is not None for m in got.values())  # real matches
        assert len(got) > 50

    def test_tolerance_voids_stale_matches(self, spark):
        from pdf_extraction_tests_spark.operators.asof import asof_join

        ev = spark.read.parquet(f"{SF}/events.parquet")
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id")
        right = ev.filter(F.col("event_type") == "signup").select(
            "ts", "user_id", "event_id")
        loose = asof_join(left, right)
        tight = asof_join(left, right,
                          tolerance=F.expr("INTERVAL 1 HOUR"))
        n_loose = loose.filter(F.col("event_id_asof").isNotNull()).count()
        n_tight = tight.filter(F.col("event_id_asof").isNotNull()).count()
        assert 0 < n_tight < n_loose
        # within-tolerance matches are identical to the loose ones
        t = {r.event_id: r.event_id_asof for r in tight.collect()
             if r.event_id_asof is not None}
        l = {r.event_id: r.event_id_asof for r in loose.collect()}
        assert all(l[k] == v for k, v in t.items())

    def test_single_shuffle_plan(self, spark):
        """One exchange (the by-key hash partitioning shared by both window
        sides) — the scale contract of the union+window formulation."""
        from pdf_extraction_tests_spark.operators.asof import asof_join
        from pdf_extraction_tests_spark.plans.audit import (
            count_exchanges, formatted_plan)

        ev = spark.read.parquet(f"{SF}/events.parquet")
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id")
        right = ev.filter(F.col("event_type") == "signup").select(
            "ts", "user_id", "event_id")
        plan = formatted_plan(asof_join(left, right))
        assert count_exchanges(plan) <= 1, plan



    def test_null_keys_and_times_never_match(self, spark):
        """DuckDB ASOF semantics: NULL key/time on either side never
        matches; left rows survive unenriched."""
        import datetime

        from pdf_extraction_tests_spark.operators.asof import asof_join

        t = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, t, 5), (2, None, 5), (3, t, None)],
            "event_id long, ts timestamp, user_id long")
        right = spark.createDataFrame(
            [(None, 5, 100), (t, None, 101)],
            "ts timestamp, user_id long, sig long")
        got = {r.event_id: r.sig_asof for r in asof_join(left, right).collect()}
        assert got == {1: None, 2: None, 3: None}

    def test_duplicate_right_ts_resolves_deterministically(self, spark):
        import datetime

        from pdf_extraction_tests_spark.operators.asof import asof_join

        t0 = datetime.datetime(2024, 1, 1)
        t1 = datetime.datetime(2024, 1, 2)
        left = spark.createDataFrame([(1, t1, 5)],
                                     "event_id long, ts timestamp, user_id long")
        right = spark.createDataFrame(
            [(t0, 5, 100), (t0, 5, 300), (t0, 5, 200)],
            "ts timestamp, user_id long, sig long")
        outs = set()
        for _ in range(3):
            outs.add(asof_join(left.repartition(3), right.repartition(3))
                     .collect()[0].sig_asof)
        assert outs == {300}  # greatest payload, every run


class TestSequencePack:
    def test_concat_and_chunk_semantics(self, spark):
        """Hand-computed packing: docs of 3/2046/4 tokens at seq_len 2048 —
        doc 2 starts at offset 3 of seq 0, doc 3 straddles into seq 1."""
        import pandas as pd

        from pdf_extraction_tests_spark.operators.packing import (
            sequence_pack)

        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["a b c", " ".join(["w"] * 2046), "x y z w"],
        })
        rows = {r.doc_id: r for r in sequence_pack(
            spark.createDataFrame(pdf), seq_len=2048).collect()}
        assert (rows[1].seq_id, rows[1].seq_offset, rows[1].n_tokens) == (0, 0, 3)
        assert (rows[2].seq_id, rows[2].seq_offset) == (0, 3)
        # doc 3's first token lands at absolute position 2049 -> seq 1
        assert (rows[3].seq_id, rows[3].seq_offset) == (1, 1)

    def test_null_text_rows_excluded(self, spark):
        import pandas as pd

        from pdf_extraction_tests_spark.operators.packing import (
            sequence_pack)

        pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a b", None]})
        got = sequence_pack(spark.createDataFrame(pdf)).collect()
        assert [r.doc_id for r in got] == [1]

    def test_auto_sub_width_bounds_totals_frame(self, spark):
        """Round-5 verdict watch item: the prefix-sum totals frame (the
        single-task ordered window) must stay bounded at ANY corpus
        scale.  The width column widens the bucket with the id domain —
        pin the invariant n_subbuckets = ceil((max_id+1)/width)
        <= MAX_TOTALS_ROWS for ids spanning 1e3 .. 1e13 (a sparse frame
        stands in for the scaled corpus: width depends only on max id)."""
        import pandas as pd

        from pdf_extraction_tests_spark.operators.packing import (
            MAX_TOTALS_ROWS, _width)

        for max_id in (1_000, 4_999_999, 65_536_000, 10**13):
            pdf = pd.DataFrame({"doc_id": [0, max_id], "text": ["a", "b"]})
            (w,) = _width(spark.createDataFrame(pdf), "doc_id").first()
            assert w >= 64
            n_buckets = -(-(max_id + 1) // w)
            assert n_buckets <= MAX_TOTALS_ROWS, (max_id, w, n_buckets)

    def test_sub_width_invariance(self, spark, monkeypatch):
        """Any sub-bucket width yields identical packing (the bucket is
        monotone in doc_id).  200 ids under a totals-frame ceiling of 1,
        2 and the default give widths 200, 100 and 64 (1, 2 and 4
        buckets)."""
        import pandas as pd

        from pdf_extraction_tests_spark.operators import packing
        from pdf_extraction_tests_spark.operators.packing import (
            sequence_pack)

        pdf = pd.DataFrame({
            "doc_id": range(200),
            "text": [" ".join(["t"] * (1 + (7 * i) % 95))
                     for i in range(200)],
        })
        d = spark.createDataFrame(pdf)

        def run(ceiling):
            monkeypatch.setattr(packing, "MAX_TOTALS_ROWS", ceiling)
            return sorted(
                (r.doc_id, r.n_tokens, r.seq_id, r.seq_offset)
                for r in sequence_pack(d, seq_len=128).collect())

        default = run(packing.MAX_TOTALS_ROWS)
        assert default == run(1) == run(2)


class TestHyperLogLog:
    """HLL distinct sketch (operators/sketches.py): deterministic
    registers (cross-engine + partition-count invariant) and the
    theoretical error bound vs exact NDV."""

    def _docs(self, spark, n=4000, dup_every=4):
        # n rows, every dup_every-th row repeats an earlier value
        from pyspark.sql import functions as F
        return spark.range(n).select(
            F.concat(F.lit("val-"),
                     (F.col("id") / dup_every).cast("long").cast("string"))
            .alias("v"))

    def test_accuracy_within_bound(self, spark):
        from pdf_extraction_tests_spark.operators.sketches import hll_ndv
        df = self._docs(spark, 4000, 4)
        est = hll_ndv(df, "v").collect()[0]["ndv_est"]
        exact = df.distinct().count()
        # 3 sigma for m=4096: 3 * 1.04 / 64 ~ 4.9 %
        assert abs(est - exact) / exact < 0.05, (est, exact)

    def test_partition_count_invariant(self, spark):
        from pdf_extraction_tests_spark.operators.sketches import hll_ndv
        df = self._docs(spark, 3000, 2)
        r1 = hll_ndv(df.repartition(1), "v").collect()[0]
        r32 = hll_ndv(df.repartition(32), "v").collect()[0]
        assert r1 == r32

    def test_nulls_ignored(self, spark):
        from pyspark.sql import functions as F
        from pdf_extraction_tests_spark.operators.sketches import hll_ndv
        df = self._docs(spark, 1000, 2).withColumn(
            "v", F.when(F.rand(7) < 0.2, None).otherwise(F.col("v")))
        out = hll_ndv(df, "v").collect()[0]
        assert out["nonzero_registers"] > 0

    def test_fixed_state_shape(self, spark):
        # the sketch never exceeds 2^p rows no matter the input size
        from pdf_extraction_tests_spark.operators.sketches import (
            HLL_P, hll_registers)
        df = self._docs(spark, 8000, 1)
        assert hll_registers(df, "v").count() <= 1 << HLL_P


class TestBloomPrefilter:
    """Bloom join pruning (operators/bloom.py): no false negatives,
    bounded false positives, fixed bitset size.  Cross-engine equality
    of the full candidate set (incl. the FP residue) is covered by the
    q96 oracle in tests/test_queries.py's extras loop."""

    def _frames(self, spark):
        from pyspark.sql import functions as F
        keys = spark.range(0, 500, 3).select(
            F.col("id").cast("string").alias("k"))
        big = spark.range(0, 2000).select(
            F.col("id").alias("row_id"),
            F.col("id").cast("string").alias("k"))
        return keys, big

    def test_no_false_negatives(self, spark):
        from pdf_extraction_tests_spark.operators.bloom import (
            bloom_build, bloom_prefilter)
        keys, big = self._frames(spark)
        bl = bloom_build(keys, "k", m_bits=1 << 12)
        cand = set(r.row_id for r in
                   bloom_prefilter(big, "k", bl, m_bits=1 << 12)
                   .select("row_id").collect())
        members = set(range(0, 500, 3))
        assert members <= cand

    def test_false_positive_rate_bounded(self, spark):
        from pdf_extraction_tests_spark.operators.bloom import (
            bloom_build, bloom_prefilter)
        keys, big = self._frames(spark)
        m = 1 << 14
        bl = bloom_build(keys, "k", m_bits=m)
        n_cand = bloom_prefilter(big, "k", bl, m_bits=m).count()
        members = len(range(0, 500, 3))
        non_members = 2000 - members
        # (1 - e^{-kn/m})^3 for k=3, n=167, m=16384 ~ 2.6e-5; allow 100x
        assert (n_cand - members) / non_members < 0.01, n_cand

    def test_bitset_rows_bounded(self, spark):
        from pdf_extraction_tests_spark.operators.bloom import bloom_build
        keys, _ = self._frames(spark)
        m = 1 << 12
        assert bloom_build(keys, "k", m_bits=m).count() <= m // 32

    def test_probe_side_never_shuffles(self, spark):
        from pdf_extraction_tests_spark.operators.bloom import (
            bloom_build, bloom_prefilter)
        from pdf_extraction_tests_spark.plans.audit import (
            count_exchanges, formatted_plan, has_broadcast_join)
        keys, big = self._frames(spark)
        bl = bloom_build(keys, "k", m_bits=1 << 12)
        plan = formatted_plan(bloom_prefilter(big, "k", bl,
                                              m_bits=1 << 12))
        assert has_broadcast_join(plan), plan
        # exchanges only on the tiny bitset build: one word-groupBy
        # shuffle + one BroadcastExchange per hash (AQE reuses the
        # identical sub-plans at runtime); the probe side itself is
        # never repartitioned
        assert "Exchange rangepartitioning" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert count_exchanges(plan) <= 2 * 3, plan
        # every plain Exchange hashes the bitset's word column, not a
        # probe-side column
        import re as _re
        for line in plan.splitlines():
            m = _re.search(r"Exchange hashpartitioning\((\w+)", line)
            if m:
                assert m.group(1).startswith("word"), line


class TestWeightedSample:
    """E-S weighted sampling (operators/sampling.py): determinism,
    weight sensitivity across salts, TakeOrdered plan shape.  Exact
    cross-engine equality is covered by the q97 oracle in
    tests/test_queries.py's extras loop."""

    def _df(self, spark):
        from pyspark.sql import functions as F
        # ids 0..399; weight 100 for ids < 40, weight 1 otherwise
        return spark.range(400).select(
            F.col("id"),
            F.when(F.col("id") < 40, 100).otherwise(1).alias("w"))

    def test_deterministic_and_partition_invariant(self, spark):
        from pdf_extraction_tests_spark.operators.sampling import (
            sample_weighted)
        df = self._df(spark)
        a = sample_weighted(df, "cast(id as string)", "w", 10).collect()
        b = sample_weighted(df.repartition(32), "cast(id as string)",
                            "w", 10).collect()
        assert a == b and len(a) == 10

    def test_heavy_weights_overrepresented(self, spark):
        from pdf_extraction_tests_spark.operators.sampling import (
            sample_weighted)
        df = self._df(spark)
        heavy = 0
        for s in range(8):        # 8 independent samples via salts
            rows = sample_weighted(df, "cast(id as string)", "w", 10,
                                   salt=f"s{s}").collect()
            heavy += sum(1 for r in rows if r.id < 40)
        # heavy ids are 10% of rows but carry ~92% of total weight;
        # expect far more than the unweighted 8 of 80
        assert heavy > 40, heavy

    def test_nonpositive_weights_excluded(self, spark):
        from pyspark.sql import functions as F
        from pdf_extraction_tests_spark.operators.sampling import (
            sample_weighted)
        df = self._df(spark).withColumn(
            "w", F.when(F.col("id") % 2 == 0, -1).otherwise(F.col("w")))
        rows = sample_weighted(df, "cast(id as string)", "w", 400).collect()
        assert all(r.id % 2 == 1 for r in rows)

    def test_plan_is_take_ordered(self, spark):
        from pdf_extraction_tests_spark.operators.sampling import (
            sample_weighted)
        from pdf_extraction_tests_spark.plans.audit import formatted_plan
        plan = formatted_plan(
            sample_weighted(self._df(spark), "cast(id as string)", "w", 10))
        assert "TakeOrderedAndProject" in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan


class TestDupSpanRewrite:
    """Exact substring dedup rewrite (operators/substring_dedup.py):
    semantics on crafted duplicates, pass-through of unique/short docs,
    partitioning invariance.  Cross-engine equality is the q55 oracle."""

    def _df(self, spark):
        shared = " ".join(f"tok{i}" for i in range(8))      # one 8-gram
        rows = [
            (0, f"alpha {shared} omega"),                   # dup in 0 and 1
            (1, f"{shared} tail words here"),
            (2, "a unique document with enough words to gram"),
            (3, "short doc"),                               # < n words
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_duplicated_span_removed(self, spark):
        from pdf_extraction_tests_spark.operators.substring_dedup import (
            duplicated_span_rewrite)
        out = {r.doc_id: r for r in
               duplicated_span_rewrite(self._df(spark)).collect()}
        assert out[0].clean_text == "alpha omega"
        assert out[0].n_dup_words == 8
        assert out[1].clean_text == "tail words here"
        assert out[2].clean_text == "a unique document with enough words to gram"
        assert out[2].n_dup_words == 0
        assert out[3].clean_text == "short doc"      # pass-through, kept
        assert out[3].dup_frac == 0.0

    def test_case_insensitive_match_preserves_original_case(self, spark):
        from pdf_extraction_tests_spark.operators.substring_dedup import (
            duplicated_span_rewrite)
        shared = " ".join(f"tok{i}" for i in range(8))
        df = spark.createDataFrame(
            [(0, f"KEEP {shared.upper()} END"), (1, f"{shared} x y z")],
            ["doc_id", "text"])
        out = {r.doc_id: r.clean_text
               for r in duplicated_span_rewrite(df).collect()}
        assert out[0] == "KEEP END"          # matched lowercased, kept case

    def test_partition_invariant(self, spark):
        from pdf_extraction_tests_spark.operators.substring_dedup import (
            duplicated_span_rewrite)
        df = self._df(spark)
        a = sorted(map(tuple, duplicated_span_rewrite(df).collect()))
        b = sorted(map(tuple,
                       duplicated_span_rewrite(df.repartition(16)).collect()))
        assert a == b


class TestPiiScrub:
    """PII scrubber (operators/pii.py): crafted positives per pattern,
    false-positive guards, Spark == Python-re differential."""

    CASES = [
        ("mail me at jane.doe+x@sub.example.co.uk now", 1, 0, 0, 0),
        ("server 10.0.255.1 and 192.168.1.77 up", 0, 2, 0, 0),
        ("ssn 123-45-6789 leaked", 0, 0, 1, 0),
        ("call 312-555-0188 or 312.555.0199", 0, 0, 0, 2),
        ("version 1.2.3 of lib at 3-4-5", 0, 0, 0, 0),     # guards
        ("plain text with no identifiers at all", 0, 0, 0, 0),
    ]

    def test_counts_and_redaction(self, spark):
        from pdf_extraction_tests_spark.operators.pii import scrub_pii
        df = spark.createDataFrame(
            [(i, t) for i, (t, *_) in enumerate(self.CASES)],
            ["doc_id", "text"])
        out = {r.doc_id: r for r in scrub_pii(df).collect()}
        for i, (text, ne, ni, ns, np_) in enumerate(self.CASES):
            r = out[i]
            assert (r.n_email, r.n_ipv4, r.n_ssn, r.n_phone) == \
                (ne, ni, ns, np_), (text, r)
            assert r.n_pii == ne + ni + ns + np_
            if r.n_pii == 0:
                assert r.clean_text == text      # untouched round-trip
            else:
                for tok in ("@", "123-45-6789", "312-555-0188"):
                    assert tok not in r.clean_text or text.count(tok) == 0

    def test_matches_python_re(self, spark):
        import re
        from pdf_extraction_tests_spark.operators.pii import (
            PATTERNS, scrub_pii)
        texts = [t for t, *_ in self.CASES] + [
            "a@b.cd 1.2.3.4 999-99-9999 111-222-3333 end"]
        df = spark.createDataFrame(list(enumerate(texts)),
                                   ["doc_id", "text"])
        got = {r.doc_id: r for r in scrub_pii(df).collect()}
        for i, text in enumerate(texts):
            clean = text
            for name, pat, repl in PATTERNS:
                assert got[i][f"n_{name}"] == len(re.findall(pat, text)), \
                    (name, text)
                clean = re.sub(pat, repl, clean)
            assert got[i].clean_text == clean


class TestRepetitionSignals:
    """Gopher repetition gates (operators/repetition.py): crafted
    repetitive vs diverse docs; short-doc zero default."""

    def test_signals(self, spark):
        from pdf_extraction_tests_spark.operators.repetition import (
            repetition_signals)
        df = spark.createDataFrame([
            (0, ("spam ham " * 8).strip()),        # one bigram repeated
            (1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),  # all grams unique
            (2, "one"),                            # too short for grams
        ], ["doc_id", "text"])
        out = {r.doc_id: r for r in repetition_signals(df).collect()}
        # doc 0: 16 words, bigrams: "spam ham" x8, "ham spam" x7 -> top 8/15
        assert out[0].n_words == 16
        assert abs(out[0].top_bigram_frac - 8 / 15) < 1e-6
        assert out[0].dup_trigram_frac == 1.0      # every trigram repeats
        assert out[1].top_bigram_frac == round(1 / 9, 6)
        assert out[1].dup_trigram_frac == 0.0
        assert out[2].top_bigram_frac == 0.0 and out[2].n_words == 1

    def test_partition_invariant(self, spark):
        from pdf_extraction_tests_spark.operators.repetition import (
            repetition_signals)
        df = spark.range(64).selectExpr(
            "id as doc_id",
            "concat('x y z w ', repeat('x y ', cast(id % 7 as int))) as text")
        a = sorted(map(tuple, repetition_signals(df).collect()))
        b = sorted(map(tuple,
                       repetition_signals(df.repartition(16)).collect()))
        assert a == b

    def test_gram_runs_equals_per_row_oracle(self, spark):
        """The row-local run-length signals (``repetition.gram_runs``) equal
        the per-row DuckDB oracle: runs at the start, middle and end of the
        sorted array, one gram, no gram, NULL text, and an id on two rows
        with different texts (each row keeps its own signals)."""
        import duckdb
        import pandas as pd

        from pdf_extraction_tests_spark.operators.repetition import (
            repetition_signals, repetition_signals_sql)
        from tests.test_queries import _canon
        rows = [
            (0, ("spam ham " * 8).strip()), (1, "a b c d e f"),
            (2, "a b a b a b z y z y q"), (3, "x x x x"), (4, "one two"),
            (5, "one"), (6, ""), (7, None), (8, "b a b a c d c d c d e"),
            (9, "x x x x y"), (9, "p q r s p q r s"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        documents = pd.DataFrame(rows, columns=["doc_id", "text"])
        con = duckdb.connect()
        con.register("documents", documents)
        want = _canon(con.execute(repetition_signals_sql()).df())
        assert len(want) == len(rows)
        # columns by name: doc_id, dup_trigram_frac, n_words, top_bigram_frac
        assert sorted(t[1:] for t in want if t[0] == 9) == [
            (round(2 / 3, 6), 5, 0.75), (round(4 / 6, 6), 8, round(2 / 7, 6))]
        assert _canon(repetition_signals(df).toPandas()) == want


class TestQuotaSample:
    """Per-group E-S quota (operators/sampling.py quota_sample):
    exact-k per group, weight sensitivity, two-phase == single-window."""

    def _df(self, spark):
        from pyspark.sql import functions as F
        return spark.range(300).select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("grp"),
            F.when(F.col("id") < 30, 50).otherwise(1).alias("w"))

    def test_exact_k_per_group(self, spark):
        from pdf_extraction_tests_spark.operators.sampling import quota_sample
        rows = quota_sample(self._df(spark), "grp",
                            "cast(id as string)", "w", 7).collect()
        per = {}
        for r in rows:
            per.setdefault(r.grp, []).append(r.rank)
        assert set(per) == {"0", "1", "2"}
        assert all(sorted(v) == list(range(1, 8)) for v in per.values())

    def test_two_phase_equals_single_window(self, spark):
        from pyspark.sql import Window as W, functions as F
        from pdf_extraction_tests_spark.operators.sampling import (
            es_key, quota_sample)
        df = self._df(spark)
        got = sorted((r.grp, r.id) for r in quota_sample(
            df, "grp", "cast(id as string)", "w", 7).collect())
        direct = (
            df.where(F.col("w") > 0)
            .withColumn("k", es_key("cast(id as string)", F.col("w")))
            .withColumn("rank", F.row_number().over(
                W.partitionBy("grp").orderBy(
                    F.desc("k"), F.expr("cast(id as string)"))))
            .filter(F.col("rank") <= 7))
        want = sorted((r.grp, r.id) for r in direct.collect())
        assert got == want

    def test_weights_bias_selection(self, spark):
        from pdf_extraction_tests_spark.operators.sampling import quota_sample
        heavy = 0
        for s in range(6):
            rows = quota_sample(self._df(spark), "grp",
                                "cast(id as string)", "w", 5,
                                salt=f"s{s}").collect()
            heavy += sum(1 for r in rows if r.id < 30)
        # heavy ids are 10% of each group but ~85% of group weight
        assert heavy > 30, heavy


class TestKmeansEmbeddings:
    """Distributed k-means (operators/kmeans.py): determinism, partition
    invariance, exact-k cluster usage on separable data.  Cross-engine
    equality is the q60 oracle."""

    def _df(self, spark):
        # 3 tight, well-separated clusters on an 8-dim simplex
        from pyspark.sql import functions as F
        rows = []
        for i in range(90):
            c = i % 3
            base = [0.0] * 8
            base[c] = 10.0
            base[(c + 3) % 8] = (i % 7) * 0.01      # tiny within-cluster jitter
            rows.append((i, base))
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_separable_clusters_recovered(self, spark):
        from pdf_extraction_tests_spark.operators.kmeans import kmeans_assign
        out = kmeans_assign(self._df(spark), k=3, iters=2).collect()
        assert len(out) == 90
        by_true = {}
        for r in out:
            by_true.setdefault(r.vec_id % 3, set()).add(r.cluster)
        # every true cluster maps to exactly one learned cluster
        assert all(len(s) == 1 for s in by_true.values()), by_true
        assert len(set.union(*by_true.values())) == 3

    def test_partition_invariant(self, spark):
        from pdf_extraction_tests_spark.operators.kmeans import kmeans_assign
        df = self._df(spark)
        a = sorted(map(tuple, kmeans_assign(df, k=3).collect()))
        b = sorted(map(tuple, kmeans_assign(df.repartition(16), k=3).collect()))
        assert a == b


class TestRound6OperatorTotality:
    """Hostile-input sweep for the round-6 text operators: none may throw
    or silently drop documents on degenerate text (the same totality
    contract as the PDF decoder).  NULL-text behavior is pinned where the
    engines differ (the synthetic corpora never contain NULL text; the
    oracle contract only covers non-null rows)."""

    TEXTS = [
        (0, ""),                          # empty
        (1, "x"),                         # single char
        (2, "   "),                       # whitespace only
        (3, "السلام 世界 ש"
            "לום"),        # RTL + CJK + Hebrew
        (4, "a" * 5000),                  # one very long word
        (5, ("tok " * 100).strip()),      # one token repeated
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.TEXTS, ["doc_id", "text"])

    def test_all_keep_every_doc(self, spark):
        from pdf_extraction_tests_spark.operators.boilerplate import (
            boilerplate_fraction)
        from pdf_extraction_tests_spark.operators.substring_dedup import (
            duplicated_span_rewrite)
        from pdf_extraction_tests_spark.operators.pii import scrub_pii
        from pdf_extraction_tests_spark.operators.repetition import (
            repetition_signals)
        df = self._df(spark)
        n = len(self.TEXTS)
        for op in (boilerplate_fraction, duplicated_span_rewrite,
                   scrub_pii, repetition_signals):
            rows = op(df).collect()
            assert len(rows) == n, (op.__name__, rows)
            assert {r.doc_id for r in rows} == set(range(n)), op.__name__

    def test_chunking_emits_only_for_nonempty(self, spark):
        from pdf_extraction_tests_spark.operators.chunking import (
            chunk_documents)
        rows = chunk_documents(self._df(spark)).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        # every doc splits to >=1 word under \s+ (empty string -> [""]),
        # so every doc emits at least one chunk; the repeated-token doc
        # emits ceil(100/24) staggered windows
        assert set(by_doc) == set(range(len(self.TEXTS)))
        assert len(by_doc[5]) == 5
        assert by_doc[4][0].n_words == 1

    def test_bm25_and_funnel_signals_on_hostile(self, spark):
        from pdf_extraction_tests_spark.operators.bm25 import bm25_topk
        from pdf_extraction_tests_spark.operators.repetition import (
            repetition_signals)
        hits = bm25_topk(self._df(spark), ["tok", "missing"]).collect()
        assert {r.term for r in hits} == {"tok"}      # only matching terms
        rep = {r.doc_id: r for r in
               repetition_signals(self._df(spark)).collect()}
        assert rep[5].top_bigram_frac == 1.0          # pure repetition
        assert rep[0].top_bigram_frac == 0.0          # too short, kept
