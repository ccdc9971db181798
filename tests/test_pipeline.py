"""Distributed-vs-oracle differential tests for the Spark pipeline.

The invariant (BASELINE.json): exact span-sequence equality
(kind, text, media_ref, order) per doc_id between the Spark job and the
single-process pandas oracle, at any parallelism, with or without the
chunked skew path engaged.
"""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest

from pdf_extraction_tests_spark import extract_core as ec
from pdf_extraction_tests_spark import pipeline as pl
from pdf_extraction_tests_spark.corpus import corpus_pandas, make_document
from pdf_extraction_tests_spark.schema import DOCS, LAYOUT
from tests import fixtures as fx


def _docs_df(spark, docs):
    pdf = pd.DataFrame([{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs])
    return spark.createDataFrame(pdf, schema=DOCS)


def _spans_key(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def _oracle(docs):
    pdf = pd.DataFrame([{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs])
    out = ec.extract_docs_frame(pdf)
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for _, r in out.iterrows()
    }


@pytest.fixture(scope="module")
def synthetic_docs():
    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    return corpus_pandas(src.head(60))


class TestDirectPath:
    def test_fixtures_match_oracle(self, spark):
        df = pl.extract_docs(_docs_df(spark, fx.ALL_FIXTURES), num_parts=4)
        got = _spans_key([r.asDict(recursive=True) for r in df.collect()])
        assert got == _oracle(fx.ALL_FIXTURES)

    def test_corpus_matches_oracle(self, spark, synthetic_docs):
        docs = [
            {"doc_id": r.doc_id, "spans": r.spans}
            for r in synthetic_docs.itertuples(index=False)
        ]
        df = pl.extract_docs(_docs_df(spark, docs), num_parts=8)
        got = _spans_key([r.asDict(recursive=True) for r in df.collect()])
        assert got == _oracle(docs)

    def test_sections_match_oracle(self, spark, synthetic_docs):
        docs = [
            {"doc_id": r.doc_id, "spans": r.spans}
            for r in synthetic_docs.itertuples(index=False)
        ]
        df = pl.extract_docs(_docs_df(spark, docs), num_parts=8)
        got = {
            r["doc_id"]: (r["title"], r["abstract"], r["main_text"], r["document_format"],
                          r["boundary_start"], r["boundary_end"])
            for r in (row.asDict() for row in df.collect())
        }
        pdf = pd.DataFrame(docs)
        oracle = ec.extract_docs_frame(pdf)
        want = {
            r["doc_id"]: (r["title"], r["abstract"], r["main_text"], r["document_format"],
                          r["boundary_start"], r["boundary_end"])
            for _, r in oracle.iterrows()
        }
        assert got == want


# Session configs the chunked path must not depend on (ROADMAP direction 5):
# one- and two-row Arrow batches make a doc's chunk rows straddle batches;
# AQE off and one shuffle partition check extract_docs' part_key
# repartition without coalescing and with every doc in one task.
CONF_MATRIX = [
    {},
    {"spark.sql.execution.arrow.maxRecordsPerBatch": "1"},
    {"spark.sql.execution.arrow.maxRecordsPerBatch": "2"},
    {"spark.sql.ansi.enabled": "false"},
    {"spark.sql.adaptive.enabled": "false"},
    {"spark.sql.shuffle.partitions": "1"},
]


@contextlib.contextmanager
def _session_conf(spark, confs):
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class TestChunkedPath:
    def test_chunked_equals_direct(self, spark):
        """Force every doc through the oversize path; results identical,
        under every config of the matrix."""
        docs = fx.ALL_FIXTURES
        want = _oracle(docs)
        for confs in CONF_MATRIX:
            with _session_conf(spark, confs):
                direct = pl.extract_docs(_docs_df(spark, docs), num_parts=4,
                                         oversize_chars=10**12)
                chunked = pl.extract_docs(_docs_df(spark, docs), num_parts=4,
                                          oversize_chars=0, chunk_spans=2)
                a = _spans_key([r.asDict(recursive=True) for r in direct.collect()])
                b = _spans_key([r.asDict(recursive=True) for r in chunked.collect()])
            assert a == b, confs
            assert a == want, confs

    def test_media_at_chunk_boundary(self, spark):
        """A media span opening a chunk must still anchor to the previous
        chunk's last block (reanchor_media runs post-assembly)."""
        doc = fx.GENERIC_DOC
        for confs in CONF_MATRIX:
            with _session_conf(spark, confs):
                chunked = pl.extract_docs(_docs_df(spark, [doc]), num_parts=2,
                                          oversize_chars=0, chunk_spans=3)
                got = _spans_key([r.asDict(recursive=True) for r in chunked.collect()])
            assert got == _oracle([doc]), confs

    @pytest.mark.parametrize("rows", [
        [("a", 0, 2), ("b", -1, 0)],           # another doc before a's last chunk
        [("a", 0, 2), ("b", 0, 2)],            # another doc's first chunk
        [("a", 0, 3), ("a", 2, 3)],            # a skipped chunk
        [("a", 1, 2)],                         # no first chunk
        [("a", 0, 2)],                         # input ends before the last chunk
    ])
    def test_interrupted_chunk_sequence_raises(self, rows):
        """The batch function never assembles a partial doc.  Each row is
        its own Arrow batch, so the open doc also crosses batches."""
        batches = [_chunk_batch(doc_id, chunk, n) for doc_id, chunk, n in rows]
        with pytest.raises(ValueError):
            list(pl._extract_batches_flat(iter(batches)))

    def test_chunks_straddling_batches_assemble(self):
        """A doc whose chunks arrive in separate batches, with an empty
        batch between them, equals its unchunked extraction."""
        spans = fx.GENERIC_DOC["spans"]
        chunks = [spans[i:i + 3] for i in range(0, len(spans), 3)]
        batches = [_chunk_batch("a", c, len(chunks), sp)
                   for c, sp in enumerate(chunks)]
        batches.insert(1, batches[0].iloc[:0])
        (out,) = pl._extract_batches_flat(iter(batches))
        want = ec.extract_document("a", spans)
        assert list(out["_texts"].iloc[0]) == [s["text"] for s in want["spans"]]
        assert out["main_text"].iloc[0] == want["main_text"]

    def test_null_offsets_number_across_chunks(self):
        """A NULL offset is the region's position in the assembled doc, not
        in its chunk, so chunking keeps the media after the third block."""
        spans = _null_offset_spans()
        chunks = [spans[i:i + 3] for i in range(0, len(spans), 3)]
        batches = [_chunk_batch("a", c, len(chunks), sp)
                   for c, sp in enumerate(chunks)]
        (out,) = pl._extract_batches_flat(iter(batches))
        want = ec.extract_document("a", spans)["spans"]
        assert [s["media_ref"] for s in want].index("m://1") == 3
        assert list(out["_refs"].iloc[0]) == [s["media_ref"] for s in want]
        assert list(out["_texts"].iloc[0]) == [s["text"] for s in want]

    def test_null_offsets_match_oracle(self, spark):
        """NULL offsets cross the Arrow boundary as NaN in a float array;
        the direct and chunked routes number them as the oracle does."""
        doc = {"doc_id": "nulls", "spans": _null_offset_spans()}
        for oversize_chars in (10**12, 0):
            got = pl.extract_docs(_docs_df(spark, [doc]), num_parts=2,
                                  oversize_chars=oversize_chars, chunk_spans=3)
            assert _spans_key([r.asDict(recursive=True) for r in got.collect()]) \
                == _oracle([doc]), oversize_chars

    def test_null_offsets_in_dual_debug_and_layout(self, spark):
        """The per-doc stages read a NULL offset that crossed as NaN as the
        reference reads None."""
        doc = {"doc_id": "nulls", "spans": _null_offset_spans()}
        df = _docs_df(spark, [doc])
        recs = ec.spans_to_regions(doc["spans"])
        assert [r.offset for r in pl.extract_layout(df).collect()] == \
            [r["offset"] for r in recs]
        (dual,) = pl.extract_docs_dual(df).collect()
        assert dual.n_spans_smart == len(ec.extract_document("nulls", doc["spans"])["spans"])
        assert len(pl.debug_boundaries(df).collect()) == \
            len(ec.boundary_debug_records("nulls", recs))


def _null_offset_spans():
    """Six region blocks in reading order and a media span after the third,
    every offset NULL."""
    spans = [dict(fx.region(1, 100, 100 * (i + 1), 900, 40, "plain text",
                            f"Block {i} " + "word " * 8, 0), offset=None)
             for i in range(6)]
    spans.insert(3, fx.span("media", "", "m://1", None))
    return spans


def _chunk_batch(doc_id, chunk, n, spans=()):
    """One Arrow batch of the flat crossing with a single chunk row."""
    return pd.DataFrame([{
        "doc_id": doc_id, "part_key": 0, "_chunk": chunk, "_n": n,
        "_kinds": [s["kind"] for s in spans],
        "_texts": [s["text"] for s in spans],
        "_refs": [s["media_ref"] for s in spans],
        "_orders": [s["offset"] for s in spans],
    }])


def _reference_chunk_rows(docs, chunk_spans, chunk_chars):
    """The reference splitter the JVM chunk rows must equal: slice each
    doc's span array into chunk rows on a running character budget, with a
    span-count cap; empty or NULL spans give one empty chunk."""
    rows = []
    for doc in docs:
        spans = doc["spans"] or []
        cur, cum, chunk = [], 0, 0
        for sp in spans:
            cur.append(sp)
            cum += len(sp.get("text") or "")
            if cum >= chunk_chars or len(cur) >= chunk_spans:
                rows.append((doc["doc_id"], chunk, cur))
                cur, cum = [], 0
                chunk += 1
        if cur or not spans:
            rows.append((doc["doc_id"], chunk, cur))
    return rows


def _text_span(text, offset):
    return {"kind": "text", "text": text, "media_ref": None, "offset": offset}


def _multi_mb_doc():
    big_text = "word " * 2000
    return {"doc_id": "huge", "spans": [
        {"kind": "region", "media_ref": None, "offset": i,
         "text": f"1,200,{100 + i * 10},2000,50,plain text|{big_text}{i}"}
        for i in range(600)]}


def _giant_spans_doc():
    giant = "tok " * 50_000  # ~200k chars per span
    return {"doc_id": "giant_spans", "spans": [
        {"kind": "region", "media_ref": None, "offset": i,
         "text": f"1,200,{100 + i * 200},2000,150,plain text|{giant}{i}"}
        for i in range(6)]}


class TestChunkBoundaries:
    """The JVM chunk rows equal the reference splitter's, row for row."""

    @pytest.mark.parametrize("case", [
        "null_and_empty", "null_text", "exact_budget", "span_cap",
        "span_over_budget", "multi_mb", "giant_spans"])
    def test_jvm_chunk_rows_equal_reference(self, spark, case):
        docs, chunk_spans, chunk_chars = {
            "null_and_empty": (
                [{"doc_id": "null", "spans": None}, {"doc_id": "empty", "spans": []}],
                4, 10),
            "null_text": (
                [{"doc_id": "nt", "spans": [
                    _text_span("abcd", 0), _text_span(None, 1),
                    _text_span("efgh", 2), {"kind": "media", "text": None,
                                            "media_ref": "m://1", "offset": 3},
                    _text_span("ij", 4)]}],
                8, 6),
            # the second span brings the chunk to exactly chunk_chars
            "exact_budget": (
                [{"doc_id": "ex", "spans": [_text_span("x" * n, i) for i, n
                                             in enumerate([4, 6, 10, 3, 7])]}],
                100, 10),
            "span_cap": (
                [{"doc_id": "cap", "spans": [_text_span("s", i) for i in range(7)]}],
                3, 10**6),
            "span_over_budget": (
                [{"doc_id": "over", "spans": [
                    _text_span("a", 0), _text_span("b" * 50, 1), _text_span("c", 2)]}],
                100, 10),
            "multi_mb": ([_multi_mb_doc()], 100, pl.DEFAULT_CHUNK_CHARS),
            "giant_spans": ([_giant_spans_doc()], pl.DEFAULT_CHUNK_SPANS,
                            pl.DEFAULT_CHUNK_CHARS),
        }[case]
        want = _reference_chunk_rows(docs, chunk_spans, chunk_chars)
        df = pl.with_part_key(_docs_df(spark, docs).coalesce(1), 4)
        got = pd.DataFrame([r.asDict() for r in pl._chunk_rows(
            df, "true", chunk_spans, chunk_chars).collect()])
        assert list(zip(got["doc_id"], got["_chunk"], pl._records_from_flat(got))) \
            == want
        n_chunks = pd.Series([doc_id for doc_id, _, _ in want]).value_counts()
        assert list(got["_n"]) == [n_chunks[d] for d in got["doc_id"]]


class TestParquetScanRoutes:
    """Every route over a real multi-file parquet scan.  createDataFrame
    input never takes the scan-fused route (its partition estimate falls
    back to the RDD probe), so this is the test that covers it."""

    @pytest.mark.parametrize("with_oversize", [True, False])
    def test_every_route_matches_oracle(self, spark, tmp_path, synthetic_docs,
                                        with_oversize):
        def oversize(spans):
            return sum(len(s["text"] or "") for s in spans) > pl.DEFAULT_OVERSIZE_CHARS

        docs = [
            {"doc_id": r.doc_id, "spans": r.spans}
            for r in synthetic_docs.itertuples(index=False)
            if with_oversize or not oversize(r.spans)
        ]
        assert sum(oversize(d["spans"]) for d in docs) == int(with_oversize)
        path = tmp_path / "corpus"
        _docs_df(spark, docs).repartition(4).write.parquet(str(path))
        scan = spark.read.schema(DOCS).parquet(str(path))
        # enough estimated splits that repartition=None fuses onto the scan
        total = sum(f.stat().st_size for f in path.glob("*.parquet"))
        key = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(key)
        spark.conf.set(key, str(total // 16))
        try:
            assert pl.estimate_scan_partitions(scan) >= \
                2 * spark.sparkContext.defaultParallelism
            want = _oracle(docs)
            for repartition in (None, True, False):
                rows = pl.extract_docs(scan, num_parts=8,
                                       repartition=repartition).collect()
                assert len(rows) == len(docs), repartition
                got = _spans_key([r.asDict(recursive=True) for r in rows])
                assert got == want, repartition
        finally:
            spark.conf.set(key, old)


class TestCheckpointResume:
    def test_run_and_resume(self, spark, tmp_path, synthetic_docs):
        docs = [
            {"doc_id": r.doc_id, "spans": r.spans}
            for r in synthetic_docs.head(20).itertuples(index=False)
        ]
        df = _docs_df(spark, docs)
        out = str(tmp_path / "out")
        m1 = pl.run_pipeline(spark, df, out, run_id="r1", num_parts=4)
        assert m1["docs"] == 20
        assert m1["resumed_parts_skipped"] == 0
        # resume with the same run_id: everything already done -> no new work
        m2 = pl.run_pipeline(spark, df, out, run_id="r1", num_parts=4)
        assert m2["resumed_parts_skipped"] > 0
        assert m2["docs"] == 20  # totals unchanged — nothing double-counted
        assert pl.read_extracted(spark, out).count() == 20

    def test_distinct_runs_not_cross_attributed(self, spark, tmp_path):
        """Two different run_ids appending into one output dir: the second
        run's checkpoint metrics must count only its own rows (regression:
        metrics recomputed from the whole dir double-counted)."""
        docs = fx.ALL_FIXTURES[:3]
        df = _docs_df(spark, docs)
        out = str(tmp_path / "shared")
        m1 = pl.run_pipeline(spark, df, out, run_id="runA", num_parts=4)
        m2 = pl.run_pipeline(spark, df, out, run_id="runB", num_parts=4)
        assert m1["docs"] == 3
        assert m2["docs"] == 3  # not 6

    def test_crash_between_data_and_checkpoint_invisible(self, spark, tmp_path):
        """Duplicate-append window (round-1 advice): a run that dies AFTER
        the data write but BEFORE the checkpoint append must not double-
        expose rows when resumed — the orphan attempt partition stays
        invisible to read_extracted and to metrics."""
        from pyspark.sql import functions as F

        docs = fx.ALL_FIXTURES[:3]
        df = _docs_df(spark, docs)
        out = str(tmp_path / "crash")
        # simulate the dead run: data written under an attempt, no checkpoint
        orphan = (
            pl.extract_docs(pl.with_part_key(df, 4), 4)
            .withColumn("run_id", F.lit("rC"))
            .withColumn("attempt_id", F.lit("dead_attempt"))
        )
        (orphan.write.mode("append").partitionBy("run_id", "attempt_id")
         .parquet(f"{out}/extracted"))
        # resume with the same run_id: no checkpoint rows -> everything
        # re-processes under a fresh attempt_id
        m = pl.run_pipeline(spark, df, out, run_id="rC", num_parts=4)
        assert m["docs"] == 3  # metrics count this attempt only, not 6
        committed = pl.read_extracted(spark, out)
        assert committed.count() == 3  # orphan rows invisible
        assert committed.select("doc_id").distinct().count() == 3

    def test_empty_input_then_real_run(self, spark, tmp_path):
        """An empty input into a fresh out_dir writes no data file (only
        extracted/_SUCCESS); the run still returns zero metrics, and a later
        non-empty run into the same dir commits and exposes its rows."""
        out = str(tmp_path / "empty")
        m = pl.run_pipeline(spark, spark.createDataFrame([], DOCS), out,
                            run_id="rE", num_parts=4)
        assert (m["docs"], m["spans"], m["parse_failures"],
                m["resumed_parts_skipped"]) == (0, 0, 0, 0)
        docs = fx.ALL_FIXTURES[:3]
        m2 = pl.run_pipeline(spark, _docs_df(spark, docs), out,
                             run_id="rF", num_parts=4)
        assert m2["docs"] == 3
        committed = pl.read_extracted(spark, out)
        assert sorted(r.doc_id for r in committed.select("doc_id").collect()) \
            == sorted(d["doc_id"] for d in docs)

    def test_publish_snapshot_holds_each_run_once(self, spark, tmp_path,
                                                  monkeypatch):
        """``job.py --publish-snapshot`` publishes only its own run's rows:
        two run ids into one output dir, publishing after each, leave every
        doc twice in the snapshot table (not once for the first run and
        twice more for the second)."""
        from collections import Counter

        import job
        from pdf_extraction_tests_spark import session, snapshots as S

        docs = fx.ALL_FIXTURES[:3]
        src = str(tmp_path / "docs")
        _docs_df(spark, docs).write.parquet(src)
        monkeypatch.setattr(session, "get_spark", lambda **_: spark)
        monkeypatch.setattr(spark, "stop", lambda: None)
        tbl = str(tmp_path / "tbl")
        for run_id in ("rP1", "rP2"):
            job.main(["--input", src, "--output", str(tmp_path / "out"),
                      "--run-id", run_id, "--num-parts", "4",
                      "--publish-snapshot", tbl])
        got = Counter(r.doc_id for r in S.read_snapshot(spark, tbl).collect())
        assert got == {d["doc_id"]: 2 for d in docs}
        assert S.committed_tags(tbl) == {"run-rP1", "run-rP2"}

    def test_lineage_rows_written(self, spark, tmp_path):
        docs = fx.ALL_FIXTURES
        out = str(tmp_path / "out2")
        pl.run_pipeline(spark, _docs_df(spark, docs), out, run_id="rX", num_parts=4)
        ckpt = spark.read.parquet(f"{out}/checkpoint")
        rows = ckpt.collect()
        assert {r.status for r in rows} == {"done"}
        assert sum(r.docs for r in rows) == len(docs)
        assert sum(r.parse_failures for r in rows) == 1  # fix_broken

    def test_missing_table_is_probed_not_read(self, spark, tmp_path,
                                              monkeypatch):
        """A table that does not exist yet reads as None without a parquet
        read (a failed read logs a FileNotFoundException stack trace); an
        existing one is read once, and one holding no data files yet (a
        first write that died) reads as None."""
        from pyspark.sql import DataFrameReader

        from pdf_extraction_tests_spark.tables import read_table

        calls = []
        real = DataFrameReader.parquet
        monkeypatch.setattr(DataFrameReader, "parquet",
                            lambda self, *a, **k: calls.append(a)
                            or real(self, *a, **k))
        assert read_table(spark, str(tmp_path / "missing")) is None
        assert calls == []
        spark.range(3).write.parquet(str(tmp_path / "present"))
        assert read_table(spark, str(tmp_path / "present")).count() == 3
        assert len(calls) == 1
        (tmp_path / "died" / "_temporary" / "0").mkdir(parents=True)
        assert read_table(spark, str(tmp_path / "died")) is None


class TestHostileInputs:
    def test_null_and_empty_spans_not_dropped(self, spark):
        """A NULL spans array must route through the pipeline and emit an
        empty extraction — not silently vanish from both size-routing paths
        (regression: F.aggregate over NULL returned NULL total_chars)."""
        pdf = pd.DataFrame(
            [
                {"doc_id": "null_spans", "spans": None},
                {"doc_id": "empty", "spans": []},
                {"doc_id": "only_media",
                 "spans": [{"kind": "media", "text": "", "media_ref": "m://x",
                            "offset": 0}]},
            ]
        )
        from pdf_extraction_tests_spark.schema import DOCS

        df = spark.createDataFrame(pdf, schema=DOCS)
        rows = {r.doc_id: r for r in pl.extract_docs(df, num_parts=2).collect()}
        assert set(rows) == {"null_spans", "empty", "only_media"}
        assert len(rows["only_media"].spans) == 1


class TestOversizedDoc:
    def test_multi_mb_doc(self, spark):
        """A deliberately huge doc (SURVEY §7 risk) goes through chunking."""
        doc = _multi_mb_doc()
        df = pl.extract_docs(_docs_df(spark, [doc]), num_parts=2,
                             oversize_chars=100_000, chunk_spans=100)
        rows = [r.asDict(recursive=True) for r in df.collect()]
        assert len(rows) == 1
        assert _spans_key(rows) == _oracle([doc])

    def test_few_giant_spans_split_by_char_budget(self, spark):
        """A doc of FEW huge spans must still split into many parse chunks
        (char-budget chunking; span-count alone would make it one chunk)."""
        doc = _giant_spans_doc()
        df = pl.extract_docs(_docs_df(spark, [doc]), num_parts=2,
                             oversize_chars=100_000, chunk_chars=200_000)
        rows = [r.asDict(recursive=True) for r in df.collect()]
        assert len(rows) == 1
        assert _spans_key(rows) == _oracle([doc])

    def test_dual_debug_and_layout_chunk_oversized_doc(self, spark):
        """dual, debug and layout cross a doc over DEFAULT_OVERSIZE_CHARS as
        chunk rows (the explode's Generate is in the executed plan), and
        their rows equal the per-doc reference over the whole doc."""
        spans = [{"kind": "region", "media_ref": None, "offset": i,
                  "text": f"1,200,{100 + i * 10},2000,50,plain text|"
                          + "word " * 2000 + str(i)}
                 for i in range(240)]
        spans.insert(120, fx.span("media", "", "m://big", 240))
        doc = {"doc_id": "oversized", "spans": spans}
        assert sum(len(s["text"]) for s in spans) > pl.DEFAULT_OVERSIZE_CHARS
        want = {
            "extract_docs_dual":
                ec.extract_dual_frame(pd.DataFrame([doc])).to_dict("records"),
            "debug_boundaries": ec.boundary_debug_records(
                "oversized", ec.spans_to_regions(spans)),
            "extract_layout": [
                {"doc_id": "oversized",
                 **{f.name: r[f.name] for f in LAYOUT.fields[1:]}}
                for r in ec.spans_to_regions(spans)],
        }
        assert all(want.values())
        df = _docs_df(spark, [doc])
        for name, rows in want.items():
            out = getattr(pl, name)(df)
            assert [r.asDict() for r in out.collect()] == rows, name
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Generate" in plan, (name, plan)


class TestLayoutTable:
    def test_layout_rows(self, spark):
        lay = pl.extract_layout(_docs_df(spark, [fx.GENERIC_DOC, fx.BROKEN_DOC]))
        rows = lay.collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        # GENERIC: every span (incl. abandon + media) has a layout row
        assert len(by_doc["fix_generic"]) == len(fx.GENERIC_DOC["spans"])
        assert any(r.element_type == "abandon" for r in by_doc["fix_generic"])
        assert any(r.element_type == "media" for r in by_doc["fix_generic"])
        # BROKEN: the malformed span appears as a parse_failure row
        assert sum(r.parse_failure for r in by_doc["fix_broken"]) == 1


class TestDualExtractorStage:
    def test_dual_equals_joined_pipelines(self, spark, synthetic_docs):
        """The single-pass dual stage must produce exactly the agreement
        rows of the smart pipeline joined with the simple kernel run per
        doc (same kernels, one parse)."""
        docs = [
            {"doc_id": r.doc_id, "spans": r.spans}
            for r in synthetic_docs.itertuples(index=False)
        ][:30]
        df = _docs_df(spark, docs)
        dual = {
            r.doc_id: (r.title_match, r.n_spans_smart, r.n_spans_simple,
                       r.main_len_ratio)
            for r in pl.extract_docs_dual(df).collect()
        }
        smart = {r.doc_id: r for r in pl.extract_docs(df, num_parts=4).collect()}
        simple = {
            d["doc_id"]: ec.extract_simple_document(d["doc_id"], d["spans"])
            for d in docs
        }
        assert set(dual) == set(smart) == set(simple)
        for doc_id, got in dual.items():
            sm, si = smart[doc_id], simple[doc_id]
            want = (
                sm.title == si["title"],
                len(sm.spans),
                len(si["spans"]),
                round(len(sm.main_text) / max(len(si["main_text"]), 1), 4),
            )
            assert got == want, doc_id


class TestDebugBoundaries:
    def test_boundaries_agree_with_extractor(self, spark, synthetic_docs):
        docs = [
            {"doc_id": r.doc_id, "spans": r.spans}
            for r in synthetic_docs.itertuples(index=False)
        ][:30]
        df = _docs_df(spark, docs)
        dbg = pl.debug_boundaries(df).collect()
        extracted = {r.doc_id: r for r in pl.extract_docs(df, num_parts=4).collect()}
        assert dbg, "debug relation came back empty"
        seen = set()
        for r in dbg:
            seen.add(r.doc_id)
            e = extracted[r.doc_id]
            # the debug rows carry the extractor's own boundaries
            assert (r.boundary_start, r.boundary_end) == \
                (e.boundary_start, e.boundary_end)
            # context window and flags are self-consistent
            assert (abs(r.row_id - r.boundary_start) <= 3
                    or abs(r.row_id - r.boundary_end) <= 3)
            assert r.in_slice == (r.boundary_start <= r.row_id < r.boundary_end)
            assert len(r.text_preview) <= 80
        assert len(seen) > 10  # most docs produce boundary context rows
