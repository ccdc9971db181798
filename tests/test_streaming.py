"""Streaming extraction: same results as batch, exactly-once on resume."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extraction_tests_spark import extract_core as ec
from pdf_extraction_tests_spark import snapshots as S
from pdf_extraction_tests_spark.corpus import corpus_pandas
from pdf_extraction_tests_spark.schema import DOCS
from pdf_extraction_tests_spark.streaming.incremental import stream_extract


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(40)
    pdf = corpus_pandas(src)
    path = str(tmp_path_factory.mktemp("stream") / "docs")
    # two files => at least two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(pdf.iloc[:20], schema=DOCS).write.parquet(path)
    spark.createDataFrame(pdf.iloc[20:], schema=DOCS).write.mode("append").parquet(path)
    return path, pdf


def test_streaming_matches_batch_kernel(spark, corpus_path, tmp_path):
    path, pdf = corpus_path
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract(spark, path, out, ckpt, num_parts=4, max_files_per_trigger=1)
    q.awaitTermination()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                      for s in r["spans"]]
        for r in (row.asDict(recursive=True)
                  for row in S.read_snapshot(spark, out).collect())
    }
    oracle_df = ec.extract_docs_frame(pdf)
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                      for s in r["spans"]]
        for _, r in oracle_df.iterrows()
    }
    assert got == want


def test_streaming_restart_is_exactly_once(spark, corpus_path, tmp_path):
    path, pdf = corpus_path
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    q1 = stream_extract(spark, path, out, ckpt, num_parts=4)
    q1.awaitTermination()
    n1 = S.read_snapshot(spark, out).count()
    # restart with same checkpoint: no new input -> no duplicate output
    q2 = stream_extract(spark, path, out, ckpt, num_parts=4)
    q2.awaitTermination()
    n2 = S.read_snapshot(spark, out).count()
    assert n1 == len(pdf)
    assert n2 == n1


def test_snapshot_sink_matches_batch_and_travels(spark, corpus_path, tmp_path):
    """stream_extract: exactly-once into an atomic snapshot table; each
    micro-batch is one epoch-tagged snapshot, history time-travels."""
    path, pdf = corpus_path
    table = str(tmp_path / "snap_tbl")
    ckpt = str(tmp_path / "snap_ckpt")
    q = stream_extract(spark, path, table, ckpt, num_parts=4,
                       max_files_per_trigger=1)
    q.awaitTermination()
    got = {r.doc_id for r in S.read_snapshot(spark, table).collect()}
    assert got == set(pdf["doc_id"])
    snaps = S.list_snapshots(table)
    assert len(snaps) >= 2                      # one snapshot per micro-batch
    assert all(m["tag"].startswith("epoch-") for m in snaps)
    # time travel: the first epoch alone holds a strict subset
    first = {r.doc_id
             for r in S.read_snapshot(spark, table, snaps[0]["version"]).collect()}
    assert first < got


def test_snapshot_sink_replayed_epoch_is_noop(spark, corpus_path, tmp_path):
    """The exactly-once hole a plain append sink has: a replayed epoch
    (crash between sink write and checkpoint commit) must not duplicate
    rows — the epoch tag makes the second commit a no-op."""
    from pdf_extraction_tests_spark.streaming.incremental import (
        snapshot_batch_committer)

    path, pdf = corpus_path
    table = str(tmp_path / "replay_tbl")
    commit = snapshot_batch_committer(table, num_parts=4)
    batch = spark.read.schema(DOCS).parquet(path)
    commit(batch, 0)
    n1 = S.read_snapshot(spark, table).count()
    commit(batch, 0)                            # replay after simulated crash
    assert S.read_snapshot(spark, table).count() == n1
    assert len(S.list_snapshots(table)) == 1
    commit(batch, 1)                            # a NEW epoch still appends
    assert S.read_snapshot(spark, table).count() == 2 * n1
