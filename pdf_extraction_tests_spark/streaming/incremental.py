"""Streaming/incremental extraction.

The reference is a batch per-file loop with "skip if .RData exists" restart
semantics (Document_Processor_DocLayout_YOLO_Code_v10.R:3712-3723).  Two
Spark re-expressions:

1. **Batch incrementality** — :func:`pdf_extraction_tests_spark.pipeline.
   run_pipeline` with its checkpoint anti-join (the primary path; SURVEY §2.9).
2. **Structured Streaming** (this module) — ``readStream`` over the docs
   table + ``foreachBatch`` applying the same ``extract_docs`` plan with
   ``Trigger.AvailableNow`` semantics: each micro-batch is extracted and
   committed as one epoch-tagged snapshot, so a restart from Spark's own
   streaming checkpoint resumes exactly once.  Useful when the corpus grows
   continuously (new parquet files landing).

Both paths run the identical kernel — streaming changes scheduling, never
results (asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..pipeline import extract_docs
from ..schema import DOCS


def snapshot_batch_committer(table_dir: str, num_parts: int = 16):
    """foreachBatch body for :func:`stream_extract` — exposed for direct
    testing of the replay-idempotence contract."""

    def process_batch(batch_df, epoch_id: int) -> None:
        from .. import snapshots as S

        # a replayed epoch after a crash is already durable: its tag makes
        # the commit a no-op, and the lazy frame never runs extraction
        out = extract_docs(batch_df, num_parts=num_parts)
        S.commit_snapshot(out, table_dir, mode="append",
                          tag=f"epoch-{int(epoch_id)}")

    return process_batch


def stream_extract(
    spark: SparkSession,
    input_path: str,
    table_dir: str,
    checkpoint_path: str,
    num_parts: int = 16,
    max_files_per_trigger: int = 8,
):
    """Start an available-now streaming extraction of a parquet directory
    into the snapshot table ``table_dir`` (read it with
    ``snapshots.read_snapshot``).

    Returns the StreamingQuery; callers use ``processAllAvailable()`` +
    ``stop()`` for batch-drain semantics, or leave it running for continuous
    ingestion.  Restart with the same checkpoint_path resumes exactly once.

    A plain-parquet foreachBatch append has the classic exactly-once hole:
    a crash between the parquet write and the streaming-checkpoint commit
    replays the batch and duplicates its rows.  Here each batch commits one
    snapshot (snapshots.py) tagged with its epoch id — publish is a single
    atomic link, and a replayed epoch finds its tag already committed and
    becomes a no-op, so the table holds each batch exactly once no matter
    where a crash lands.  Readers see only published snapshots (isolation)
    and can time-travel the ingest history.  Pinned in
    tests/test_streaming.py.
    """
    stream = (
        spark.readStream.schema(DOCS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return (
        stream.writeStream
        .foreachBatch(snapshot_batch_committer(table_dir, num_parts))
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
