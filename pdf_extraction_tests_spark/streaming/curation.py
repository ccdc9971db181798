"""Streaming corpus curation: per-document gates applied as data lands.

The batch curation funnel (queries.q59) composes corpus-LEVEL signals
(learned boilerplate df, cross-doc canonicalization) with per-DOCUMENT
gates (language ID, quality score, within-doc repetition, PII scrub).
Only the per-document half is micro-batch-expressible: a batch cannot
know the corpus's gram document frequencies.  This module streams that
half — each arriving batch is gated, scrubbed, and appended to a
snapshot table with epoch-tagged exactly-once commits (the
snapshot_batch_committer contract from streaming/incremental.py) — and
the corpus-level half runs downstream over the curated table (batch q59,
or dedup.lsh_index_append for incremental near-dup).

Because every gate is per-document, ANY batch split produces exactly the
rows of a one-shot run (pinned in tests/test_streaming_curation.py) —
the streaming path changes scheduling, never results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])


def curate_batch(docs: DataFrame,
                 lang: str | None = "en",
                 min_quality: float = 1.0,
                 max_dup_trigram: float = 0.05,
                 max_top_bigram: float = 0.1) -> DataFrame:
    """The per-document gate stack over one (micro-)batch.

    Returns the KEPT documents as (doc_id, clean_text, lang_guess,
    quality, top_bigram_frac, dup_trigram_frac) — clean_text is
    PII-scrubbed.  Same column definitions as the standalone queries
    (q29/q30/q57/q56), so the streaming path cannot drift from them.

    Every signal is a column of one projection over the batch and every
    gate a filter: no exchange and no join back on ``doc_id``, so each
    input row gives at most one output row, a repeated id included.

    ``lang=None`` disables the language gate and skips the language-ID
    kernel (lang_guess reads NULL): the plan then has no Python node, so
    pipelines that gate on language elsewhere do not pay the Arrow
    round trip here.
    """
    from pdf_extraction_tests_spark.operators.pii import redacted
    from pdf_extraction_tests_spark.operators.repetition import (
        gram_arrays, repetition_fracs)
    from pdf_extraction_tests_spark.operators.text_analysis import (
        with_language_guess, with_quality_score)

    if lang is None:
        scored, lang_gate = docs, F.lit(True)
    else:
        scored = with_language_guess(docs)
        lang_gate = F.col("lang_guess") == lang
    return (
        with_quality_score(scored)
        .filter(lang_gate)
        # a kept row's guess is ``lang`` itself.  Read from the kernel's
        # column instead, it would run the kernel twice: the optimizer
        # pushes the filter below the projection that computes the guess.
        .select("doc_id", redacted().alias("clean_text"),
                F.lit(lang).cast("string").alias("lang_guess"), "quality",
                *gram_arrays())
        .select("doc_id", "clean_text", "lang_guess", "quality",
                *repetition_fracs())
        .filter(
            (F.col("quality") >= min_quality)
            & (F.col("dup_trigram_frac") <= max_dup_trigram)
            & (F.col("top_bigram_frac") <= max_top_bigram)
        )
    )


def curation_batch_committer(table_dir: str, **gate_kwargs):
    """foreachBatch body: gate the batch, append the keepers as one
    epoch-tagged snapshot (replay after a crash is a no-op)."""

    def process_batch(batch_df, epoch_id: int) -> None:
        from pdf_extraction_tests_spark import snapshots as S

        tag = f"epoch-{int(epoch_id)}"
        if tag in S.committed_tags(table_dir):
            return
        kept = curate_batch(batch_df, **gate_kwargs)
        S.commit_snapshot(kept, table_dir, mode="append", tag=tag)

    return process_batch


def stream_curate(spark: SparkSession, input_path: str, table_dir: str,
                  checkpoint_path: str, max_files_per_trigger: int = 8,
                  **gate_kwargs):
    """Available-now streaming curation over a growing parquet directory
    of documents; exactly-once into the snapshot table."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return (
        stream.writeStream
        .foreachBatch(curation_batch_committer(table_dir, **gate_kwargs))
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
