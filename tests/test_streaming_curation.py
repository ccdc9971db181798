"""Streaming curation (streaming/curation.py): batch-split == one-shot,
exactly-once replay, end-to-end availableNow drain."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_extraction_tests_spark.streaming.curation import (
    curate_batch,
    curation_batch_committer,
    stream_curate,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_stream_drain_equals_one_shot(spark, tmp_path):
    from pdf_extraction_tests_spark.snapshots import read_snapshot

    docs = _docs(spark)
    inp = str(tmp_path / "in")
    # two landing files -> at least two micro-batches at 1 file/trigger
    docs.filter("doc_id < 250").repartition(1).write.parquet(inp)
    docs.filter("doc_id >= 250").repartition(1).write.mode("append").parquet(inp)
    table = str(tmp_path / "curated")
    # lang=None: the streaming-machinery contract is under test, not the
    # LID expression (whose analysis cost re-pays per epoch); the full
    # stack incl. LID runs once in test_kept_rows_are_scrubbed_and_gated
    q = stream_curate(spark, inp, table,
                      str(tmp_path / "ckpt"), max_files_per_trigger=1,
                      lang=None)
    q.processAllAvailable()
    q.stop()

    got = sorted(map(tuple, read_snapshot(spark, table).collect()))
    want = sorted(map(tuple, curate_batch(docs, lang=None).collect()))
    assert got == want
    assert want, "gates must keep a non-empty subset"
    assert len(want) < docs.count(), "gates must drop something"


def test_replayed_epoch_is_noop(spark, tmp_path):
    from pdf_extraction_tests_spark.snapshots import (
        current_version, read_snapshot)

    table = str(tmp_path / "curated")
    commit = curation_batch_committer(table, lang=None)
    batch = _docs(spark).filter("doc_id < 100")
    commit(batch, 0)
    v1 = current_version(table)
    n1 = read_snapshot(spark, table).count()
    commit(batch, 0)                      # crash-replay of the same epoch
    assert current_version(table) == v1   # no second snapshot
    assert read_snapshot(spark, table).count() == n1
    commit(_docs(spark).filter("doc_id >= 100"), 1)
    assert current_version(table) == v1 + 1


def test_kept_rows_are_scrubbed_and_gated(spark):
    kept = curate_batch(
        _docs(spark).withColumn(
            "text",
            F.concat("text", F.lit(" reach me at a@b.example now")),
        )
    ).limit(20).collect()
    assert kept
    for r in kept:
        assert "@" not in r.clean_text          # PII scrub applied
        assert r.lang_guess == "en"
        assert float(r.quality) >= 1.0


# loose gates keep every row the language gate keeps, so each copy of a
# repeated id reaches the output
_LOOSE = dict(min_quality=0.0, max_dup_trigram=1.0, max_top_bigram=1.0)


def _with_repeats(tmp_path):
    """sf0.001 documents plus a second copy of their first 3 rows, as
    ``tmp_path/documents.parquet``; returns (all rows, the 3 copies)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{SF}/documents.parquet")
    pq.write_table(pa.concat_tables([base, base.slice(0, 3)]),
                   tmp_path / "documents.parquet")
    pq.write_table(base.slice(0, 3), tmp_path / "repeats.parquet")
    return base.num_rows + 3, base.slice(0, 3)


def _curate_sql(lang, min_quality=1.0, max_dup_trigram=0.05,
                max_top_bigram=0.1) -> str:
    """DuckDB oracle for ``curate_batch`` over ``documents``: the component
    operators' own SQL builders, composed per ROW.  Rows are keyed by their
    rank in (doc_id, text) order; rows that tie are copies of one row."""
    from pdf_extraction_tests_spark.operators.pii import scrub_pii_sql
    from pdf_extraction_tests_spark.operators.repetition import (
        repetition_signals_sql)
    from pdf_extraction_tests_spark.operators.text_analysis import (
        language_guess_sql, quality_score_sql)

    if lang is None:
        lang_cte, lang_join = "", ""
        lang_col, lang_gate = "CAST(NULL AS VARCHAR)", "TRUE"
    else:
        lang_cte = f"lang AS ({language_guess_sql('d')}),"
        lang_join = "JOIN lang l USING (doc_id)"
        lang_col, lang_gate = "l.lang_guess", f"l.lang_guess = '{lang}'"
    return f"""
    WITH d AS (
      SELECT row_number() OVER (ORDER BY doc_id, text) AS doc_id,
             doc_id AS src_id, text
      FROM documents
    ),
    {lang_cte}
    qual AS ({quality_score_sql('d')}),
    rep AS ({repetition_signals_sql('d')}),
    pii AS ({scrub_pii_sql('d')})
    SELECT d.src_id AS doc_id, p.clean_text, {lang_col} AS lang_guess,
           q.quality, r.top_bigram_frac, r.dup_trigram_frac
    FROM d {lang_join}
    JOIN qual q USING (doc_id)
    JOIN rep r USING (doc_id)
    JOIN pii p USING (doc_id)
    WHERE {lang_gate} AND q.quality >= {min_quality}
      AND r.dup_trigram_frac <= {max_dup_trigram}
      AND r.top_bigram_frac <= {max_top_bigram}
    """


def test_curate_batch_matches_oracle_with_repeated_ids(spark, tmp_path):
    """curate_batch equals its per-row DuckDB oracle on sf0.001 plus 3
    repeated rows, under the default gates and loose ones without the
    language gate, in the default conf and the combined off-default conf
    (every conf reads as before afterwards).  Each input row gives at most
    one output row: the loose gates keep both copies of a repeated id."""
    from tests.test_queries import _OFF_DEFAULT_CONF, _canon, _duck_documents

    n_rows, _ = _with_repeats(tmp_path)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    cases = [({"lang": "en"}, _curate_sql("en")),
             ({"lang": None, **_LOOSE}, _curate_sql(None, **_LOOSE))]
    wants = [_canon(_duck_documents(tmp_path, sql)) for _, sql in cases]
    assert len(wants[1]) == n_rows
    saved = {k: spark.conf.get(k, None) for k in _OFF_DEFAULT_CONF}
    try:
        for conf in ({}, _OFF_DEFAULT_CONF):
            for k, v in conf.items():
                spark.conf.set(k, v)
            for (gates, _), want in zip(cases, wants):
                got = _canon(curate_batch(docs, **gates).toPandas())
                assert got == want, (conf, gates)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert {k: spark.conf.get(k, None) for k in _OFF_DEFAULT_CONF} == saved


def test_repeated_id_split_across_epochs_equals_one_shot(spark, tmp_path):
    """The second copy of 3 ids lands one epoch after the first: the
    curated table holds the same rows as one curate_batch over both
    epochs' rows, two per repeated id."""
    from pdf_extraction_tests_spark.snapshots import read_snapshot

    _, repeats = _with_repeats(tmp_path)
    table = str(tmp_path / "curated")
    commit = curation_batch_committer(table, lang=None, **_LOOSE)
    commit(_docs(spark), 0)
    commit(spark.read.parquet(str(tmp_path / "repeats.parquet")), 1)

    got = sorted(map(tuple, read_snapshot(spark, table).collect()))
    one_shot = curate_batch(
        spark.read.parquet(str(tmp_path / "documents.parquet")),
        lang=None, **_LOOSE)
    assert got == sorted(map(tuple, one_shot.collect()))
    ids = [r[0] for r in got]
    assert all(ids.count(i) == 2 for i in repeats.column("doc_id").to_pylist())
