"""Smoke tests replicating the driver's checks on __spark_entry__.py."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_runs(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 500  # sf0.001 documents
    assert {f.name for f in df.schema.fields} >= {
        "doc_id", "title", "abstract", "document_format", "n_spans"
    }


def test_every_oracle_key_has_query(spark):
    mod = _load_entry()
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


def test_udf_queries_run_in_fresh_session_without_extraction():
    """Round-7 regression: with_language_guess's Arrow kernel is pickled by
    reference to the package, so a session that never ran an extraction
    (which would have shipped the package via addPyFile) must STILL be able
    to run the LID queries — the operator now ships the package itself.
    The ``bpe`` token count (the other ``shipping.pandas_column`` user)
    and q33's media feature kernel (built on ``shipping.map_batches``) are
    held to the same rule (96 is q33's row count at sf0.001).  One
    subprocess; each case gets its own new SparkContext, so one case
    shipping the package cannot hide another that does not."""
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    code = f"""
import sys, traceback
sys.path.insert(0, "{repo}")
from pyspark.sql import SparkSession, functions as F
from pdf_extraction_tests_spark.functions.bpe import token_count_col
from pdf_extraction_tests_spark.operators.multimodal import (
    extract_media_features, media_from_documents)
from pdf_extraction_tests_spark.operators.text_analysis import with_language_guess

def lid(spark, d):
    return with_language_guess(d).select("doc_id", "lang_guess").count()

def bpe(spark, d):
    return d.select(F.sum(token_count_col("text", "bpe"))).first()[0] > 0

def media(spark, d):
    return extract_media_features(media_from_documents(d)).count()

stopped = []  # keeps each stopped context alive so no id(sc) is reused
for case in (lid, bpe, media):
    spark = (SparkSession.builder.master("local[2]").appName("fresh")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try:
        print(case.__name__, case(spark, d), flush=True)
    except Exception:
        traceback.print_exc()
    stopped.append(spark.sparkContext)
    spark.stop()
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd="/tmp", timeout=300)
    for want in ("lid 500", "bpe True", "media 96"):
        assert want in res.stdout.splitlines(), (
            res.stdout + res.stderr[-3000:])


def test_building_every_query_runs_no_job(spark):
    """Building a query (calling its function, not running the frame)
    runs no Spark job but parquet footer reads, so every job a query costs
    is in its plan.  Each registered query builds under its own job group,
    with AQE off (one job per action, not one per query stage)."""
    mod = _load_entry()
    built = {**mod.queries(), **mod.extra_queries()}
    sc = spark.sparkContext
    stages = {}
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, fn in built.items():
            sc.setJobGroup(name, name)
            fn(spark, mod.SF0001)
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
            st = sc.statusTracker()
            stages[name] = [st.getStageInfo(sid).name
                            for jid in st.getJobIdsForGroup(name)
                            for sid in st.getJobInfo(jid).stageIds]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = {n: [s for s in ss if not s.startswith("parquet at")]
            for n, ss in stages.items()}
    assert not {n: ss for n, ss in jobs.items() if ss}, jobs


def test_q39_runs_pin_nothing(spark):
    """Three runs of q39 in one session leave no persistent RDD behind."""
    mod = _load_entry()
    q39 = mod.queries()["q39_dedup_clusters"]
    jsc = spark.sparkContext._jsc
    base = set(jsc.getPersistentRDDs().keySet())
    for _ in range(3):
        assert q39(spark, mod.SF0001).collect()
        assert not set(jsc.getPersistentRDDs().keySet()) - base
