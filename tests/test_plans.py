"""Plan-shape regression tests: the physical plans scale requires.

Results being right is not enough — these pin that filters push into the
parquet scan, dimensions broadcast, column pruning holds, and the extraction
pipeline runs Python over its scan once.
"""

from __future__ import annotations

import re

import pytest

from pdf_extraction_tests_spark.plans.audit import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    lambda_bodies,
    plan_nodes,
    pushed_filters,
    read_schema_columns,
    scan_stage_lines,
)
from pdf_extraction_tests_spark.queries import queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q(spark):
    return {name: fn(spark, SF) for name, fn in queries().items()
            if name in ("q01_pricing_summary", "q02_filter_project",
                        "q03_revenue_by_nation", "q17_band_join")}


def test_filter_pushdown_reaches_scan(q):
    plan = formatted_plan(q["q02_filter_project"])
    pf = pushed_filters(plan)
    assert "l_quantity" in pf and "l_discount" in pf, plan


def test_column_pruning(q):
    cols = read_schema_columns(formatted_plan(q["q02_filter_project"]))
    # 5 needed columns, not all 11 of lineitem
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity",
                         "l_extendedprice", "l_discount"}


def test_date_filter_pushdown(q):
    plan = formatted_plan(q["q01_pricing_summary"])
    assert "l_shipdate" in pushed_filters(plan)


def test_dims_broadcast(q):
    plan = formatted_plan(q["q03_revenue_by_nation"])
    assert has_broadcast_join(plan)


def test_band_join_is_broadcast(q):
    plan = formatted_plan(q["q17_band_join"])
    assert has_broadcast_join(plan)
    assert count_exchanges(plan) <= 1  # only the final groupBy shuffle


def test_contamination_screen_broadcasts_holdout(spark):
    """q43: the (small) holdout shingle set must broadcast — the corpus
    side stays a single scan with no corpus-wide shuffle before the
    per-doc aggregation."""
    plan = formatted_plan(queries()["q43_contamination_screen"](spark, SF))
    assert has_broadcast_join(plan)


def test_stratified_sample_filter_is_scan_side(spark):
    """q44: the keep-rate predicate is a pure scan-side filter — no
    exchange before the final per-source count."""
    plan = formatted_plan(queries()["q44_stratified_sample"](spark, SF))
    assert count_exchanges(plan) <= 1, plan  # only the groupBy('source')


def test_bucketed_embedding_dedup_no_cartesian(spark):
    """q40 must NOT contain a cartesian/nested-loop join over the corpus:
    candidates come from the banded equi-join on (band, bucket)."""
    plan = formatted_plan(
        queries()["q40_embedding_dedup_bucketed"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan, plan


def test_extraction_single_shuffle(spark, tmp_path):
    """The extraction plan over a parquet scan is one Python stage: a
    single MapInPandas (oversize docs are split into chunk rows JVM-side,
    inside the same stage) with no Union, no grouped Python node, and no
    exchange but the optional salted repartition, which sits below it."""
    from pdf_extraction_tests_spark.corpus import corpus_pandas
    from pdf_extraction_tests_spark.pipeline import extract_docs
    from pdf_extraction_tests_spark.schema import DOCS
    import pandas as pd

    src = pd.read_parquet(f"{SF}/documents.parquet").head(8)
    path = str(tmp_path / "docs")
    spark.createDataFrame(corpus_pandas(src), schema=DOCS) \
        .repartition(4).write.parquet(path)
    docs = spark.read.schema(DOCS).parquet(path)
    for repartition, exchanges in ((False, 0), (True, 1)):
        plan = formatted_plan(extract_docs(
            docs, num_parts=4, oversize_chars=0, repartition=repartition))
        tree = plan.split("\n\n")[0]
        assert "Union" not in tree and "FlatMapGroupsInPandas" not in tree, plan
        python = [ln for ln in tree.splitlines() if "MapInPandas (" in ln]
        assert len(python) == 1, plan
        assert count_exchanges(plan) == exchanges, plan
        stages = scan_stage_lines(plan)
        assert len(stages) == 1, plan
        in_scan_stage = [ln for ln in stages[0] if "MapInPandas (" in ln]
        # above the salted exchange when there is one, else in the scan stage
        assert len(in_scan_stage) == 1 - exchanges, plan


def test_extraction_scan_prunes_to_needed_columns(spark):
    from pdf_extraction_tests_spark.corpus import corpus_spark

    docs = corpus_spark(spark, SF)
    cols = read_schema_columns(formatted_plan(docs))
    assert set(cols) == {"doc_id", "text"}  # not lang/source/n_chars


def _below_single_partition(plan: str) -> list[str]:
    """The node directly below each SinglePartition shuffle exchange (a
    formatted plan prints the partitioning on the exchange's
    ``Arguments:`` line, and a node's child on the next tree line)."""
    ids = {re.match(r"\((\d+)\)", d).group(1) for n, d in plan_nodes(plan)
           if n == "Exchange" and "Arguments: SinglePartition" in d}
    tree = plan.split("\n\n")[0].splitlines()
    return [re.search(r"\w+", tree[i + 1]).group(0)
            for i, ln in enumerate(tree)
            if (m := re.search(r"\bExchange \((\d+)\)", ln))
            and m.group(1) in ids]


def test_token_budget_head_no_global_corpus_window(spark):
    """q45: the running sum must NOT be a global-ordered window over the
    corpus (single-task sort).  Corpus-sized window work is partitioned on
    (quality, _sub); every single-partition exchange sits directly above
    an aggregate (the bucket totals, the sub-bucket width), so none
    carries corpus rows."""
    plan = formatted_plan(queries()["q45_token_budget_head"](spark, SF))
    # the per-row running sum is a PARTITIONED window
    assert "partitionBy=[quality" in plan.replace(" ", "") or \
        "hashpartitioning(quality" in plan, plan
    below = _below_single_partition(plan)
    assert below and set(below) == {"HashAggregate"}, (below, plan)
    assert has_broadcast_join(plan), plan


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew evidence: a 99%-hot join key must come out of AQE as a
    SPLIT sort-merge join (skew=true), not one straggler task — the
    config-only skew path the pipeline relies on at 100 TB (salting covers
    the aggregation side, AQE covers joins)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(0, 60000).select(
            F.lit(0).alias("k"), F.col("id").alias("v"))
        cold = spark.range(1, 101).select(
            F.col("id").alias("k"), F.col("id").alias("v"))
        # incompressible pad: shuffle sizes are COMPRESSED bytes, and a
        # constant pad lz4s below the skew threshold
        left = hot.unionByName(cold).withColumn(
            "pad", F.expr("concat(md5(cast(v as string)), "
                          "md5(cast(v+1 as string)))"))
        right = spark.range(0, 101).select(
            F.col("id").alias("k"), F.col("id").alias("rv"))
        j = left.join(right, "k").select(F.length("pad").alias("n"))
        assert j.count() == 60100
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sequence_pack_no_global_corpus_window(spark):
    """q49: the packing prefix sum must be partitioned (per sub-bucket);
    every single-partition exchange sits directly above an aggregate (the
    bucket totals, the sub-bucket width), so none carries corpus rows,
    and the offsets side broadcasts back."""
    plan = formatted_plan(queries()["q49_sequence_pack"](spark, SF))
    assert "partitionBy=[_sub" in plan.replace(" ", "") or \
        "hashpartitioning(_sub" in plan, plan
    below = _below_single_partition(plan)
    assert below and set(below) == {"HashAggregate"}, (below, plan)
    assert has_broadcast_join(plan), plan


def test_asof_join_is_single_key_shuffle(spark):
    """operators/asof.py claims ONE shuffle on the key (union + partitioned
    window, no interval cross-join): the plan must contain exactly one
    exchange hash-partitioned on the by-key and no cartesian/range join."""
    from pyspark.sql import functions as F

    from pdf_extraction_tests_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id")
    right = ev.filter(F.col("event_type") == "signup").select(
        "ts", "user_id", F.col("value").alias("signup_value"))
    plan = formatted_plan(asof_join(left, right))
    flat = plan.replace(" ", "")
    assert flat.count("hashpartitioning(_by") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_hll_partial_aggregation_bounds_state(spark):
    """q95 (HLL): the register build must show partial (map-side)
    aggregation — each task reduces to <= 2^p rows before the single
    bucket shuffle — and exactly one exchange feeds the final global
    fold.  No per-distinct-value shuffle ever forms."""
    from pdf_extraction_tests_spark.operators.sketches import hll_ndv

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(hll_ndv(docs, "text"))
    # two-level agg: partial HashAggregate before each exchange
    assert plan.count("HashAggregate") >= 4, plan
    assert count_exchanges(plan) <= 2, plan   # bucket shuffle + final fold
    assert "Exchange rangepartitioning" not in plan, plan


def test_boilerplate_frequent_set_broadcasts(spark):
    """q51: the learned frequent-gram set joins back as a broadcast (never
    a shuffled hash join of the exploded gram stream), and the gram df
    aggregation is two-level (map-side countDistinct partials)."""
    from pdf_extraction_tests_spark.operators.boilerplate import (
        boilerplate_fraction)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(boilerplate_fraction(docs))
    assert has_broadcast_join(plan)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_bm25_topk_is_two_phase(spark):
    """q52: both top-k windows are present — the salted (term, _salt)
    prune before the per-term final rank — so no single task ever ranks a
    hot term's full posting list; corpus stats attach via broadcast."""
    from pdf_extraction_tests_spark.operators.bm25 import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(bm25_topk(docs, ["join", "window", "spark"]))
    assert plan.count("hashpartitioning(term") >= 2, plan
    assert "_salt" in plan, plan
    assert has_broadcast_join(plan)


def test_binned_quantiles_state_is_bounded(spark):
    """q53: both passes are hash aggregates with map-side partials (state
    <= bins counters per task); no global Sort of the scanned column ever
    appears (that would be the exact-percentile anti-plan)."""
    from pdf_extraction_tests_spark.operators.quantiles import (
        binned_quantiles)

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = formatted_plan(binned_quantiles(li, "l_extendedprice"))
    assert "Exchange rangepartitioning" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert has_broadcast_join(plan) or "BroadcastNestedLoop" in plan, plan


def test_chunk_windows_zero_shuffle(spark):
    """q54: sliding-window chunking is a pure scan-side transform — zero
    exchanges, no Python (no ArrowEvalPython / BatchEvalPython nodes)."""
    from pdf_extraction_tests_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(chunk_documents(docs))
    assert count_exchanges(plan) == 0, plan
    assert "EvalPython" not in plan, plan


def test_chunk_windows_split_each_row_once(spark):
    """q54: the word array is projected below the Generate that explodes
    the window starts.  An expression in the Project above the Generate
    runs once per chunk row, so a ``split`` there costs O(chunks x words)
    per doc."""
    from pdf_extraction_tests_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    nodes = plan_nodes(formatted_plan(chunk_documents(docs)))
    names = [name for name, _ in nodes]
    assert names.count("Generate") == 1, nodes
    above = nodes[names.index("Generate"):]
    assert {name for name, _ in above[1:]} == {"Project"}, nodes
    assert not [body for _, body in above if "split(" in body], nodes


def test_dup_span_rewrite_join_is_copartitioned_not_broadcast(spark):
    """q55: once the duplicate-gram set is above the broadcast threshold,
    its join to the gram stream is a shuffle join whose two sides are both
    hash-partitioned on gram alone (the dup vocabulary grows with the
    corpus — broadcasting it is the 100 TB anti-plan).  Below the
    threshold, as at sf0.001 with the default, the planner broadcasts the
    small set.  Asserted on the join node keyed on gram, with AQE off so
    the plan is final; the rewrite adds no Python."""
    from pdf_extraction_tests_spark.operators.substring_dedup import (
        duplicated_span_rewrite)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for threshold, join in ((None, "BroadcastHashJoin"),
                                ("-1", "SortMergeJoin")):
            if threshold is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               threshold)
            plan = formatted_plan(duplicated_span_rewrite(docs))
            gram_joins = [
                (name, body) for name, body in plan_nodes(plan)
                if "Join" in name and re.search(
                    r"Left keys \[1\]: \[gram#\d+\]", body)]
            assert [name for name, _ in gram_joins] == [join], plan
            if join == "SortMergeJoin":
                sides = re.findall(r"keys \[1\]: \[(gram#\d+)\]",
                                   gram_joins[0][1])
                assert len(sides) == 2, plan
                for key in sides:
                    assert f"hashpartitioning({key}, " in plan, (key, plan)
            assert "CartesianProduct" not in plan, plan
            assert "EvalPython" not in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pii_scrub_zero_shuffle(spark):
    """q56: the scrubber is one codegen projection — zero exchanges,
    zero Python."""
    from pdf_extraction_tests_spark.operators.pii import scrub_pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(scrub_pii(docs))
    assert count_exchanges(plan) == 0, plan
    assert "EvalPython" not in plan, plan


def test_row_local_curation_signals_plan_as_one_projection(spark):
    """q57 computes every per-document signal as a column of one
    projection over one ``documents`` scan: no shuffle exchange, no join
    (nothing is joined back on ``doc_id``), no Python node, under AQE off
    and on.  Nodes are counted as in
    ``test_curation_funnel_single_lazy_plan``."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            plan = formatted_plan(queries()["q57_repetition_signals"](spark, SF))
            nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.MULTILINE)
            where = (aqe, plan)
            scans = re.findall(r"^\(\d+\) Scan .*?Location: [^\n]*",
                               plan, flags=re.MULTILINE | re.DOTALL)
            assert len(scans) == nodes.count("Scan") == 1, where
            assert "documents.parquet" in scans[0], where
            assert count_exchanges(plan) == 0, where
            assert "BroadcastExchange" not in plan, where
            assert not [n for n in nodes if "Join" in n], where
            assert "ArrowEvalPython" not in nodes, where
            assert "BatchEvalPython" not in plan, where
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_quota_sample_is_two_phase(spark):
    """q58: both windows present — the salted (source, _salt) prune before
    the final per-source rank — so a hot domain never funnels through one
    task."""
    from pdf_extraction_tests_spark.operators.sampling import quota_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "n_chars")
    plan = formatted_plan(
        quota_sample(docs, "source", "doc_id", "n_chars", 5))
    assert plan.count("hashpartitioning(source") >= 2, plan
    assert "_salt" in plan, plan


def test_curation_funnel_single_lazy_plan(spark):
    """q59/q62: the funnel is one scan-side projection plus two corpus
    aggregates — at most 2 ``documents`` scans, at most 4 shuffle
    exchanges (q62's report aggregate adds one), exactly one Arrow Python
    node (the LID kernel), q51's frequent set broadcast, under AQE off and
    on.  Nodes are counted as ``sparkbench.tracing.plan_counts`` counts
    them.  No row-pickled Python (BatchEvalPython), no cartesian product,
    no global sort."""
    import importlib
    Q = importlib.import_module("pdf_extraction_tests_spark.queries")
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            for name, max_exchanges in (("q59_curation_funnel", 4),
                                        ("q62_funnel_summary", 5)):
                plan = formatted_plan(Q.queries()[name](spark, SF))
                nodes = re.findall(r"^\(\d+\) (\w+)", plan,
                                   flags=re.MULTILINE)
                where = (name, aqe, plan)
                scans = re.findall(r"^\(\d+\) Scan .*?Location: [^\n]*", plan,
                                   flags=re.MULTILINE | re.DOTALL)
                assert len(scans) == nodes.count("Scan"), where
                assert all("documents.parquet" in sc for sc in scans), where
                assert nodes.count("Scan") <= 2, where
                assert count_exchanges(plan) <= max_exchanges, where
                assert nodes.count("ArrowEvalPython") == 1, where
                assert "BatchEvalPython" not in plan, where
                assert plan.count("EvalPython") == plan.count(
                    "ArrowEvalPython"), where
                assert "CartesianProduct" not in plan, where
                assert "Exchange rangepartitioning" not in plan, where
                assert has_broadcast_join(plan), where
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_kmeans_centroid_update_state_is_bounded(spark):
    """q60: assignment joins are broadcasts of the k-row centroid side
    (never a shuffle of the corpus against centroids); the update
    aggregation is a hash aggregate with map-side partials (k x dim
    counters per task); no global sort of the embedding table."""
    from pdf_extraction_tests_spark.operators.kmeans import kmeans_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = formatted_plan(kmeans_assign(emb))
    assert has_broadcast_join(plan)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan
    assert "EvalPython" not in plan, plan


def test_semantic_near_dups_no_cartesian(spark):
    """q61: the within-cluster pairwise compare must be an equi-join on
    cluster — never a cartesian over the embedding table.  (The
    BroadcastNestedLoopJoin nodes inside the plan are the k-ROW centroid
    broadcast from the embedded q60 assignment — corpus x constant, fine;
    the corpus x corpus pair join must be the SortMergeJoin.)"""
    from pdf_extraction_tests_spark.operators.kmeans import semantic_near_dups

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = formatted_plan(semantic_near_dups(emb))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "hashpartitioning(cluster" in plan, plan


def test_gram_emission_splits_each_row_once(spark):
    """Every gram-emitting query splits a row's text outside its lambdas
    (``boilerplate.word_ngrams``).  A ``split`` inside a lambda body runs
    once per gram position: O(words^2) per row."""
    Q = queries()
    for name in ("q22_minhash_signatures", "q23_lsh_candidates",
                 "q24_ngram_jaccard", "q51_boilerplate_ngrams",
                 "q55_dup_span_rewrite", "q57_repetition_signals",
                 "q59_curation_funnel"):
        bodies = lambda_bodies(formatted_plan(Q[name](spark, SF)))
        assert bodies, name
        assert not [b for b in bodies if "split(" in b], name


def test_bucket_pair_generators_plan_once(spark):
    """Every bucket-pair site goes through ``dedup.bucket_pairs``, which
    plans its bucketed input once.  With AQE off, q23 is 1 ``documents``
    scan, 3 shuffle exchanges and no join (a self-join on (band, bh)
    would add one)."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        q23 = queries()["q23_lsh_candidates"](spark, SF)
        plan = formatted_plan(q23)
        q23_nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.MULTILINE)
        assert q23_nodes.count("Scan") == 1, plan
        assert count_exchanges(plan) == 3, plan
        assert not [n for n in q23_nodes if "Join" in n], plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
