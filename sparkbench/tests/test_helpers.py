"""Tests of the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest sparkbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from sparkbench import inputs, oracles, workloads
from sparkbench.tracing import (
    Tracer, check_metric_name, percentile, plan_counts, self_times,
    summarize_stages,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


# -- percentile ---------------------------------------------------------------


def test_percentile_reports_value_and_sample_count():
    values = list(range(1, 101))
    assert percentile(values, 50) == (50, 100)
    assert percentile(values, 99) == (99, 100)
    assert percentile(values, 100) == (100, 100)
    assert percentile([7.5], 99) == (7.5, 1)


def test_percentile_is_order_insensitive():
    assert percentile([3, 1, 2], 50) == percentile([1, 2, 3], 50) == (2, 3)


@pytest.mark.parametrize("values,q", [([], 50), ([1.0], 0), ([1.0], 101)])
def test_percentile_rejects_bad_input(values, q):
    with pytest.raises(ValueError):
        percentile(values, q)


# -- spans and self time ------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        {"name": "root", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 3.0, "parent": 0},
        {"name": "b", "start": 4.0, "end": 8.0, "parent": 0},
        {"name": "b1", "start": 5.0, "end": 6.0, "parent": 2},
    ]
    assert self_times(spans) == [4.0, 2.0, 3.0, 1.0]


def test_self_time_counts_overlapping_children_once():
    spans = [
        {"name": "root", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 5.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 7.0, "parent": 0},
        {"name": "late", "start": 9.0, "end": 12.0, "parent": 0},
    ]
    # children cover [1, 7] and [9, 10] of the parent
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_tracer_nests_spans_and_records_run_id():
    t = Tracer("run-1", clock=FakeClock([0.0, 1.0, 2.0, 3.0, 4.0, 9.0]))
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("outer", None), ("inner", 0), ("inner", 0)]
    assert {s["run_id"] for s in t.spans} == {"run-1"}
    assert t.durations("inner") == [1.0, 1.0]
    assert self_times(t.spans)[0] == 7.0


def test_wrap_is_pass_through():
    t = Tracer("r")
    payload = {"x": [1, 2]}

    def fn(a, b=0):
        return payload, a + b

    wrapped = t.wrap("fn", fn)
    got = wrapped(1, b=2)
    assert got[0] is payload and got[1] == 3
    assert wrapped.__name__ == "fn"
    assert len(t.durations("fn")) == 1


# -- metric names and BENCHMARK.json -------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "extract_core.clean_text.self_s",
                                  "spark.q59_curation_funnel.shuffle_write_mb", "a-1.b"])
def test_metric_name_accepts(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "docs/s", "has space", "q59(x)", "x" * 65])
def test_metric_name_rejects(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_code():
    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert [w["why"] for w in b["workloads"]] == list(workloads.WORKLOADS.values())
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == \
        workloads.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == \
        workloads.per_layer_metrics()
    assert {m["name"] for m in b["end_to_end"]} == {
        "setup_s", "docs_per_s", "input_mb_per_s", "peak_rss_mb"}


def test_benchmark_json_names_are_valid_and_unique():
    b = _benchmark_json()
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]]
    for n in names:
        check_metric_name(n)
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128


# -- inputs -------------------------------------------------------------------


def test_documents_are_a_function_of_the_seed():
    a = inputs.documents_frame(3, 50)
    pd.testing.assert_frame_equal(a, inputs.documents_frame(3, 50))
    assert not a["text"].equals(inputs.documents_frame(4, 50)["text"])
    assert (a["n_chars"] == a["text"].str.len()).all()


def test_documents_follow_the_measured_sf01_model():
    docs = inputs.documents_frame(1, 5000)
    words = docs["text"].str.split()
    assert words.str.len().between(10, 101).all()
    assert set(words.explode()) == set(inputs.VOCAB) | {"dup"}
    # 250 rows repeat another row's text plus " dup"; 8 pairs share a text
    near = docs["text"][docs["text"].str.endswith(" dup")]
    assert len(near) == 250
    assert near.str[:-4].isin(set(docs["text"])).all()
    assert docs["text"].duplicated(keep=False).sum() == 16


def test_corpus_texts_cycle_over_the_documents_rows(monkeypatch):
    import pdf_extraction_tests_spark.corpus as corpus

    docs = inputs.documents_frame(1, 20)
    seen = []
    monkeypatch.setattr(corpus, "make_document",
                        lambda doc_id, text, seed: seen.append((doc_id, text)) or [])
    inputs.corpus_frame(docs, np.array([3, 23]), 1)
    assert seen == [(3, docs["text"][3]), (23, docs["text"][3])]


def test_skewed_ids_hold_only_the_requested_oversized_docs():
    ids = inputs.skewed_ids(300, 3)
    assert len(ids) == len(set(ids)) == 303
    assert sum(inputs.is_oversized_id(int(i)) for i in ids) == 3
    assert not any(inputs.is_oversized_id(int(i)) for i in ids[:300])


# -- Spark counter summaries and plan counts ------------------------------------


def test_summarize_stages():
    stages = [
        {"tasks": 2, "failed_tasks": 0, "run_s": 3.0, "cpu_s": 2.0, "gc_s": 0.1,
         "input_bytes": 2_000_000, "shuffle_write_bytes": 500_000, "task_s": [1.0, 2.0]},
        {"tasks": 2, "failed_tasks": 1, "run_s": 5.0, "cpu_s": 4.0, "gc_s": 0.2,
         "input_bytes": 0, "shuffle_write_bytes": 0, "task_s": [1.0, 4.0]},
    ]
    s = summarize_stages(stages)
    assert s["scan_stages"] == 1 and s["tasks"] == 4 and s["failed_tasks"] == 1
    assert s["executor_run_s"] == 8.0 and s["input_mb"] == 2.0
    assert s["task_max_over_p50"] == 4.0 / 1.5


def test_plan_counts():
    plan = "\n".join([
        "== Physical Plan ==",
        "* Project (4)",
        "(1) Scan parquet ",
        "Output [2]: [doc_id#0L, text#1]",
        "(2) ArrowEvalPython",
        "(3) Scan parquet ",
        "(4) Project",
    ])
    assert plan_counts(plan) == {"file_scans": 2, "python_nodes": 1}


# -- oracles ------------------------------------------------------------------


def _spans(*texts):
    return [{"kind": "text", "text": t, "media_ref": None, "order": i}
            for i, t in enumerate(texts)]


def test_compare_spans_counts_mismatch_duplicate_and_missing():
    want = {d: oracles.span_key(_spans(d)) for d in ("a", "b", "c", "d")}
    got = pd.DataFrame({
        "doc_id": ["a", "b", "b", "c"],
        "spans": [_spans("a"), _spans("b"), _spans("b"), _spans("other")],
    })
    # a matches; b is duplicated, c differs, d is missing
    assert oracles.compare_spans(got, want) == (1, 4)


def test_canon_is_order_and_column_insensitive():
    a = pd.DataFrame({"y": [1.00000001, 2.0], "x": ["p", "q"]})
    b = pd.DataFrame({"x": ["q", "p"], "y": [2.0, 1.0]})
    assert oracles.canon(a) == oracles.canon(b)
