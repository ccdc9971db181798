"""U4/U5: LLM hook plumbing + defensive response parsing."""

from __future__ import annotations

import pandas as pd

from pdf_extraction_tests_spark.functions.llm_json import (
    DEFAULT_STRUCTURE,
    extract_json_object,
    parse_llm_response,
)
from pdf_extraction_tests_spark.operators.llm_hook import llm_structure_stage
from tests.fixtures import canned_chat_fn


class TestBraceMatching:
    def test_outermost_object(self):
        s = 'text {"a": {"b": 1}, "c": "x}y"} trailing'
        assert extract_json_object(s) == '{"a": {"b": 1}, "c": "x}y"}'

    def test_no_object(self):
        assert extract_json_object("no json here") is None

    def test_unbalanced(self):
        assert extract_json_object('{"a": 1') is None


class TestParse:
    def test_clean_json(self):
        r = parse_llm_response('{"title_region": 4, "author_regions": [5, 6], '
                               '"abstract_regions": [7]}')
        assert r == {"title_region": 4, "author_regions": [5, 6],
                     "abstract_regions": [7]}

    def test_json_with_prose(self):
        r = parse_llm_response(canned_chat_fn(["x"])[0])
        assert r["title_region"] == 1 and r["abstract_regions"] == [3]

    def test_regex_fallback(self):
        r = parse_llm_response(
            "The title_region is 2 and abstract_regions are [4, 5] I think"
        )
        assert r["title_region"] == 2
        assert r["abstract_regions"] == [4, 5]
        assert r["author_regions"] == DEFAULT_STRUCTURE["author_regions"]

    def test_defaults_on_garbage(self):
        assert parse_llm_response("???") == DEFAULT_STRUCTURE


class TestHookStage:
    def test_structure_slices_applied(self, spark):
        """P11: spans selected by 1-based structure indices."""
        from pdf_extraction_tests_spark.operators.llm_hook import apply_structure_slices
        from pdf_extraction_tests_spark.pipeline import extract_docs
        from pdf_extraction_tests_spark.schema import DOCS
        from tests import fixtures as fx

        pdf = pd.DataFrame([{"doc_id": fx.GENERIC_DOC["doc_id"],
                             "spans": fx.GENERIC_DOC["spans"]}])
        extracted = extract_docs(spark.createDataFrame(pdf, schema=DOCS), num_parts=2)
        with_struct = llm_structure_stage(extracted, canned_chat_fn)
        row = apply_structure_slices(with_struct).collect()[0]
        # canned structure: title=[1], authors=[2], abstract=[3] (1-based)
        assert row.llm_title == "Deterministic Extraction Of Ordered Spans"
        assert row.llm_authors == "Alice Example, Bob Sample 1,2"
        assert row.llm_abstract.startswith("Abstract This synthetic paper")

    def test_structure_attached(self, spark):
        from pdf_extraction_tests_spark.pipeline import extract_docs
        from pdf_extraction_tests_spark.schema import DOCS
        from tests import fixtures as fx

        pdf = pd.DataFrame(
            [{"doc_id": d["doc_id"], "spans": d["spans"]}
             for d in (fx.GENERIC_DOC, fx.HTML_DOC)]
        )
        extracted = extract_docs(spark.createDataFrame(pdf, schema=DOCS), num_parts=2)
        out = llm_structure_stage(extracted, canned_chat_fn)
        rows = {r.doc_id: r.structure for r in out.collect()}
        assert rows["fix_generic"].title_region == 1
        assert rows["fix_generic"].abstract_regions == [3]
