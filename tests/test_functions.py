"""The S7 prompt renderer over an extracted fixture document."""

from __future__ import annotations

import pandas as pd

from pdf_extraction_tests_spark.functions.render import render_prompt_documents


def test_render_prompt_documents(spark):
    from pdf_extraction_tests_spark.pipeline import extract_docs
    from pdf_extraction_tests_spark.schema import DOCS
    from tests import fixtures as fx

    pdf = pd.DataFrame([{"doc_id": fx.GENERIC_DOC["doc_id"],
                         "spans": fx.GENERIC_DOC["spans"]}])
    out = extract_docs(spark.createDataFrame(pdf, schema=DOCS), num_parts=2)
    row = render_prompt_documents(out).collect()[0]
    assert row.doc_id == "fix_generic"
    assert "TITLE: Deterministic Extraction Of Ordered Spans" in row.prompt_text
    assert "ABSTRACT:" in row.prompt_text and "MAIN TEXT:" in row.prompt_text
