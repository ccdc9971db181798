"""Optional LLM structure-analysis stage (SURVEY U4) — OFF the hot path.

The reference's LLM-assisted path sends the first-page regions to a local
model for structure analysis (``analyze_document_structure`` ->
``ellmer::chat_ollama``, Document_Processor_DocLayout_YOLO_Code_v10.R:
857-904) and parses the reply defensively (U5).  The deterministic non-LLM
path is this engine's semantic target; this hook reproduces the *plumbing*
as one batched ``mapInPandas`` stage so a production deployment can attach
a real endpoint without touching the pipeline.

``chat_fn: list[str] -> list[str]`` is called once per Arrow batch (never
per row).  Tests use a canned deterministic responder.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.llm_json import parse_llm_response
from ..shipping import map_batches

ANALYZED_FIELDS = [
    T.StructField("title_region", T.IntegerType(), True),
    T.StructField("author_regions", T.ArrayType(T.IntegerType()), True),
    T.StructField("abstract_regions", T.ArrayType(T.IntegerType()), True),
]


def build_prompt(spans: list) -> str:
    """prepare_regions_for_analysis (v10.R:813-855): number the first-page
    blocks and ask for structural indices."""
    lines = []
    for i, sp in enumerate(spans[:12]):
        sp = sp if isinstance(sp, dict) else sp.asDict()
        if sp.get("kind") in ("title", "text"):
            lines.append(f"[{i + 1}] {str(sp.get('text') or '')[:200]}")
    return (
        "Identify the structure of this document. Reply with JSON "
        '{"title_region": N, "author_regions": [..], "abstract_regions": [..]}\n'
        + "\n".join(lines)
    )


def llm_structure_stage(
    extracted: DataFrame,
    chat_fn: Callable[[list[str]], list[str]],
) -> DataFrame:
    """extracted(doc_id, spans, ...) -> + structure struct column."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("structure", T.StructType(ANALYZED_FIELDS), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            prompts = [
                build_prompt(list(s) if s is not None else [])
                for s in pdf["spans"]
            ]
            replies = chat_fn(prompts)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "structure": [parse_llm_response(r) for r in replies],
                }
            )

    analyzed = map_batches(extracted.select("doc_id", "spans"), run, out_schema)
    return extracted.join(analyzed, "doc_id", "left")


def apply_structure_slices(extracted_with_structure: DataFrame) -> DataFrame:
    """P11 row-slice-by-index-list (v10.R:1269-1274): select the Nth spans
    (1-based reading-order ranks) named by the LLM structure analysis as
    title/authors/abstract — pure array expressions over the spans column,
    no UDF (``slice(structure_analysis$abstract_regions)`` relationally)."""
    spans = F.col("spans")

    def pick(indices_col):
        # spans are ordered by `order`; element_at is 1-based like the
        # reference's slice()
        return F.array_join(
            F.filter(
                F.transform(
                    indices_col,
                    lambda i: F.element_at(spans, i.cast("int"))["text"],
                ),
                lambda t: t.isNotNull(),
            ),
            " ",
        )

    return extracted_with_structure.withColumn(
        "llm_title", pick(F.array(F.col("structure.title_region")))
    ).withColumn(
        "llm_authors", pick(F.col("structure.author_regions"))
    ).withColumn(
        "llm_abstract", pick(F.col("structure.abstract_regions"))
    )
