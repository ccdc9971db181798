"""Binary-file document source: raw bytes -> interleaved spans.

The reference walks a directory for PDFs and parses each eagerly
(``list.files(pattern="pdf")``, Document_Processor_DocLayout_YOLO_Code_
v10.R:3716, 26).  Spark-first: ``spark.read.format("binaryFile")`` scans the
directory distributed (S1/S8 in SURVEY §2.1) and the byte->spans parse runs
inside a batched ``mapInPandas`` stage — one JVM->Python crossing per Arrow
batch, not per file.

``parse_pdf_bytes`` decodes digitally-born PDFs through the pure-Python
decoder :mod:`.pdf_min` (one region span per text block, media spans for
image draws).  Scanned, image-only or otherwise undecodable PDFs need
rasterization + layout detection + OCR; they go through the pluggable
stack in :mod:`.scanned` when one is passed, and otherwise become one
parse-failure span for that document.  The source also understands two
deterministic container formats:

* ``SPDF`` — our fixture container: a ``b"SPDF\\n"`` magic followed by one
  region payload (``page,x,y,w,h,element_type|text``) or ``MEDIA:<ref>``
  per line.  It stands in for "a parsed PDF page stream".
* HTML — bytes starting with ``<`` are decoded and wrapped as one
  kind='html' span (boilerplate-stripped downstream by the kernel).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schema import DOCS
from ..shipping import map_batches

SPDF_MAGIC = b"SPDF\n"


def parse_pdf_bytes(content: bytes,
                    scanned_stack: tuple | None = None,
                    password: bytes = b"") -> list[dict]:
    """REAL decode for digitally-born PDFs; raster/OCR stack pluggable.

    Uses the pure-Python minimal PDF decoder (:mod:`.pdf_min`): plain or
    FlateDecode content streams (object streams included), standard text
    operators, simple one-byte fonts — one span per BT..ET text block with
    geometry recovered from the text matrix, plus media placeholders for
    image-XObject draws.

    PDFs outside that profile — scanned/image-only, encrypted, CID text —
    are the reference's rasterize -> layout-model -> OCR territory
    (v10.R:26, 39-44, 131-152), now a pluggable stack
    (:func:`.scanned.extract_scanned_pdf`): pass ``scanned_stack =
    (rasterize, layout_model, ocr)`` to route (a) undecodable PDFs and
    (b) decodable but text-less image PDFs through it.  Without a stack the
    behavior is unchanged: ``NotImplementedError`` -> one parse-failure
    span (the binaries are absent from this image).
    """
    from .pdf_min import UnsupportedPdfError, extract_pdf_text
    from .scanned import extract_scanned_pdf

    def scanned(b: bytes) -> list[dict]:
        # document-level fault isolation for the INJECTED stack too: a
        # rasterizer/model crash on one corrupt PDF must surface as that
        # document's parse failure, never kill the whole Arrow batch
        # (the caller only catches NotImplementedError)
        try:
            return extract_scanned_pdf(b, *scanned_stack)
        except NotImplementedError:
            raise
        except Exception as e:  # noqa: BLE001
            raise NotImplementedError(f"scanned stack failed: {e}") from e

    try:
        blocks = extract_pdf_text(bytes(content), password=password)
        if scanned_stack is not None and not any(
            b["kind"] == "text_block" for b in blocks
        ):
            # decodes but carries no text: an image-only (scanned) PDF
            blocks = scanned(bytes(content))
    except UnsupportedPdfError as e:
        if scanned_stack is not None:
            blocks = scanned(bytes(content))
        else:
            raise NotImplementedError(
                f"PDF outside the minimal text profile ({e}); the raster/OCR "
                "stack is not present in this image"
            ) from e
    spans: list[dict] = []
    for i, b in enumerate(blocks):
        if b["kind"] == "media":
            spans.append({"kind": "media", "text": "", "media_ref": b["ref"],
                          "offset": i})
        elif b["kind"] == "page_failure":
            # scanned-stack per-page failure: an unparseable payload so the
            # kernel counts it as exactly one parse failure for this doc
            spans.append({"kind": "region",
                          "text": f"SCANNED_PAGE_FAILURE:p{b['page']}",
                          "media_ref": None, "offset": i})
        else:
            payload = (f'{b["page"]},{b["x"]},{b["y"]},{b["w"]},{b["h"]},'
                       f'{b["etype"]}|{b["text"]}')
            spans.append({"kind": "region", "text": payload,
                          "media_ref": None, "offset": i})
    return spans


def parse_spdf_bytes(content: bytes) -> list[dict]:
    """Parse the deterministic SPDF fixture container into spans."""
    spans: list[dict] = []
    # errors='replace': a corrupt .spdf must yield parse-failure region
    # rows downstream, never a UnicodeDecodeError out of the Arrow batch
    body = content[len(SPDF_MAGIC):].decode("utf-8", "replace")
    for i, raw in enumerate(body.splitlines()):
        if not raw:
            continue
        if raw.startswith("MEDIA:"):
            spans.append({"kind": "media", "text": "", "media_ref": raw[6:],
                          "offset": i})
        else:
            spans.append({"kind": "region", "text": raw, "media_ref": None,
                          "offset": i})
    return spans


def bytes_to_spans(content: bytes | None,
                   scanned_stack: tuple | None = None,
                   password: bytes = b"") -> list[dict]:
    """Dispatch on content magic; unknown formats yield a parse-failure
    span (fault isolation — never kill the task, v10.R:37, 188-190)."""
    if content is None:
        return []
    b = bytes(content)
    if b.startswith(SPDF_MAGIC):
        return parse_spdf_bytes(b)
    if b.lstrip()[:1] == b"<":
        return [{"kind": "html", "text": b.decode("utf-8", "replace"),
                 "media_ref": None, "offset": 0}]
    try:
        return parse_pdf_bytes(b, scanned_stack, password=password)
    except NotImplementedError:
        # recorded as a parse failure by the kernel
        return [{"kind": "region", "text": "UNSUPPORTED_BINARY", "media_ref": None,
                 "offset": 0}]


def read_binary_docs(spark: SparkSession, path: str,
                     glob: str | None = None,
                     scanned_stack: tuple | None = None) -> DataFrame:
    """Directory of raw document files -> docs(doc_id, spans).

    The binaryFile source gives (path, modificationTime, length, content);
    doc_id is the file path.  The parse is batched per Arrow batch.
    ``scanned_stack`` (rasterize, layout_model, ocr callables) is captured
    by the task closure — cloudpickle ships it to every worker, so the
    scanned path needs no module-level registration.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["path"],
                    "spans": [bytes_to_spans(c, scanned_stack)
                              for c in pdf["content"]],
                }
            )

    return map_batches(raw, parse, DOCS)
