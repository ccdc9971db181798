"""Declared schemas for every table the engine reads or writes.

The reference pipeline's central relation is the *region table* — one row per
detected text block with ``page, x, y, w, h, text, element_type``
(Document_Processor_DocLayout_YOLO_Code_v10.R:158-176; captured golden tibble
at ..._v10_ALTAIR.R:3782-3797).  Here regions are nested per document so one
row = one document, matching the interleaved-document input shape mandated by
BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: interleaved text + media documents (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
# kind vocabulary:
#   'region' - a detected layout block; ``text`` carries an in-band payload
#              "page,x,y,w,h,element_type|<block text>" standing in for the
#              raw parse boundary (the reference crosses R->Python per page
#              for YOLO + tesseract, v10.R:39-44, 131-152; we cross JVM->
#              Python once per Arrow batch and parse inside the UDF).
#   'html'   - an HTML fragment; boilerplate-stripped via text-density /
#              link-density heuristics inside the UDF.
#   'text'   - an already-extracted plain text block (kept, cleaned).
#   'media'  - an opaque media item; ``media_ref`` set, text empty.  Carried
#              through interleaved at its reading position.

SPAN_IN = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_IN), True),
    ]
)

# ---------------------------------------------------------------------------
# Output: extracted documents (reference summary record, v10.R:720-735)
# ---------------------------------------------------------------------------
SPAN_OUT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("order", T.IntegerType(), True),
    ]
)

EXTRACTED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_OUT), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("authors", T.StringType(), True),
        T.StructField("abstract", T.StringType(), True),
        T.StructField("main_text", T.StringType(), True),
        T.StructField("boundary_start", T.IntegerType(), True),
        T.StructField("boundary_end", T.IntegerType(), True),
        T.StructField("document_format", T.StringType(), True),
        T.StructField("total_pages", T.IntegerType(), True),
        T.StructField("total_text_regions", T.IntegerType(), True),
        T.StructField("parse_failures", T.IntegerType(), True),
    ]
)

# extracted + the stable partition key carried through the pipeline
EXTRACTED_WITH_PART = T.StructType(
    EXTRACTED.fields + [T.StructField("part_key", T.IntegerType(), False)]
)

# Layout table (reference §1.2 ``complete_layout``, v10.R:92-103, 197-202):
# one row per detected block — geometry + class, no text payload.  The
# reference's per-block model ``confidence`` has no deterministic source
# here and is omitted; add a DoubleType field when a real layout model
# fills it.
LAYOUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("x", T.IntegerType(), True),
        T.StructField("y", T.IntegerType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("element_type", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
        T.StructField("parse_failure", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Checkpoint / lineage table: one row per (run_id, part_key) enabling
# resume-from-partition restarts (north rule; replaces the reference's
# per-document .RData side effects, v10.R:194-207).
# ---------------------------------------------------------------------------
CHECKPOINT = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        # which physical write attempt produced the rows this checkpoint row
        # commits: data lands under extracted/run_id=X/attempt_id=Y BEFORE
        # the checkpoint append, so a crash between the two leaves an orphan
        # attempt that read_extracted() (which joins on attempt_id) never
        # exposes — the resume duplicate-append window is closed.
        T.StructField("attempt_id", T.StringType(), False),
        T.StructField("part_key", T.IntegerType(), False),
        T.StructField("docs", T.LongType(), True),
        T.StructField("spans", T.LongType(), True),
        T.StructField("parse_failures", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
