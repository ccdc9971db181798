"""The distributed extraction job: Spark orchestration around the kernel.

Design (SURVEY.md §3.4 / §4 custom items):

* **No shuffle on the happy path.** The input table has one row per document
  with spans nested, so per-document extraction is a ``mapInPandas`` over the
  scan — the only exchange is an explicit *salted repartition* on
  ``part_key = pmod(xxhash64(doc_id), P)`` for load balance and stable
  checkpoint identity.
* **Skew routing.** Documents whose total span text exceeds a threshold are
  split into chunk rows before the Arrow crossing, JVM-side in the scan
  stage: a running character budget gives each doc's chunk boundaries, a
  small int array is exploded to one row per chunk, and each chunk's spans
  are sliced in a codegen'd projection.  On the Python side
  :func:`_whole_docs` collects each chunk's span arrays and hands the doc on
  with the batch that brings its last chunk, so a multi-MB doc never crosses
  as one Arrow row.  The reference OOMs silently on big
  docs (eager per-page loop, Document_Processor_DocLayout_YOLO_Code_v10.R:
  32-191); the north rule makes sub-batching mandatory.
* **Python over the scan once.** Extraction is one ``mapInPandas`` with no
  Union and no exchange of its own, so every doc, oversize or not, is
  extracted in the task that scanned it.  Each Python task has a fixed
  start-up cost whatever its row count (~35 ms wall per task against
  ~10 ms for a JVM-only task, 2 slots on a 4-core host, once the worker's
  zip finders are stat-checked — see :mod:`.shipping`), and a stage boundary
  leaves slots idle while the stages before it finish, so one stage is the
  cheapest shape.
* **Lineage / resume.** Every run appends one row per ``part_key`` to a
  checkpoint table; a restart anti-joins input partitions against completed
  rows and re-processes only the remainder — batch incrementality standing in
  for the reference's "skip if .RData exists" idiom (v10.R:3712-3723).
* **No per-row Python.** Only Arrow-vectorized ``mapInPandas``, each built
  by :func:`.shipping.map_batches` (which ships the package to the workers
  and drops empty batches); everything else is native column expressions.
* **One crossing shape.** Every extraction-family relation (extract, dual,
  debug, layout) crosses the boundary the same way: flat chunk rows from
  :func:`_chunk_rows` under extract_docs' size rule, read back as whole docs
  by :func:`_whole_docs` — see the note above ``_EXTRACT_FLAT_OUT``.
"""

from __future__ import annotations

import time
import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import extract_core as ec
from .schema import CHECKPOINT, EXTRACTED_WITH_PART, LAYOUT
from .shipping import map_batches
from .tables import read_table

# part_key cardinality: the checkpoint/resume granularity.  Deliberately
# much larger than any shuffle partition count so hashing part_keys into
# physical partitions balances by law of large numbers — with cardinality
# equal to the partition count, Poisson collisions make 2-3-key straggler
# tasks the critical path (measured: 0.45 -> 0.8+ scaling efficiency).
DEFAULT_NUM_PARTS = 512
# docs whose summed span text exceeds this go through the chunked path
DEFAULT_OVERSIZE_CHARS = 1_000_000
DEFAULT_CHUNK_SPANS = 512
DEFAULT_CHUNK_CHARS = 200_000


# ---------------------------------------------------------------------------
# partitioning
# ---------------------------------------------------------------------------


def with_part_key(docs: DataFrame, num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """Stable salted partition key: pmod(xxhash64(doc_id), P).

    Hash-based, so hot *input file* layouts cannot skew the extraction stage;
    stable across runs/cluster sizes, so checkpoint rows written at N
    executors are valid for a resume at 4N.
    """
    return docs.withColumn(
        "part_key", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_parts)).cast("int")
    )


def _parse_size(s: str) -> int:
    """Parse a Spark size conf string ('134217728', '1m', '128MB')."""
    s = s.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(s[-1:], 1)
    return int(float(s.rstrip("kmg"))) * mult


def estimate_scan_partitions(docs: DataFrame) -> int:
    """Scan-partition estimate WITHOUT ``df.rdd`` (which forces a full
    plan-to-RDD translation — a needless driver tax at scale).

    File-based sources: ``ceil(total_bytes / maxPartitionBytes)`` over the
    scan's input files (local paths only; sizes via one driver-side stat
    pass, capped at 4096 files — beyond that the scan is certainly not
    under-partitioned).  This deliberately ignores small-file bin-packing
    and openCostInBytes, so it UNDERestimates — which only makes the
    caller's under-partitioned check repartition when it needn't: the safe
    direction.  Non-file sources (createDataFrame, views) fall back to
    ``df.rdd.getNumPartitions()``.
    """
    try:
        files = docs.inputFiles()
    except Exception:
        files = []
    if not files:
        return docs.rdd.getNumPartitions()
    if len(files) > 4096:
        return len(files)
    import os

    total = 0
    for f in files:
        p = f.removeprefix("file:")
        if not os.path.exists(p):  # non-local FS: punt to the RDD probe
            return docs.rdd.getNumPartitions()
        total += os.path.getsize(p)
    max_bytes = _parse_size(
        docs.sparkSession.conf.get("spark.sql.files.maxPartitionBytes",
                                   "134217728")
    )
    return -(-total // max(max_bytes, 1))  # ceil


# ---------------------------------------------------------------------------
# extraction: one mapInPandas over the scan, oversize docs split JVM-side
# ---------------------------------------------------------------------------


# Flat-boundary crossing (round-7, guide §4): the JVM's ArrowWriter
# serializes an array<struct<4 fields>> column element-by-element, and that
# conversion — not Python-side work — dominated the mapInPandas round trip
# (measured: an identity pass over the bench corpus cost 3.2-5.1 s even
# with zero Python object construction; projecting the same spans as four
# parallel primitive arrays cut the identity pass ~15%).  So every
# extraction-family stage crosses flat, through the chunk rows of
# _chunk_rows: spans.kind/.text/.media_ref/.offset out to Python (a free JVM
# field extraction), an oversized doc as several rows, and, for extract,
# result spans returned as four arrays re-zipped to the public struct schema
# JVM-side (dual, debug and layout return scalar rows).  Each stage reads
# its input through _whole_docs.  Extract hands each frame of whole docs
# straight to extract_core.extract_batch and layout to
# extract_core.layout_batch, which read it as one region table (no per-doc
# records); dual and debug rebuild the per-doc span dicts their per-doc
# kernels take.  A NULL offset crosses as NaN in a float64 array.  The
# public EXTRACTED_WITH_PART schema is untouched.
#
# The JVM expressions below are SQL strings (F.expr / selectExpr), not
# Python-API lambdas: a lambda in a higher-order function costs py4j round
# trips per node at build time, a SQL string parses JVM-side in one call,
# and the build runs inside every pass and every streaming micro-batch.
# Only int()-coerced parameters are interpolated.

_EXTRACT_FLAT_OUT = T.StructType(
    [f for f in EXTRACTED_WITH_PART.fields if f.name != "spans"]
    + [
        T.StructField("_kinds", T.ArrayType(T.StringType()), True),
        T.StructField("_texts", T.ArrayType(T.StringType()), True),
        T.StructField("_refs", T.ArrayType(T.StringType()), True),
        T.StructField("_orders", T.ArrayType(T.IntegerType()), True),
    ]
)

_FLAT_OUT_NAMES = [f.name for f in _EXTRACT_FLAT_OUT.fields]

# summed span text; NULL text counts 0 (a NULL spans array sums to NULL,
# so that doc is never chunked)
_TOTAL_CHARS_SQL = "aggregate(spans, 0L, (acc, s) -> acc + coalesce(length(s.text), 0))"

# extract_docs' default size rule, which every other extraction-family
# relation crosses by
_OVERSIZE_SQL = f"{_TOTAL_CHARS_SQL} > {int(DEFAULT_OVERSIZE_CHARS)}"

_REZIP_SQL = (
    "transform(arrays_zip(_kinds, _texts, _refs, _orders), x -> named_struct("
    "'kind', x._kinds, 'text', x._texts, 'media_ref', x._refs, "
    "'order', x._orders)) AS spans"
)


def _chunk_bounds_sql(chunk_spans: int, chunk_chars: int) -> str:
    """One doc's chunk boundaries ``[0, e1, ..., en]``: chunk ``c`` is
    ``spans[b[c]:b[c+1]]``.  A chunk closes once its text reaches
    ``chunk_chars`` or it holds ``chunk_spans`` spans; empty or NULL spans
    give one empty chunk."""
    grow = "coalesce(length(s.text), 0)"
    return f"""coalesce(aggregate(spans,
        named_struct('i', 0, 'n', 0, 'cum', 0L, 'b', array(0)),
        (acc, s) -> IF(acc.cum + {grow} >= {int(chunk_chars)}
                       OR acc.n + 1 >= {int(chunk_spans)},
          named_struct('i', acc.i + 1, 'n', 0, 'cum', 0L,
                       'b', array_append(acc.b, acc.i + 1)),
          named_struct('i', acc.i + 1, 'n', acc.n + 1,
                       'cum', acc.cum + {grow}, 'b', acc.b)),
        acc -> IF(acc.n > 0 OR acc.i = 0, array_append(acc.b, acc.i), acc.b)),
      array(0, 0))"""


def _chunk_rows(docs: DataFrame, chunk_if: str,
                chunk_spans: int = DEFAULT_CHUNK_SPANS,
                chunk_chars: int = DEFAULT_CHUNK_CHARS) -> DataFrame:
    """docs(doc_id, [part_key,] spans) -> the flat crossing rows: one row
    per unchunked doc (``_chunk = -1``, ``_n = 0``) and, for each doc where
    the SQL condition ``chunk_if`` holds, one row per chunk (``_chunk`` =
    0.._n-1, in order); ``part_key`` is carried when ``docs`` has it.  All
    JVM-side, in the scan stage: a small int array is exploded and each
    chunk's spans are sliced in a codegen'd projection, so a multi-MB doc
    never crosses as one Arrow row."""
    keys = ["doc_id", "part_key"] if "part_key" in docs.columns else ["doc_id"]
    bounds = f"IF({chunk_if}, {_chunk_bounds_sql(chunk_spans, chunk_chars)}, array(0))"
    spans = ("IF(_chunk < 0, spans, "
             "slice(spans, _b[_chunk] + 1, _b[_chunk + 1] - _b[_chunk]))")
    return (
        docs.selectExpr(*keys, "spans", f"{bounds} AS _b")
        .selectExpr(*keys, "spans", "_b", "explode(IF(size(_b) = 1, "
                    "array(-1), sequence(0, size(_b) - 2))) AS _chunk")
        .selectExpr(*keys, "_chunk", "size(_b) - 1 AS _n",
                    *[f"({spans}).{field} AS {name}" for field, name in (
                        ("kind", "_kinds"), ("text", "_texts"),
                        ("media_ref", "_refs"), ("offset", "_orders"))])
    )


def _records_from_flat(pdf: pd.DataFrame) -> list[list[dict]]:
    """Rebuild the kernel's span-record dicts from the four parallel input
    arrays.  NULL spans arrays (doc with spans=NULL) come through as None
    in every column -> empty record list; a NULL offset comes through as
    NaN (``o != o``) and goes back to None."""
    return [
        [
            {"kind": k, "text": t, "media_ref": m,
             "offset": None if o != o else o}
            for k, t, m, o in zip(ks, ts, ms, os_)
        ]
        if ks is not None else []
        for ks, ts, ms, os_ in zip(
            pdf["_kinds"], pdf["_texts"], pdf["_refs"], pdf["_orders"])
    ]


def _whole_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Each non-empty Arrow batch of the crossing as a frame of whole docs.
    An unchunked doc stays its row.  A chunked doc's chunk rows arrive in
    order; their span arrays append to the open doc, which is yielded with
    the batch that brings its last chunk, so media re-anchoring, NULL offset
    numbering and every doc-global step see the assembled doc.  The open doc
    carries across Arrow batches; a row out of that sequence raises rather
    than yielding a partial doc."""
    open_id, next_chunk, parts = None, 0, []
    for pdf in batches:
        if pdf.empty:
            continue
        chunks = pdf["_chunk"].to_numpy()
        if open_id is None and (chunks < 0).all():
            yield pdf
            continue
        rows = []
        for i, (doc_id, chunk, n) in enumerate(zip(
                pdf["doc_id"], chunks, pdf["_n"])):
            if max(chunk, 0) != next_chunk or (chunk > 0 and doc_id != open_id):
                raise ValueError(
                    f"chunk {chunk} of doc {doc_id!r} out of sequence "
                    f"(open doc {open_id!r} expects chunk {next_chunk})")
            if chunk < 0:
                rows.append(pdf.iloc[i])
                continue
            open_id, next_chunk = doc_id, chunk + 1
            parts.append(pdf.iloc[i])
            if next_chunk == n:
                rows.append(_assemble(parts))
                open_id, next_chunk, parts = None, 0, []
        if rows:  # none when the batch holds only non-final chunks
            yield pd.DataFrame(rows, columns=pdf.columns)
    if open_id is not None:
        raise ValueError(f"doc {open_id!r} ended before its last chunk")


def _extract_batches_flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Run :func:`.extract_core.extract_batch` once per frame of whole docs
    (:func:`_whole_docs`)."""
    for docs in _whole_docs(batches):
        out = ec.extract_batch(docs)
        out["part_key"] = docs["part_key"].to_numpy()
        yield out[_FLAT_OUT_NAMES]


def _assemble(parts: list[pd.Series]) -> pd.Series:
    """One doc's chunk rows -> a row holding its whole span arrays."""
    row = parts[0].copy()
    for col in ec.FLAT_SPAN_COLUMNS:
        dtype = np.float64 if col == "_orders" else object
        arrays = [np.asarray(p[col], dtype) for p in parts if p[col] is not None]
        row[col] = np.concatenate(arrays) if arrays else None
    return row


def _extract(docs: DataFrame, chunk_if: str,
             chunk_spans: int = DEFAULT_CHUNK_SPANS,
             chunk_chars: int = DEFAULT_CHUNK_CHARS) -> DataFrame:
    """The extraction stage behind every public entry point: chunk rows
    (:func:`_chunk_rows`), one mapInPandas, and the span re-zip, with no
    exchange — so it runs in the stage of whatever produced ``docs``."""
    flat = map_batches(
        _chunk_rows(docs, chunk_if, chunk_spans, chunk_chars),
        _extract_batches_flat, _EXTRACT_FLAT_OUT)
    return flat.selectExpr(*[
        _REZIP_SQL if f.name == "spans" else f.name
        for f in EXTRACTED_WITH_PART.fields])


def extract_direct(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans, part_key) -> extracted, no doc chunked: one
    mapInPandas over ``docs`` with the flat crossing (see the note above)
    and the unchanged EXTRACTED_WITH_PART schema."""
    return _extract(docs, "false")


def extract_chunked(docs: DataFrame, chunk_spans: int = DEFAULT_CHUNK_SPANS,
                    chunk_chars: int = DEFAULT_CHUNK_CHARS) -> DataFrame:
    """docs(doc_id, spans, part_key) -> extracted, every doc chunked: the
    same stage as :func:`extract_direct`, with each doc's spans sliced
    JVM-side into chunk rows before the Arrow crossing.

    Chunks are cut on a running CHARACTER budget (default 200k), not span
    count — a multi-MB doc made of a few hundred huge spans must still
    split into many parse units (north_star: "multi-MB spans split into
    sub-batches before the Arrow UDF"); ``chunk_spans`` remains a secondary
    cap for many-tiny-span docs.  The chunks' span arrays are assembled in
    the same task and the doc is extracted with the batch that brings its
    last chunk, so no chunk row crosses an exchange.
    """
    return _extract(docs, "true", chunk_spans, chunk_chars)


DUAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("title_match", T.BooleanType(), True),
        T.StructField("n_spans_smart", T.IntegerType(), True),
        T.StructField("n_spans_simple", T.IntegerType(), True),
        T.StructField("main_len_ratio", T.DoubleType(), True),
    ]
)


def _extract_dual_batches_flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for docs in _whole_docs(batches):
        frame = pd.DataFrame(
            {"doc_id": docs["doc_id"], "spans": _records_from_flat(docs)})
        yield ec.extract_dual_frame(frame)


def extract_docs_dual(docs: DataFrame) -> DataFrame:
    """Cross-extractor differential in ONE pass (v8.R:3017-3033): the smart
    and simple kernels run over the same parsed regions inside one
    mapInPandas stage — one corpus scan, zero joins/shuffles.  The round-2
    form (two full pipelines + equi-join) parsed every document twice and
    shuffled both outputs; at 100 TB the single-pass form is the only
    sensible shape for a per-doc differential.  Crosses the boundary as
    extract does (only the input side here; the output is five scalars) and
    follows the scan partitioning."""
    return map_batches(_chunk_rows(docs, _OVERSIZE_SQL),
                       _extract_dual_batches_flat, DUAL_SCHEMA)


DEBUG_BOUNDARY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("row_id", T.IntegerType(), True),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("y", T.IntegerType(), True),
        T.StructField("element_type", T.StringType(), True),
        T.StructField("text_preview", T.StringType(), True),
        T.StructField("near", T.StringType(), True),
        T.StructField("in_slice", T.BooleanType(), True),
        T.StructField("boundary_start", T.IntegerType(), True),
        T.StructField("boundary_end", T.IntegerType(), True),
    ]
)


def debug_boundaries(docs: DataFrame) -> DataFrame:
    """The reference's manual-QA inspector (debug_reading_order /
    debug_content_extraction, v10.R:3237-3428) as a queryable relation:
    per document, the rows within :data:`.extract_core.DEBUG_CONTEXT` of
    each extraction boundary with an in-slice flag — boundary regressions
    become visible in DATA.  One mapInPandas stage over the corpus scan,
    no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DEBUG_BOUNDARY_SCHEMA.fields]
        for docs in _whole_docs(batches):
            rows: list[dict] = []
            for doc_id, spans in zip(docs["doc_id"], _records_from_flat(docs)):
                recs = ec.spans_to_regions(spans)
                rows.extend(ec.boundary_debug_records(doc_id, recs))
            yield (pd.DataFrame(rows, columns=cols) if rows
                   else pd.DataFrame(columns=cols))

    return map_batches(_chunk_rows(docs, _OVERSIZE_SQL), run,
                       DEBUG_BOUNDARY_SCHEMA)


# ---------------------------------------------------------------------------
# layout table (reference complete_layout, SURVEY §1.2 / S5)
# ---------------------------------------------------------------------------


def _layout_batches_flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for docs in _whole_docs(batches):
        yield ec.layout_batch(docs)


def extract_layout(docs: DataFrame) -> DataFrame:
    """docs -> one row per detected block (geometry + class, no text).

    Mirrors the reference's ``complete_layout`` sink (v10.R:92-103,
    197-202): ALL parsed blocks, including 'abandon' and parse failures,
    before any extraction filter — the debugging/audit relation.
    """
    return map_batches(_chunk_rows(docs, _OVERSIZE_SQL), _layout_batches_flat,
                       LAYOUT)


# ---------------------------------------------------------------------------
# full job
# ---------------------------------------------------------------------------


def extract_docs(
    docs: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    oversize_chars: int = DEFAULT_OVERSIZE_CHARS,
    chunk_spans: int = DEFAULT_CHUNK_SPANS,
    repartition: bool | None = None,
    chunk_chars: int = DEFAULT_CHUNK_CHARS,
) -> DataFrame:
    """Route by size and extract.  Returns extracted rows with part_key.

    ``repartition=None`` (auto) shuffles on the fine-grained part_key ONLY
    when the input is under-partitioned (< 2x cluster parallelism — the
    shape of a freshly-landed crawl dump: few writers, huge row groups).
    When the scan already yields enough splits, extraction fuses directly
    onto it: shuffling nested span payloads costs ~3x the extraction itself
    (measured: 214 vs 73 thread-seconds on the bench corpus), and a parquet
    scan's splits are as balanced as a hash shuffle's.

    Either way extraction is ONE mapInPandas with no exchange of its own:
    a JVM size expression picks the docs whose summed span text exceeds
    ``oversize_chars``, and only those are split JVM-side into chunk rows
    (:func:`extract_chunked`'s budget) in the same stage.  Every other doc
    crosses as one row.  Python therefore runs once per scan split (or per
    salted partition), and each oversize doc is parsed and assembled inside
    the task that scanned it, in parallel with the other splits.
    """
    if "part_key" not in docs.columns:
        docs = with_part_key(docs, num_parts)
    if repartition is None:
        parallelism = docs.sparkSession.sparkContext.defaultParallelism
        repartition = estimate_scan_partitions(docs) < 2 * parallelism
    if repartition:
        # hash-distribute on the fine-grained part_key (cardinality
        # num_parts >> partition count, so buckets balance); partition count
        # comes from spark.sql.shuffle.partitions (AQE may coalesce), so the
        # same job re-balances automatically at any cluster size
        docs = docs.repartition("part_key")
    return _extract(docs, f"{_TOTAL_CHARS_SQL} > {int(oversize_chars)}",
                    chunk_spans, chunk_chars)


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The COMMITTED view of ``{out_dir}/extracted``.

    Only rows whose (run_id, attempt_id, part_key) has a ``done``
    checkpoint row are visible.  Data is written BEFORE its checkpoint
    rows, so a run that dies in between leaves an orphan attempt partition;
    this join makes orphans invisible and a resume that re-processes the
    same parts under a new attempt_id duplicate-free.  The committed set is
    tiny (one row per run x part), so the join is a broadcast semi-join —
    no shuffle of the data table.
    """
    data = read_table(spark, f"{out_dir}/extracted")
    if data is None:
        return None
    ckpt = read_table(spark, f"{out_dir}/checkpoint", schema=CHECKPOINT)
    if ckpt is None:
        return data.limit(0)
    committed = (
        ckpt.filter(F.col("status") == "done")
        .select("run_id", "attempt_id", "part_key")
        .distinct()
    )
    return data.join(
        F.broadcast(committed), ["run_id", "attempt_id", "part_key"], "left_semi"
    )


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    num_parts: int = DEFAULT_NUM_PARTS,
    oversize_chars: int = DEFAULT_OVERSIZE_CHARS,
    resume: bool = True,
) -> dict:
    """End-to-end job with checkpoint/lineage and resume-from-partition.

    Writes ``{out_dir}/extracted`` hive-partitioned by (run_id, attempt_id)
    and appends per-part metric rows to ``{out_dir}/checkpoint``.  The
    write protocol is idempotent under crash+resume: data lands in a fresh
    attempt partition first, checkpoint rows commit it second, and
    :func:`read_extracted` only exposes committed attempts — so a run that
    dies between the two steps re-processes under a new attempt_id without
    ever double-exposing rows, and per-part metrics are computed from a
    partition-PRUNED scan of just this attempt's output (never a re-read of
    the whole table).  Returns run metrics.
    """
    # letter prefix: these become hive partition directory values, and an
    # all-digit hex id (~0.4% of uuid4 prefixes) would make Spark's
    # partition-column type inference read the column back as LongType,
    # silently changing read_extracted's schema and the commit semi-join
    run_id = run_id or "r" + uuid.uuid4().hex[:11]
    attempt_id = "a" + uuid.uuid4().hex[:11]
    docs = with_part_key(docs, num_parts)

    ckpt_path = f"{out_dir}/checkpoint"
    done_parts: set[int] = set()
    if resume:
        ckpt = read_table(spark, ckpt_path, schema=CHECKPOINT)
        if ckpt is not None:
            done = (
                ckpt.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
                .select("part_key")
                .distinct()
            )
            done_parts = {r.part_key for r in done.collect()}
            if done_parts:
                docs = docs.join(F.broadcast(done), "part_key", "left_anti")

    t0 = time.time()
    extracted = (
        extract_docs(docs, num_parts, oversize_chars)
        .withColumn("run_id", F.lit(run_id))  # row-level lineage
        .withColumn("attempt_id", F.lit(attempt_id))
    )
    # (run_id, attempt_id) are constant for the whole write, so partitionBy
    # creates exactly one directory and each task writes one file into it —
    # no tiny-file spray.  part_key stays a COLUMN (lineage/resume join
    # key): with 512 keys x N tasks it WOULD spray as a partition dir.
    (extracted.write.mode("append").partitionBy("run_id", "attempt_id")
     .parquet(f"{out_dir}/extracted"))
    elapsed = time.time() - t0

    # lineage: per-partition metrics from what was just written — a
    # partition-pruned, column-pruned scan of ONLY this attempt's directory
    # (at 100 TB the alternative — re-scanning the whole output table — is a
    # second full pass).  An empty input into a fresh out_dir writes no data
    # file, so there is no table to read: its metrics come from the (empty)
    # extracted frame instead, which Spark plans as a local relation.
    written = read_table(spark, f"{out_dir}/extracted")
    this_attempt = (
        (extracted.limit(0) if written is None else written)
        .filter((F.col("run_id") == run_id) & (F.col("attempt_id") == attempt_id))
    )
    metrics = (
        this_attempt.groupBy("part_key")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum("parse_failures").alias("parse_failures"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("attempt_id", F.lit(attempt_id))
        .withColumn("status", F.lit("done"))
        .withColumn("ts", F.current_timestamp())
        .select([f.name for f in CHECKPOINT.fields])
    )
    metrics.write.mode("append").parquet(ckpt_path)

    totals = (
        read_table(spark, ckpt_path, schema=CHECKPOINT)
        .filter(F.col("run_id") == run_id)
        .agg(
            F.sum("docs").alias("docs"),
            F.sum("spans").alias("spans"),
            F.sum("parse_failures").alias("parse_failures"),
        )
        .collect()[0]
    )
    return {
        "run_id": run_id,
        "elapsed_sec": elapsed,
        "docs": totals["docs"] or 0,
        "spans": totals["spans"] or 0,
        "parse_failures": totals["parse_failures"] or 0,
        "resumed_parts_skipped": len(done_parts),
    }
