"""The distributed extraction job: Spark orchestration around the kernel.

Design (SURVEY.md §3.4 / §4 custom items):

* **No shuffle on the happy path.** The input table has one row per document
  with spans nested, so per-document extraction is a ``mapInPandas`` over the
  scan — the only exchange is an explicit *salted repartition* on
  ``part_key = pmod(xxhash64(doc_id), P)`` for load balance and stable
  checkpoint identity.
* **Skew routing.** Documents whose total span text exceeds a threshold are
  routed to a chunked path: their span arrays are sliced into chunk rows,
  parsed chunk-parallel (the expensive stage — in production this is where
  PDF bytes are rasterized/OCR'd), then re-assembled per document with
  ``applyInPandas`` for the cheap doc-global layout/boundary logic.
  The reference OOMs silently on big docs (eager per-page loop,
  Document_Processor_DocLayout_YOLO_Code_v10.R:32-191); the north rule makes
  sub-batching mandatory.
* **Python over the scan once.** The size test is a JVM expression in the
  scan stage, and the oversize docs are gathered JVM-side through one
  exchange on ``doc_id`` before any Python stage of the chunked path.  The
  direct path's ``mapInPandas`` is therefore the only Python stage that runs
  once per scan split; AQE coalesces the gathered exchange, so the chunked
  path's Python stages run only on the partitions that hold oversize docs.
  Each Python task has a fixed start-up cost whatever its row count
  (~35 ms wall per task against ~10 ms for a JVM-only task, 2 slots on a
  4-core host, once the worker's zip finders are stat-checked — see
  :mod:`.shipping`), so the number of Python tasks, not the bytes, is what
  this routing saves.
* **Lineage / resume.** Every run appends one row per ``part_key`` to a
  checkpoint table; a restart anti-joins input partitions against completed
  rows and re-processes only the remainder — batch incrementality standing in
  for the reference's "skip if .RData exists" idiom (v10.R:3712-3723).
* **No per-row Python.** Only Arrow-vectorized ``mapInPandas`` /
  ``applyInPandas``; everything else is native column expressions.
"""

from __future__ import annotations

import time
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import extract_core as ec
from .schema import CHECKPOINT, DOCS, EXTRACTED_WITH_PART, REGIONS
from .tables import read_table, write_table

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


def _spans_to_records(spans) -> list[dict]:
    """Normalize an Arrow-materialized spans array to list-of-dicts."""
    if spans is None:
        return []
    out = []
    for sp in spans:
        if isinstance(sp, dict):
            out.append(sp)
        else:  # pyspark Row
            out.append(sp.asDict())
    return out


# ---------------------------------------------------------------------------
# normal path: one mapInPandas stage, zero extra shuffles
# ---------------------------------------------------------------------------


# Flat-boundary crossing (round-7, guide §4): the JVM's ArrowWriter
# serializes an array<struct<4 fields>> column element-by-element, and that
# conversion — not Python-side work — dominated the mapInPandas round trip
# (measured: an identity pass over the bench corpus cost 3.2-5.1 s even
# with zero Python object construction; projecting the same spans as four
# parallel primitive arrays cut the identity pass ~15%).  So the hot path
# crosses flat in BOTH directions: spans.kind/.text/.media_ref/.offset out
# to Python (a free JVM field extraction), dict records rebuilt per batch
# (cheap — measured inside the same probe), and result spans returned as
# four arrays re-zipped to the public struct schema JVM-side.  The kernel
# and the public EXTRACTED_WITH_PART schema are untouched.

_EXTRACT_FLAT_COLS = ["_kinds", "_texts", "_refs", "_orders"]

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


def _records_from_flat(pdf: pd.DataFrame) -> list[list[dict]]:
    """Rebuild the kernel's span-record dicts from the four parallel input
    arrays.  NULL spans arrays (doc with spans=NULL) come through as None
    in every column -> empty record list, matching _spans_to_records."""
    return [
        [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in zip(ks, ts, ms, os_)
        ]
        if ks is not None else []
        for ks, ts, ms, os_ in zip(
            pdf["_kinds"], pdf["_texts"], pdf["_refs"], pdf["_orders"])
    ]


def _extract_batches_flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if pdf.empty:
            continue
        frame = pd.DataFrame(
            {"doc_id": pdf["doc_id"], "spans": _records_from_flat(pdf)})
        out = ec.extract_docs_frame(frame)
        spans = out["spans"]
        out = out.drop(columns=["spans"])
        out["part_key"] = pdf["part_key"].to_numpy()
        out["_kinds"] = spans.map(lambda sp: [s["kind"] for s in sp])
        out["_texts"] = spans.map(lambda sp: [s["text"] for s in sp])
        out["_refs"] = spans.map(lambda sp: [s["media_ref"] for s in sp])
        out["_orders"] = spans.map(lambda sp: [s["order"] for s in sp])
        yield out[_FLAT_OUT_NAMES]


def extract_direct(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans, part_key) -> extracted, one Arrow stage.

    Crosses the Python boundary flat (see note above) and re-zips the
    span struct JVM-side so callers see the unchanged EXTRACTED_WITH_PART
    schema."""
    raw = _flat_spans_input(docs, "part_key").mapInPandas(
        _extract_batches_flat, schema=_EXTRACT_FLAT_OUT)
    spans = F.transform(
        F.arrays_zip("_kinds", "_texts", "_refs", "_orders"),
        lambda x: F.struct(
            x["_kinds"].alias("kind"),
            x["_texts"].alias("text"),
            x["_refs"].alias("media_ref"),
            x["_orders"].alias("order"),
        ),
    )
    return raw.withColumn("spans", spans).select(
        *[f.name for f in EXTRACTED_WITH_PART.fields])


def _flat_spans_input(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Project the spans struct array into four parallel arrays for a flat
    boundary crossing (see the note above extract_direct)."""
    return docs.select(
        "doc_id", *extra_cols,
        F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
        F.col("spans.media_ref").alias("_refs"),
        F.col("spans.offset").alias("_orders"),
    )


def _extract_simple_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if pdf.empty:
            continue
        norm = pdf.assign(spans=pdf["spans"].map(_spans_to_records))
        out = ec.extract_simple_frame(norm[["doc_id", "spans"]])
        out["part_key"] = pdf["part_key"].to_numpy()
        yield out


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
    for pdf in batches:
        if pdf.empty:
            continue
        frame = pd.DataFrame(
            {"doc_id": pdf["doc_id"], "spans": _records_from_flat(pdf)})
        yield ec.extract_dual_frame(frame)


def extract_docs_dual(docs: DataFrame,
                      num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """Cross-extractor differential in ONE pass (v8.R:3017-3033): the smart
    and simple kernels run over the same parsed regions inside one
    mapInPandas stage — one corpus scan, zero joins/shuffles.  The round-2
    form (two full pipelines + equi-join) parsed every document twice and
    shuffled both outputs; at 100 TB the single-pass form is the only
    sensible shape for a per-doc differential.  Crosses the boundary flat
    (round 7 — only the input side here; the output is five scalars).

    ``num_parts`` is accepted for call-shape stability but unused since
    the flat crossing: the dual QA relation follows the scan partitioning
    (no part_key column crosses the boundary any more)."""
    del num_parts
    from .shipping import ship_package

    ship_package(docs.sparkSession)
    return _flat_spans_input(docs).mapInPandas(
        _extract_dual_batches_flat, schema=DUAL_SCHEMA)


def extract_docs_simple(docs: DataFrame,
                        num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """SIMPLE-path extraction — the reference's second extractor
    (process_document_simple, v10.R:745-811) distributed the same way as
    the smart path.  Used for the cross-extractor differential
    (v8.R:3017-3033); a QA relation typically run on samples, so it takes
    the direct mapInPandas route without the oversized-doc chunking."""
    from .shipping import ship_package

    ship_package(docs.sparkSession)
    if "part_key" not in docs.columns:
        docs = with_part_key(docs, num_parts)
    return docs.mapInPandas(_extract_simple_batches, schema=EXTRACTED_WITH_PART)


# ---------------------------------------------------------------------------
# skew path: chunk-parallel parse, then per-doc assemble
# ---------------------------------------------------------------------------


def _split_chunk_rows(batches: Iterator[pd.DataFrame],
                      chunk_spans: int, chunk_chars: int) -> Iterator[pd.DataFrame]:
    """Stage 0 (narrow): slice each oversized doc's span array into chunk
    rows on a running character budget."""
    for pdf in batches:
        rows = []
        for doc_id, part_key, spans in zip(pdf["doc_id"], pdf["part_key"], pdf["spans"]):
            spans = _spans_to_records(spans)
            cur: list[dict] = []
            cum = 0
            chunk = 0
            for sp in spans:
                cur.append(sp)
                cum += len(sp.get("text") or "")
                if cum >= chunk_chars or len(cur) >= chunk_spans:
                    rows.append((doc_id, int(part_key), chunk, cur))
                    cur, cum = [], 0
                    chunk += 1
            if cur or not spans:
                rows.append((doc_id, int(part_key), chunk, cur))
        yield pd.DataFrame(rows, columns=["doc_id", "part_key", "chunk", "spans"])


def _parse_chunk_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stage 1 (chunk-parallel): raw span chunks -> parsed region rows."""
    cols = [f.name for f in REGIONS.fields]
    for pdf in batches:
        frames = []
        for doc_id, part_key, spans in zip(pdf["doc_id"], pdf["part_key"], pdf["spans"]):
            recs = ec.spans_to_regions(_spans_to_records(spans))
            if not recs:
                continue
            f = pd.DataFrame(recs, columns=ec.REGION_COLUMNS)
            f.insert(0, "doc_id", doc_id)
            f.insert(1, "part_key", int(part_key))
            frames.append(f[cols])
        yield (pd.concat(frames, ignore_index=True) if frames
               else pd.DataFrame(columns=cols))


def _assemble_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    """Stage 2 (per document): assembled regions -> extracted record."""
    res = ec.extract_from_regions(pdf["doc_id"].iloc[0], pdf)
    out = pd.DataFrame([res], columns=ec.EXTRACT_RESULT_COLUMNS)
    out["part_key"] = int(pdf["part_key"].iloc[0])
    return out


def extract_chunked(docs: DataFrame, chunk_spans: int = DEFAULT_CHUNK_SPANS,
                    chunk_chars: int = DEFAULT_CHUNK_CHARS) -> DataFrame:
    """Oversized documents: slice spans into chunk rows (narrow) ->
    spread + parse chunk-parallel -> assemble per doc.

    Chunks are cut on a running CHARACTER budget (default 200k), not span
    count — a multi-MB doc made of a few hundred huge spans must still
    split into many parse units (north_star: "multi-MB spans split into
    sub-batches before the Arrow UDF"); ``chunk_spans`` remains a secondary
    cap for many-tiny-span docs.  The slicing happens in a narrow
    mapInPandas over the nested array (no per-span explode — exploding
    multi-MB docs into one shuffle row per span cost more than the parse);
    the shuffles are the chunk spread and the per-doc reassembly, both
    proportional to the (few) huge docs.

    The split is a Python stage, and every Python task pays a fixed
    start-up cost whatever its row count (~35 ms against ~10 ms for a
    JVM-only task on a 4-core host; the first task in each worker pays
    ~150 ms more for its zip-directory re-reads).  So ``docs`` should
    already be gathered off the scan: :func:`extract_docs` repartitions its
    oversize docs on ``doc_id`` (a JVM-side exchange that AQE coalesces)
    before calling this.  Called directly on a scan, the split runs one
    Python task per scan split even when only one split holds an oversize
    doc.
    """
    chunk_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("part_key", T.IntegerType(), False),
            T.StructField("chunk", T.IntegerType(), False),
            T.StructField("spans", DOCS["spans"].dataType, True),
        ]
    )
    chunk_rows = docs.select("doc_id", "part_key", "spans").mapInPandas(
        lambda it: _split_chunk_rows(it, chunk_spans, chunk_chars),
        schema=chunk_schema,
    )
    spread = chunk_rows.repartition("doc_id", "chunk")
    regions = spread.mapInPandas(_parse_chunk_rows, schema=REGIONS)
    return regions.groupBy("doc_id").applyInPandas(
        lambda pdf: _assemble_doc(pdf), schema=EXTRACTED_WITH_PART
    )


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


def debug_boundaries(docs: DataFrame, context: int = 3) -> DataFrame:
    """The reference's manual-QA inspector (debug_reading_order /
    debug_content_extraction, v10.R:3237-3428) as a queryable relation:
    per document, the rows within ``context`` of each extraction boundary
    with an in-slice flag — boundary regressions become visible in DATA.
    One mapInPandas stage over the corpus scan, no shuffle."""
    from .shipping import ship_package

    ship_package(docs.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DEBUG_BOUNDARY_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, spans in zip(pdf["doc_id"], _records_from_flat(pdf)):
                recs = ec.spans_to_regions(spans)
                rows.extend(ec.boundary_debug_records(doc_id, recs, context))
            yield (pd.DataFrame(rows, columns=cols) if rows
                   else pd.DataFrame(columns=cols))

    return _flat_spans_input(docs).mapInPandas(
        run, schema=DEBUG_BOUNDARY_SCHEMA)


# ---------------------------------------------------------------------------
# layout table (reference complete_layout, SURVEY §1.2 / S5)
# ---------------------------------------------------------------------------


def extract_layout(docs: DataFrame) -> DataFrame:
    """docs -> one row per detected block (geometry + class, no text).

    Mirrors the reference's ``complete_layout`` sink (v10.R:92-103,
    197-202): ALL parsed blocks, including 'abandon' and parse failures,
    before any extraction filter — the debugging/audit relation.
    """
    from .schema import LAYOUT
    from .shipping import ship_package

    ship_package(docs.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in LAYOUT.fields]
        for pdf in batches:
            frames = []
            for doc_id, spans in zip(pdf["doc_id"], _records_from_flat(pdf)):
                recs = ec.spans_to_regions(spans)
                if not recs:
                    continue
                f = pd.DataFrame(recs)
                f.insert(0, "doc_id", doc_id)
                frames.append(f[cols])
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame(columns=cols)
            )

    return _flat_spans_input(docs).mapInPandas(run, schema=LAYOUT)


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
    scan's splits are as balanced as a hash shuffle's.  The salted
    repartition happens BEFORE size computation and routing so every
    downstream stage runs at full parallelism.

    Either way Python runs over the scan once: oversize docs are filtered
    by a JVM size expression and gathered through one exchange on
    ``doc_id`` before the chunked path's first Python stage, so only the
    direct path's ``mapInPandas`` runs on every scan split.  When no doc is
    oversize one empty split task remains: AQE cannot prove that a Python
    map over empty input is empty, so it keeps one coalesced partition.
    """
    from .shipping import ship_package

    ship_package(docs.sparkSession)
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
    sized = docs.withColumn(
        "_total_chars",
        F.coalesce(  # NULL spans => 0, so the doc still routes (and emits an
            # empty extraction) instead of silently vanishing from both paths
            F.aggregate(
                F.col("spans"),
                F.lit(0).cast("long"),
                lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
            ),
            F.lit(0).cast("long"),
        ),
    )
    small = sized.filter(F.col("_total_chars") <= oversize_chars).drop("_total_chars")
    big = sized.filter(F.col("_total_chars") > oversize_chars).drop("_total_chars")
    small_out = extract_direct(small)  # filter preserves the partitioning
    # gathered JVM-side before the chunked path's first Python stage
    big_out = extract_chunked(big.repartition("doc_id"), chunk_spans, chunk_chars)
    return small_out.unionByName(big_out)


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
    write_table(extracted, f"{out_dir}/extracted", mode="append",
                partition_by=["run_id", "attempt_id"])
    elapsed = time.time() - t0

    # lineage: per-partition metrics from what was just written — a
    # partition-pruned, column-pruned scan of ONLY this attempt's directory
    # (at 100 TB the alternative — re-scanning the whole output table — is a
    # second full pass).
    this_attempt = (
        read_table(spark, f"{out_dir}/extracted")
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
    write_table(metrics, ckpt_path, mode="append")

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
