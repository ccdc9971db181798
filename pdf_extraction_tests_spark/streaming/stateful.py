"""Custom stateful streaming operator: per-document span assembly.

The north-rule input is one row per document with spans nested, but a live
ingestion feed delivers spans INCREMENTALLY (a crawler emits page blocks as
it renders them).  This operator assembles them: span events stream in as
``(doc_id, kind, text, media_ref, offset, is_last)``, state accumulates
per doc_id across micro-batches (and across RESTARTS — state lives in the
streaming checkpoint), and a completed document row in the north-rule shape
``(doc_id, spans)`` is emitted exactly once when the terminal marker
arrives.  Downstream, the emitted docs flow into the same ``extract_docs``
plan (e.g. via ``foreachBatch``).

Built on ``applyInPandasWithState`` (Arrow-batched grouped-state UDF —
the "custom stateful operator" escape hatch when watermark+window built-ins
can't express the semantics).  State is the JSON-encoded span list: small
per doc (spans are text blocks), schema-stable across versions, and cheap
to merge.  An optional processing-time timeout flushes abandoned documents
as ``complete=false`` rows so a crawler that died mid-document cannot leak
state forever — at 10^12-doc scale unbounded state IS the failure mode.
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

SPAN_EVENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
        T.StructField("is_last", T.BooleanType(), True),
    ]
)

ASSEMBLED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), True),
                        T.StructField("text", T.StringType(), True),
                        T.StructField("media_ref", T.StringType(), True),
                        T.StructField("offset", T.IntegerType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("complete", T.BooleanType(), False),
    ]
)

_STATE = T.StructType([T.StructField("spans_json", T.StringType(), True)])


def _assemble(key, batches: Iterable[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Grouped-state function: accumulate span events; emit on terminal
    marker (complete=true) or timeout (complete=false)."""
    doc_id = key[0]
    if state.hasTimedOut:
        (prev_json,) = state.get
        spans = json.loads(prev_json) if prev_json else []
        state.remove()
        yield pd.DataFrame(
            [{"doc_id": doc_id,
              "spans": sorted(spans, key=lambda s: s["offset"]),
              "complete": False}]
        )
        return
    spans = []
    if state.exists:
        (prev_json,) = state.get
        if prev_json:
            spans = json.loads(prev_json)
    done = False
    for pdf in batches:
        for row in pdf.itertuples(index=False):
            # Arrow->pandas renders a NULL int32 as float NaN (not None) —
            # int(NaN) would raise and kill the whole streaming query, so
            # null offsets are fault-isolated to 0 via pd.isna
            off = row.offset
            spans.append(
                {
                    "kind": row.kind,
                    "text": row.text,
                    "media_ref": row.media_ref,
                    "offset": 0 if off is None or pd.isna(off) else int(off),
                }
            )
            done = done or bool(row.is_last)
    if done:
        state.remove()
        yield pd.DataFrame(
            [{"doc_id": doc_id,
              "spans": sorted(spans, key=lambda s: s["offset"]),
              "complete": True}]
        )
    else:
        state.update((json.dumps(spans),))
        try:
            # flush abandoned docs after 1h of silence (bounded state);
            # no-op when the query runs with NoTimeout
            state.setTimeoutDuration(3600 * 1000)
        except Exception:  # noqa: BLE001 — NoTimeout mode rejects this
            pass


def assemble_spans_stream(events: DataFrame,
                          timeout: str = "NoTimeout") -> DataFrame:
    """Streaming span events -> assembled north-rule documents.

    ``events`` must be a streaming DataFrame with the SPAN_EVENTS schema.
    Returns the assembled stream; attach a sink (e.g. foreachBatch ->
    extract_docs) and a checkpoint to run it.

    ``timeout``: pass ``"ProcessingTimeTimeout"`` on a CONTINUOUS deployment
    so abandoned documents flush as complete=false after 1h of silence
    (bounded state at 10^12-doc scale).  The default ``NoTimeout`` suits
    drain-style ``availableNow`` runs — with a processing-time timeout the
    engine must keep scheduling timeout-evaluation micro-batches, so an
    available-now query would never terminate.
    """
    from ..shipping import ship_package

    # _assemble is pickled by reference to this package
    ship_package(events.sparkSession)
    return events.groupBy("doc_id").applyInPandasWithState(
        _assemble,
        outputStructType=ASSEMBLED,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )
