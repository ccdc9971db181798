"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The paper's data model carries media only as the ``media_ref`` of a span,
and no extraction stage decodes media, so the feature kernel decodes
nothing: every non-NULL item gets a deterministic digest-seeded vector
(:func:`_decode_stub`).  The Spark-side plumbing — schema, Arrow batch
shape, partitioning, UDF signatures — is the production shape; on a real
cluster only the decode body widens (e.g. PIL/torchaudio inside the same
``mapInPandas`` iterator).

Pattern: media rows are (ref, media_type, content binary, meta map); feature
extraction is a ``mapInPandas`` over Arrow batches so decode amortizes per
batch, never per row.  The media table q33 reads comes from
:func:`media_from_documents`; a PDF's media span carries only its
``pdf:xobj:<name>`` reference, so no PDF source feeds this table.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..shipping import map_batches

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("content_digest", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("decode_ok", T.BooleanType(), True),
    ]
)

FEATURE_DIM = 16


def _decode_stub(content: bytes | None, media_type: str) -> np.ndarray | None:
    """STUB decode: deterministic pseudo-feature from the content digest,
    None for NULL content.

    Real deployment: replace with actual decode + model feature extraction.
    The digest-seeded vector keeps tests meaningful (stable, content-
    sensitive, type-sensitive).
    """
    if content is None:
        return None
    seed = int.from_bytes(
        hashlib.md5(bytes(content) + media_type.encode()).digest()[:8], "big"
    )
    rng = np.random.default_rng(seed)
    return rng.standard_normal(FEATURE_DIM).astype(np.float32)


def extract_media_features(media: DataFrame) -> DataFrame:
    """media table -> per-item features, decode batched per Arrow batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, oks, digests, sizes = [], [], [], []
            for content, mtype in zip(pdf["content"], pdf["media_type"]):
                raw = bytes(content) if content is not None else None
                sizes.append(len(raw) if raw is not None else 0)
                digests.append(
                    hashlib.md5(raw).hexdigest() if raw is not None else None
                )
                f = _decode_stub(raw, mtype or "unknown")
                feats.append(f.tolist() if f is not None else None)
                oks.append(f is not None)
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pd.Series(sizes, dtype="int32"),
                    "content_digest": digests,
                    "feature": feats,
                    "decode_ok": oks,
                }
            )

    return map_batches(media, run, FEATURE_SCHEMA)


def media_from_documents(docs: DataFrame, limit: int = 96) -> DataFrame:
    """Deterministic media table derived from the documents table: content
    is the UTF-8 encoding of the text column, media_type cycles by doc_id.

    This makes the multimodal plumbing oracle-checkable end to end —
    ``n_bytes`` == octet_length, ``content_digest`` == md5(text), the type
    routing and decode_ok flags are pure functions of doc_id — while the
    binary column, Arrow batching, and UDF signature stay identical to a
    real media table (only the bytes happen to be text)."""
    t = F.col("doc_id") % 3
    # text IS NOT NULL: a NULL text would yield decode_ok=False / n_bytes=0 /
    # digest=NULL from the feature kernel, which the (octet_length/md5-based)
    # oracle can't mirror — filter the same rows out on BOTH engines instead
    return docs.filter(F.col("doc_id") < limit).filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.when(t == 0, "image").when(t == 1, "audio").otherwise("video")
        .alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        F.when(t == 0, F.lit(640)).cast("int").alias("width"),
        F.when(t == 0, F.lit(480)).cast("int").alias("height"),
        F.when(t != 0, (F.col("doc_id") % 30).cast("int") * 1000)
        .cast("int").alias("duration_ms"),
    )


def media_features_sql(limit: int = 96, table: str = "documents") -> str:
    """DuckDB oracle for extract_media_features(media_from_documents(...))
    minus the (stubbed, non-SQL) feature column."""
    return f"""
    SELECT 'media://' || doc_id AS media_ref,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_digest,
           TRUE AS decode_ok
    FROM {table} WHERE doc_id < {limit} AND text IS NOT NULL
    """
