"""Perceptual image hashing (pHash) + banded near-dup pairs.

Web corpora are full of visually-identical images that differ at the byte
level (re-encodes, quality changes, metadata edits) — the exact digest in
the media-features table cannot see them.  The classic DCT perceptual
hash can: resize to 32x32, 2-D DCT-II, keep the 8x8 low-frequency block,
threshold against its median -> 64 bits whose Hamming distance tracks
visual similarity.

Spark shape mirrors the SimHash text path (operators/dedup.py):

* hashing is a batched ``mapInPandas`` over the media table's binary
  column (numpy DCT per Arrow batch — the decode itself reuses
  multimodal.decode_gray_image, so every codec with a real decoder gets
  a real pHash and everything else is honestly NULL);
* candidate pairs come from a BANDED self-join: the 64-bit hash splits
  into ``bands`` 16-bit keys, same-(band, key) rows join — pigeonhole
  guarantees any pair with Hamming distance < bands shares a band, so
  recall at small distances is 1.0 by construction, never probabilistic;
* the exact Hamming verify is JVM-side ``bit_count(a ^ b)`` — no Python
  in the join or the verify.

The reference has no image dedup at all (images pass through as files);
this extends the dedup suite (exact/MinHash/SimHash/embedding) with the
perceptual-visual modality.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..shipping import map_batches

PHASH_SIZE = 32          # resize target (DCT input)
PHASH_KEEP = 8           # low-frequency block kept
DEFAULT_BANDS = 4        # 4 x 16-bit bands over the 64-bit hash
DEFAULT_MAX_HAMMING = 10

_DCT = None


def _dct_matrix(n: int = PHASH_SIZE) -> np.ndarray:
    """Orthonormal DCT-II matrix (same construction as sources/_jpeg's
    IDCT, transposed use)."""
    global _DCT
    if _DCT is None or _DCT.shape[0] != n:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.sqrt(2.0 / n) * np.cos((2 * i + 1) * k * np.pi / (2 * n))
        m[0] *= np.sqrt(0.5)
        _DCT = m
    return _DCT


def _resize_mean(img: np.ndarray, n: int = PHASH_SIZE) -> np.ndarray:
    """Deterministic area-mean resize to n x n via bucketed reduceat."""
    img = np.atleast_2d(np.asarray(img, dtype=np.float64))
    h, w = img.shape
    if h < 1 or w < 1:
        raise ValueError("empty image")
    rb = (np.arange(n) * h) // n
    cb = (np.arange(n) * w) // n
    rows = np.add.reduceat(img, rb, axis=0)
    both = np.add.reduceat(rows, cb, axis=1)
    # upsampling repeats boundaries; reduceat then yields the SINGLE
    # element at the repeated index, so the matching count is 1, not 0
    # (a zero count divided every sub-32px image into NaNs -> phash 0
    # for ALL of them — caught by the video fixtures, regression-pinned)
    rcount = np.maximum(np.diff(np.append(rb, h)), 1)[:, None].astype(float)
    ccount = np.maximum(np.diff(np.append(cb, w)), 1)[None, :].astype(float)
    return both / (rcount * ccount)


def phash64(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash of a grayscale image array."""
    small = _resize_mean(img)
    d = _dct_matrix()
    coefs = d @ small @ d.T
    block = coefs[:PHASH_KEEP, :PHASH_KEEP].ravel()
    ac = block[1:]                        # drop DC: it is just brightness
    med = np.median(ac)
    bits = 0
    for v in ac:
        bits = (bits << 1) | int(v > med)
    return bits                           # 63 significant bits


def phash_features(media: DataFrame,
                   ref_col: str = "media_ref",
                   content_col: str = "content") -> DataFrame:
    """media table -> (ref_col, phash bigint | NULL).  NULL = no real
    pixel decode for the content (honest, like feature_kind='stub')."""
    from pdf_extraction_tests_spark.operators.multimodal import (
        decode_gray_image)

    schema = T.StructType([
        T.StructField(ref_col, T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for content in pdf[content_col]:
                img = decode_gray_image(
                    bytes(content) if content is not None else None)
                try:
                    hashes.append(phash64(img) if img is not None else None)
                except ValueError:
                    hashes.append(None)
            yield pd.DataFrame({ref_col: pdf[ref_col], "phash": hashes},
                               columns=[ref_col, "phash"])

    return map_batches(media.select(ref_col, content_col), run, schema)


def phash_near_dups(hashes: DataFrame,
                    max_hamming: int = DEFAULT_MAX_HAMMING,
                    bands: int = DEFAULT_BANDS,
                    ref_col: str = "media_ref",
                    hash_col: str = "phash") -> DataFrame:
    """Near-dup pairs from any 64-bit-hash frame (pHash images, audio
    fingerprints — ``hash_col`` names the column).

    Banded candidate generation (explode ``bands`` 16-bit keys, equi-join
    on (band, key) — never all-pairs) + exact ``bit_count(a ^ b)`` verify.
    Pigeonhole: every pair with Hamming < ``bands`` is guaranteed found;
    pairs between that and ``max_hamming`` are found iff some band
    matches (the standard recall/cost dial, same as LSH bands).

    Returns (ref_a, ref_b, hamming), ref_a < ref_b, deduped across bands.
    """
    width = 64 // bands
    mask = (1 << width) - 1
    h = hashes.select(
        F.col(ref_col), F.col(hash_col).alias("phash")
    ).filter(F.col("phash").isNotNull())
    banded = h.select(
        F.col(ref_col), "phash",
        F.explode(F.array(*[F.lit(i) for i in range(bands)])).alias("band"),
    ).withColumn(
        # expr form: the pyspark shiftrightunsigned wrapper only accepts a
        # python-int shift, not a per-row column
        "bkey",
        F.expr(f"shiftrightunsigned(phash, band * {width})")
        .bitwiseAND(F.lit(mask)),
    )
    a = banded.select(F.col(ref_col).alias("ref_a"),
                      F.col("phash").alias("ha"), "band", "bkey")
    b = banded.select(F.col(ref_col).alias("ref_b"),
                      F.col("phash").alias("hb"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("ref_a") < F.col("ref_b"))
        .select(
            "ref_a", "ref_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# audio fingerprint (Haitsma-Kalker robust-hash shape) — shares the banded
# Hamming join above
# ---------------------------------------------------------------------------

AFP_FRAMES = 16
AFP_BANDS_PER_FRAME = 5          # 16 frames x 4 sign bits = 64, top bit dropped


def audio_fingerprint64(samples: np.ndarray) -> int:
    """64-bit spectral fingerprint of mono [-1, 1] samples.

    The Haitsma-Kalker construction at toy scale: split the signal into
    ``AFP_FRAMES`` frames, per-frame energies in
    ``AFP_BANDS_PER_FRAME`` log-spaced FFT bands, one bit per
    band-difference sign ``E[f, b] - E[f, b+1]`` — robust to gain changes
    (signs survive scaling) and mild noise, which is exactly the
    re-encode family the exact content digest cannot see.
    """
    x = np.asarray(samples, dtype=np.float64).ravel()
    if x.size < AFP_FRAMES:
        raise ValueError("audio too short to fingerprint")
    flen = x.size // AFP_FRAMES
    bits = 0
    for f in range(AFP_FRAMES):
        frame = x[f * flen:(f + 1) * flen]
        spec = np.abs(np.fft.rfft(frame)) ** 2
        # log-spaced band edges over the positive spectrum (DC excluded)
        edges = np.unique(
            np.geomspace(1, spec.size, AFP_BANDS_PER_FRAME + 1)
            .astype(int)
        )
        while len(edges) < AFP_BANDS_PER_FRAME + 1:   # tiny frames: pad
            edges = np.append(edges, edges[-1])
        energies = [
            float(spec[edges[b]:max(edges[b + 1], edges[b] + 1)].sum())
            for b in range(AFP_BANDS_PER_FRAME)
        ]
        for b in range(AFP_BANDS_PER_FRAME - 1):
            bits = (bits << 1) | int(energies[b] > energies[b + 1])
    # 16 x 4 = 64 raw bits: the top bit MUST be dropped or a bass-heavy
    # signal (frame 0's lowest band dominating) lands in [2^63, 2^64) and
    # overflows the LongType schema (pandas infers uint64, Arrow raises,
    # the task dies).  Same 1-bit headroom rule as phash64's dropped DC.
    return bits & ((1 << 63) - 1)


def audio_fingerprints(media: DataFrame,
                       ref_col: str = "media_ref",
                       content_col: str = "content") -> DataFrame:
    """media table -> (ref_col, afp bigint | NULL): RIFF/WAVE PCM rows get
    a real fingerprint, everything else an honest NULL.  Near-dup pairs:
    ``phash_near_dups(fps, hash_col='afp')`` — the same banded join."""
    from pdf_extraction_tests_spark.sources._wav import decode_wav

    schema = T.StructType([
        T.StructField(ref_col, T.StringType(), False),
        T.StructField("afp", T.LongType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for content in pdf[content_col]:
                raw = bytes(content) if content is not None else None
                try:
                    if raw is not None and raw[:4] == b"RIFF":
                        samples, _rate = decode_wav(raw)
                        fps.append(audio_fingerprint64(samples))
                    else:
                        fps.append(None)
                except ValueError:
                    fps.append(None)
            yield pd.DataFrame({ref_col: pdf[ref_col], "afp": fps},
                               columns=[ref_col, "afp"])

    return map_batches(media.select(ref_col, content_col), run, schema)


# ---------------------------------------------------------------------------
# video near-dup: frame-level pHash composition
# ---------------------------------------------------------------------------

VIDEO_SAMPLE_FRAMES = 4


def video_frame_phashes(media: DataFrame,
                        ref_col: str = "media_ref",
                        content_col: str = "content",
                        k: int = VIDEO_SAMPLE_FRAMES) -> DataFrame:
    """media table -> (ref_col, frame_idx, phash): one row per SAMPLED
    frame of each decodable MJPEG-AVI video (sources/_avi).  Undecodable
    content yields no rows (the honest-NULL analogue for an exploding
    mapper)."""
    schema = T.StructType([
        T.StructField(ref_col, T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("phash", T.LongType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_extraction_tests_spark.sources._avi import (
            sample_avi_frames_gray)
        for pdf in batches:
            refs, idxs, hashes = [], [], []
            for ref, content in zip(pdf[ref_col], pdf[content_col]):
                raw = bytes(content) if content is not None else None
                if raw is None or raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
                    continue
                try:
                    frames = sample_avi_frames_gray(raw, k=k)
                except ValueError:
                    continue
                for i, fr in enumerate(frames):
                    refs.append(ref)
                    idxs.append(i)
                    hashes.append(phash64(fr))
            yield pd.DataFrame(
                {ref_col: refs,
                 "frame_idx": pd.Series(idxs, dtype="int32"),
                 "phash": pd.Series(hashes, dtype="int64")},
                columns=[ref_col, "frame_idx", "phash"])

    return map_batches(media.select(ref_col, content_col), run, schema)


def video_near_dups(frame_hashes: DataFrame,
                    min_matching_frames: int = 2,
                    max_hamming: int = DEFAULT_MAX_HAMMING,
                    bands: int = DEFAULT_BANDS,
                    ref_col: str = "media_ref") -> DataFrame:
    """Near-dup video pairs: two videos match when at least
    ``min_matching_frames`` of their sampled frames are pHash-near
    (re-encoded / re-containered copies survive; videos sharing one
    incidental frame do not).

    Composition: the SAME banded Hamming join over per-frame hashes
    (frame identity folded into the ref key so the pair join stays an
    equi-join), then one aggregation per video pair.
    """
    # \x1f separator (round-7 advice): media_refs are raw target URIs and
    # may themselves contain '#' (URL fragments; the repo's failure doc_ids
    # use '#'), which silently truncated the video id at the first '#' and
    # mis-grouped distinct videos sharing a prefix.  \x1f is the engine-wide
    # span-hash separator and cannot appear in a URI.
    _SEP = "\x1f"
    keyed = frame_hashes.select(
        F.concat_ws(_SEP, F.col(ref_col), F.col("frame_idx")).alias("fref"),
        "phash",
    )
    frame_pairs = phash_near_dups(
        keyed, max_hamming=max_hamming, bands=bands, ref_col="fref")
    va = F.substring_index(F.col("ref_a"), _SEP, 1)
    vb = F.substring_index(F.col("ref_b"), _SEP, 1)
    fa = F.substring_index(F.col("ref_a"), _SEP, -1)
    fb = F.substring_index(F.col("ref_b"), _SEP, -1)
    swap = va > vb
    return (
        # least/greatest canonicalization: the frame-key ordering is by
        # the composite string, which could disagree with the bare video
        # ref ordering when one ref prefixes another; the frame indices
        # swap along with their videos
        frame_pairs.select(
            F.least(va, vb).alias("vid_a"),
            F.greatest(va, vb).alias("vid_b"),
            F.when(swap, fb).otherwise(fa).alias("fr_a"),
            F.when(swap, fa).otherwise(fb).alias("fr_b"),
            "hamming",
        )
        .filter(F.col("vid_a") != F.col("vid_b"))
        .groupBy("vid_a", "vid_b")
        # DISTINCT frames on EACH side: one shared scene hitting two of
        # the other video's (near-identical) frames counts once, so a
        # single incidental frame can never satisfy min_matching_frames
        .agg(
            F.least(
                F.countDistinct("fr_a"), F.countDistinct("fr_b")
            ).cast("bigint").alias("n_frames"),
            F.min("hamming").alias("best_hamming"),
        )
        .filter(F.col("n_frames") >= min_matching_frames)
    )
