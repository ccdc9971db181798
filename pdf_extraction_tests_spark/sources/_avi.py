"""Minimal AVI (RIFF) container parser for Motion-JPEG video.

Completes the media trio with a REAL video path: AVI is a plain RIFF
chunk tree (the same framing as WAV — 4-byte ids, little-endian sizes,
even padding) and Motion-JPEG stores every frame as an ordinary JPEG,
which ``sources/_jpeg`` already decodes.  So "video decode" here is
container walking + per-frame JPEG decode + frame SAMPLING — exactly the
shape a production pipeline uses (sample k frames, featurize each), with
the codec swapped for the in-image toolbox.

Layout parsed (public AVI 1.0 spec / msdn RIFF docs):

  RIFF 'AVI ' { LIST 'hdrl' { 'avih' <MainAVIHeader> ... }
                LIST 'movi' { '##dc' <compressed frame> ... } ... }

Totality: anything outside this profile raises ``UnsupportedAviError``
(a ValueError, matching the decoder-family contract), callers isolate
per item.  Resource ceilings: frame count and total payload bytes.
"""

from __future__ import annotations

import numpy as np

_MAX_FRAMES = 4096
_MAX_TOTAL = 1 << 28          # 256 MiB of frame payload


class UnsupportedAviError(ValueError):
    pass


def _u32(b: bytes, off: int) -> int:
    if off + 4 > len(b):
        raise UnsupportedAviError("truncated size field")
    return int.from_bytes(b[off:off + 4], "little")


def parse_avi_mjpeg(data: bytes) -> dict:
    """AVI bytes -> {width, height, us_per_frame, frames: [jpeg bytes]}.

    Walks the chunk tree iteratively; collects '##dc' (compressed video)
    chunks from 'movi' lists and the main header from 'hdrl'."""
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise UnsupportedAviError("not a RIFF/AVI stream")
    riff_end = min(8 + _u32(data, 4), len(data))
    header: dict = {}
    frames: list[bytes] = []
    total = 0
    # stack of (pos, end) regions whose chunks we still have to walk
    stack: list[tuple[int, int]] = [(12, riff_end)]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            ckid = data[pos:pos + 4]
            size = _u32(data, pos + 4)
            body_start = pos + 8
            body_end = body_start + size
            if body_end > end:
                raise UnsupportedAviError("chunk overruns container")
            if ckid == b"LIST":
                # list type occupies the first 4 payload bytes
                stack.append((body_start + 4, body_end))
            elif ckid == b"avih":
                if size < 40:
                    raise UnsupportedAviError("short avih header")
                header = {
                    "us_per_frame": _u32(data, body_start),
                    "total_frames": _u32(data, body_start + 16),
                    "width": _u32(data, body_start + 32),
                    "height": _u32(data, body_start + 36),
                }
            elif ckid[2:4] == b"dc":
                frame = data[body_start:body_end]
                if frame[:2] != b"\xff\xd8":
                    raise UnsupportedAviError("non-MJPEG video frame")
                total += len(frame)
                frames.append(frame)
                if len(frames) > _MAX_FRAMES or total > _MAX_TOTAL:
                    raise UnsupportedAviError("frame ceiling exceeded")
            pos = body_end + (size & 1)           # chunks pad to even
    if not header:
        raise UnsupportedAviError("missing avih header")
    return {**header, "frames": frames}


def sample_avi_frames_gray(data: bytes, k: int = 4) -> list[np.ndarray]:
    """Decode ``k`` evenly-spaced frames to grayscale pixel arrays —
    the frame-sampling feature path (first/last always included when
    k >= 2)."""
    from ._jpeg import decode_jpeg_gray

    parsed = parse_avi_mjpeg(data)
    frames = parsed["frames"]
    if not frames:
        raise UnsupportedAviError("no video frames")
    k = max(1, min(k, len(frames)))
    if k == 1:
        idxs = [0]
    else:
        idxs = sorted({
            round(i * (len(frames) - 1) / (k - 1)) for i in range(k)
        })
    return [decode_jpeg_gray(frames[i]) for i in idxs]
