"""Pure-Python PNG (RFC 2083 / ISO 15948) decoder — stdlib zlib + numpy.

PNG is the second-dominant image format in web-scraped corpora (after
JPEG, which ``_jpeg.py`` covers); this decoder turns the multimodal
operator's PNG payloads into REAL ``feature_kind='pixel'`` features
instead of digest stubs.  Scope:

* 8-bit samples, color types 0 (gray), 2 (RGB), 3 (palette), 4
  (gray+alpha), 6 (RGBA); alpha is ignored for the luma plane,
* all five filter types (None/Sub/Up/Average/Paeth) with the spec's
  exact reconstruction arithmetic (§4.5.4; Sub vectorized as a per-lane
  modular cumulative sum, Paeth per the reference predictor),
* chunk layer with CRC-32 verification (a corrupt chunk is data
  corruption, not a decode variant),
* non-interlaced only; Adam7, 16-bit and sub-8-bit depths raise
  ValueError (honest boundary, same contract as the other decoders).

Totality: malformed input raises ValueError, never an ad-hoc exception.
Resource ceiling: 2^26 pixels and a 2^28-byte inflate cap (zlib bombs
must not OOM an executor; declared size bounds the work).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_MAX_PIXELS = 1 << 26
_MAX_INFLATE = 1 << 28

# samples per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunks(data: bytes):
    """Yield (type, payload) with length and CRC validation."""
    off = 8
    n = len(data)
    guard = 0
    while off < n:
        guard += 1
        if guard > 1 << 16:
            raise ValueError("chunk loop guard")
        if off + 8 > n:
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[off:off + 4])
        ctype = data[off + 4:off + 8]
        if length > n - off - 12:
            raise ValueError("chunk overruns stream")
        payload = data[off + 8:off + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[off + 8 + length:off + 12 + length])
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError("chunk CRC mismatch")
        yield ctype, payload
        off += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Per-row filter reconstruction -> (h, stride) uint8 matrix."""
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG scanlines")
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        row = np.frombuffer(raw[pos:pos + stride], dtype=np.uint8).copy()
        pos += stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:                         # None
            pass
        elif ftype == 1:                       # Sub
            # recon[i] = filt[i] + recon[i-bpp]: per-lane modular cumsum
            for lane in range(bpp):
                row[lane::bpp] = np.cumsum(
                    row[lane::bpp].astype(np.uint64)).astype(np.uint8)
        elif ftype == 2:                       # Up
            row += prev
        elif ftype == 3:                       # Average
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:                       # Paeth
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                ul = int(prev[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + _paeth(left, int(prev[i]), ul)) \
                    & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = row
    return out


def decode_png_gray(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w) float64 luma plane, 0.0-255.0 (the
    _jpeg convention).  Raises ValueError on anything malformed
    or outside the supported profile."""
    if not bytes(data).startswith(_SIGNATURE):
        raise ValueError("bad PNG signature")
    data = bytes(data)
    ihdr = None
    idat = bytearray()
    plte = None
    for ctype, payload in _chunks(data):
        if ctype == b"IHDR":
            if ihdr is not None:
                raise ValueError("duplicate IHDR")
            if len(payload) != 13:
                raise ValueError("bad IHDR length")
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"PLTE":
            if len(payload) % 3 or not payload:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(payload)
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16) or w * h > _MAX_PIXELS:
        raise ValueError("bad PNG dimensions")
    if comp != 0 or filt != 0:
        raise ValueError("bad IHDR compression/filter method")
    if interlace != 0:
        raise ValueError("Adam7 interlace unsupported")
    if depth != 8:
        raise ValueError(f"bit depth {depth} unsupported")
    channels = _CHANNELS.get(ctype_i)
    if channels is None:
        raise ValueError(f"color type {ctype_i} invalid")
    if ctype_i == 3 and plte is None:
        raise ValueError("palette image without PLTE")
    if not idat:
        raise ValueError("missing IDAT")
    try:
        # bounded inflate: a zlib bomb must fail BEFORE materializing
        # (max_length caps the output; leftover unconsumed input == bomb)
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), _MAX_INFLATE)
        if d.unconsumed_tail or len(d.decompress(b"", _MAX_INFLATE)) > 0:
            raise ValueError("inflated data too large")
    except zlib.error as e:
        raise ValueError(f"IDAT inflate failed: {e}") from None
    stride = w * channels
    px = _unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if ctype_i == 0:
        gray = px[:, :, 0].astype(np.float64)
    elif ctype_i == 4:
        gray = px[:, :, 0].astype(np.float64)          # alpha ignored
    elif ctype_i == 3:
        idx = px[:, :, 0]
        if int(idx.max()) >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx].astype(np.float64)
        gray = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] \
            + 0.114 * rgb[:, :, 2]
    else:                                              # 2 (RGB) / 6 (RGBA)
        rgb = px[:, :, :3].astype(np.float64)
        gray = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] \
            + 0.114 * rgb[:, :, 2]
    return gray
