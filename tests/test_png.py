"""PNG row-predictor tests (``pdf_min._png_unpredict``).

PDF streams with ``/Predictor >= 10`` (xref streams, some Flate content
streams) carry one PNG filter byte per row (RFC 2083 §6).  Oracle: a
test-side forward filter, so unpredict(filter(rows)) == rows exactly for
every filter type, including the sequential Average/Paeth
reconstructions and multi-byte pixels.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_extraction_tests_spark.sources.pdf_min import (
    UnsupportedPdfError,
    _png_unpredict,
)


# --- test-side encoder -------------------------------------------------------


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_row(row: np.ndarray, prev: np.ndarray, bpp: int,
                ftype: int) -> bytes:
    """Forward filter per RFC 2083 §6 (encoder side)."""
    n = len(row)
    out = bytearray([ftype])
    for i in range(n):
        x = int(row[i])
        left = int(row[i - bpp]) if i >= bpp else 0
        up = int(prev[i])
        ul = int(prev[i - bpp]) if i >= bpp else 0
        if ftype == 0:
            v = x
        elif ftype == 1:
            v = x - left
        elif ftype == 2:
            v = x - up
        elif ftype == 3:
            v = x - ((left + up) >> 1)
        else:
            v = x - _paeth(left, up, ul)
        out.append(v & 0xFF)
    return bytes(out)


def encode_rows(px: np.ndarray, filters: list[int] | None = None) -> bytes:
    """(h, w, channels) uint8 -> predicted stream; ``filters`` cycles per
    row (default: round-robin through all five types)."""
    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride)
    filters = filters or [0, 1, 2, 3, 4]
    out = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        out += _filter_row(flat[y], prev, ch, filters[y % len(filters)])
        prev = flat[y]
    return bytes(out)


def _unpredict(stream: bytes, px: np.ndarray) -> bytes:
    _, w, ch = px.shape
    return _png_unpredict(stream, columns=w, colors=ch)


def _rand(rng, *shape):
    return rng.randint(0, 256, size=shape, dtype=np.uint8)


class TestRoundTrip:
    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_gray_each_filter(self, ftype):
        rng = np.random.RandomState(ftype)
        px = _rand(rng, 13, 17, 1)
        got = _unpredict(encode_rows(px, filters=[ftype]), px)
        assert got == px.tobytes()

    def test_gray_mixed_filters(self):
        rng = np.random.RandomState(10)
        px = _rand(rng, 23, 31, 1)
        assert _unpredict(encode_rows(px), px) == px.tobytes()

    def test_gray_alpha(self):
        """Two bytes per pixel: Sub/Average/Paeth look 2 bytes left."""
        rng = np.random.RandomState(13)
        px = _rand(rng, 7, 11, 2)
        assert _unpredict(encode_rows(px), px) == px.tobytes()

    def test_single_pixel_and_wide(self):
        one = np.full((1, 1, 1), 200, dtype=np.uint8)
        for ftype in range(5):
            assert _unpredict(encode_rows(one, [ftype]), one) == b"\xc8"
        wide = np.arange(256, dtype=np.uint8).reshape(1, 256, 1)
        assert _unpredict(encode_rows(wide, [4]), wide) == bytes(range(256))


class TestTotality:
    def test_mutation_fuzz_total(self):
        """Bit flips either decode to whole rows or raise the decoder's
        own error; a flipped filter byte > 4 is the only reject."""
        rng = np.random.RandomState(17)
        px = _rand(rng, 8, 9, 3)
        base = encode_rows(px)
        rowlen = 9 * 3
        for _ in range(300):
            mut = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                mut[rng.randint(len(mut))] ^= 1 << rng.randint(8)
            try:
                out = _unpredict(bytes(mut), px)
            except UnsupportedPdfError:
                assert any(mut[i] > 4 for i in range(0, len(mut), rowlen + 1))
                continue
            assert len(out) == len(px.tobytes())

    def test_truncations_total(self):
        """A cut stream keeps exactly the rows that arrived whole."""
        rng = np.random.RandomState(18)
        px = _rand(rng, 7, 7, 1)
        full = encode_rows(px)
        rowlen = 7
        for cut in (0, 1, 7, 8, 20, len(full) // 2, len(full) - 1):
            whole = cut // (rowlen + 1)
            got = _unpredict(full[:cut], px)
            assert got == px.tobytes()[:whole * rowlen]
