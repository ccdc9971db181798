"""PNG decoder tests (sources/_png.py).

Oracle strategy mirrors test_jpeg: a test-side
spec-procedure PNG *encoder* (chunk writer + per-row filters) round-trips
pixel data exactly — PNG is lossless, so decode(encode(px)) == px for
every color type and every filter type, including the sequential
Average/Paeth reconstructions.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pdf_extraction_tests_spark.sources import _png as P


# --- test-side encoder -------------------------------------------------------


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF))


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_row(row: np.ndarray, prev: np.ndarray, bpp: int,
                ftype: int) -> bytes:
    """Forward filter per RFC 2083 §4.5.4 (encoder side)."""
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


def encode_png(px: np.ndarray, color_type: int,
               palette: np.ndarray | None = None,
               filters: list[int] | None = None) -> bytes:
    """(h, w, channels) uint8 -> PNG bytes; ``filters`` cycles per row
    (default: round-robin through all five types)."""
    h, w, ch = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    stride = w * ch
    flat = px.reshape(h, stride)
    filters = filters or [0, 1, 2, 3, 4]
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        raw += _filter_row(flat[y], prev, ch, filters[y % len(filters)])
        prev = flat[y]
    out = P._SIGNATURE + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    comp = zlib.compress(bytes(raw))
    # split IDAT to exercise multi-chunk concatenation
    mid = len(comp) // 2
    out += _chunk(b"IDAT", comp[:mid]) + _chunk(b"IDAT", comp[mid:])
    return out + _chunk(b"IEND", b"")


def _rand(rng, *shape):
    return rng.randint(0, 256, size=shape, dtype=np.uint8)


class TestRoundTrip:
    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_gray_each_filter(self, ftype):
        rng = np.random.RandomState(ftype)
        px = _rand(rng, 13, 17, 1)
        got = P.decode_png_gray(encode_png(px, 0, filters=[ftype]))
        assert np.array_equal(got, px[:, :, 0].astype(np.float64))

    def test_gray_mixed_filters(self):
        rng = np.random.RandomState(10)
        px = _rand(rng, 23, 31, 1)
        got = P.decode_png_gray(encode_png(px, 0))
        assert np.array_equal(got, px[:, :, 0].astype(np.float64))

    def test_rgb_luma(self):
        rng = np.random.RandomState(11)
        px = _rand(rng, 9, 14, 3)
        got = P.decode_png_gray(encode_png(px, 2))
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        assert np.allclose(got, 0.299 * r + 0.587 * g + 0.114 * b)

    def test_rgba_ignores_alpha(self):
        rng = np.random.RandomState(12)
        px = _rand(rng, 8, 8, 4)
        solid = px.copy()
        solid[:, :, 3] = 255
        assert np.array_equal(P.decode_png_gray(encode_png(px, 6)),
                              P.decode_png_gray(encode_png(solid, 6)))

    def test_gray_alpha(self):
        rng = np.random.RandomState(13)
        px = _rand(rng, 7, 11, 2)
        got = P.decode_png_gray(encode_png(px, 4))
        assert np.array_equal(got, px[:, :, 0].astype(np.float64))

    def test_palette(self):
        rng = np.random.RandomState(14)
        palette = _rand(rng, 16, 3).reshape(16, 3)
        idx = rng.randint(0, 16, size=(10, 12, 1)).astype(np.uint8)
        got = P.decode_png_gray(encode_png(idx, 3, palette=palette))
        rgb = palette[idx[:, :, 0]].astype(np.float64)
        want = (0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
                + 0.114 * rgb[:, :, 2])
        assert np.allclose(got, want)

    def test_single_pixel_and_wide(self):
        one = np.full((1, 1, 1), 200, dtype=np.uint8)
        assert P.decode_png_gray(encode_png(one, 0))[0, 0] == 200.0
        wide = np.arange(256, dtype=np.uint8).reshape(1, 256, 1)
        got = P.decode_png_gray(encode_png(wide, 0))
        assert np.array_equal(got[0], np.arange(256, dtype=np.float64))


class TestTotality:
    def test_bad_signature(self):
        with pytest.raises(ValueError):
            P.decode_png_gray(b"\x89PNX\r\n\x1a\n" + b"\x00" * 30)
        with pytest.raises(ValueError):
            P.decode_png_gray(b"")

    def test_crc_mismatch_rejected(self):
        rng = np.random.RandomState(15)
        data = bytearray(encode_png(_rand(rng, 6, 6, 1), 0))
        data[-5] ^= 0xFF                      # corrupt IEND CRC
        with pytest.raises(ValueError):
            P.decode_png_gray(bytes(data))

    def test_unsupported_profiles_rejected(self):
        rng = np.random.RandomState(16)
        base = encode_png(_rand(rng, 5, 5, 1), 0)

        def mutate_ihdr(pos, val):
            b = bytearray(base)
            ihdr_off = 8 + 8                   # sig + len/type
            b[ihdr_off + pos] = val
            payload = bytes(b[ihdr_off:ihdr_off + 13])
            crc = zlib.crc32(b"IHDR" + payload) & 0xFFFFFFFF
            b[ihdr_off + 13:ihdr_off + 17] = struct.pack(">I", crc)
            return bytes(b)

        for pos, val in ((8, 16),              # 16-bit depth
                         (9, 7),               # invalid color type
                         (12, 1)):             # Adam7
            with pytest.raises(ValueError):
                P.decode_png_gray(mutate_ihdr(pos, val))

    def test_palette_index_out_of_range(self):
        palette = np.zeros((2, 3), dtype=np.uint8)
        idx = np.full((3, 3, 1), 9, dtype=np.uint8)
        with pytest.raises(ValueError):
            P.decode_png_gray(encode_png(idx, 3, palette=palette))

    def test_huge_dims_rejected(self):
        ihdr = struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 0, 0, 0, 0)
        data = (P._SIGNATURE + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(b"\x00"))
                + _chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            P.decode_png_gray(data)

    def test_mutation_fuzz_total(self):
        rng = np.random.RandomState(17)
        base = bytearray(encode_png(_rand(rng, 8, 9, 3), 2))
        for _ in range(300):
            mut = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                mut[rng.randint(len(mut))] ^= 1 << rng.randint(8)
            try:
                out = P.decode_png_gray(bytes(mut))
                assert out.ndim == 2
            except ValueError:
                pass

    def test_truncations_total(self):
        rng = np.random.RandomState(18)
        full = encode_png(_rand(rng, 7, 7, 1), 0)
        for cut in (0, 7, 8, 20, len(full) // 2, len(full) - 1):
            with pytest.raises(ValueError):
                P.decode_png_gray(full[:cut])
