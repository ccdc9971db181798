"""CCITT G4 (T.6) decoder tests (sources/_ccitt.py).

Oracle strategy mirrors test_jpeg.py: a test-side G4 ENCODER written
directly from the spec's coding procedure (pass/vertical/horizontal mode
selection per T.6 §2.2.3) round-trips pixels exactly — G4 is lossless,
so equality is exact.  The transcription risk in the T.4 run-length
tables is bounded by structural checks (exact cardinalities, global
prefix-freeness per color alphabet, mode-code prefix-freeness) plus
spot-pinned well-known codewords.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_extraction_tests_spark.sources import _ccitt as C


# --- test-side G4 encoder ---------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.bits: list[str] = []

    def put(self, s: str):
        self.bits.append(s)

    def tobytes(self) -> bytes:
        s = "".join(self.bits)
        s += "0" * (-len(s) % 8)
        return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


_MAKEUPS = sorted([r for r in C.WHITE_CODES if r >= 64]
                  + list(C.EXT_CODES), reverse=True)


def _mh(w: _BitWriter, run: int, white: bool):
    codes = C.WHITE_CODES if white else C.BLACK_CODES
    while run >= 64:
        mk = min(2560, (run // 64) * 64)   # largest makeup <= run
        w.put(codes.get(mk) or C.EXT_CODES[mk])
        run -= mk
    w.put(codes[run])


def _changes(line: np.ndarray) -> list[int]:
    """Changing-element positions (pixel differs from its left neighbor;
    imaginary white pixel before the line)."""
    prev, out = 0, []   # 0 = white
    for i, px in enumerate(line):
        cur = 0 if px > 127 else 1
        if cur != prev:
            out.append(i)
            prev = cur
    return out


def _encode_2d_line(w: _BitWriter, cur: list[int], ref: list[int],
                    columns: int) -> None:
    a0, color, ci = -1, 0, 0
    while a0 < columns:
            # a1: first coding-line change > a0 (alternating colors keep
            # ci in sync with `color`)
            while ci < len(cur) and cur[ci] <= a0:
                ci += 1
            a1 = cur[ci] if ci < len(cur) else columns
            i = 0
            while ref[i] <= a0 or (i & 1) != color:
                i += 1
            b1 = ref[i]
            b2 = ref[i + 1] if b1 < columns else columns
            if b2 < a1:
                w.put(C.MODE_PASS)
                a0 = b2
                continue
            d = a1 - b1
            if -3 <= d <= 3:
                w.put(C.MODE_V0 if d == 0
                      else C.MODE_VR[d] if d > 0 else C.MODE_VL[-d])
                a0, color = a1, color ^ 1
                ci += 1
            else:
                a2 = cur[ci + 1] if ci + 1 < len(cur) else columns
                w.put(C.MODE_H)
                start = max(a0, 0)
                _mh(w, a1 - start, white=color == 0)
                _mh(w, a2 - a1, white=color != 0)
                a0 = a2
                ci += 2


def encode_g4(img: np.ndarray, eofb: bool = True) -> bytes:
    """Spec-procedure G4 encoder (T.6 §2.2.3 mode decisions)."""
    h, columns = img.shape
    w = _BitWriter()
    ref = [columns, columns]
    for y in range(h):
        cur = _changes(img[y])
        _encode_2d_line(w, cur, ref, columns)
        ref = [*cur, columns, columns]
    if eofb:
        w.put(C.EOFB)
    return w.tobytes()


def _encode_1d_line(w: _BitWriter, line: np.ndarray) -> None:
    cols = len(line)
    pos, white = 0, True
    for c in [*_changes(line), cols]:
        _mh(w, c - pos, white)
        pos, white = c, not white


def encode_g3(img: np.ndarray, k: int = 0, leading_eol: bool = True,
              rtc: bool = True, byte_align: bool = False,
              twod_rows: set[int] = frozenset()) -> bytes:
    """Spec-procedure G3 encoder.  k=0: pure 1-D; k>0: mixed, rows in
    ``twod_rows`` coded two-dimensionally against the previous line."""
    h, columns = img.shape
    w = _BitWriter()
    ref = [columns, columns]

    def align():
        if byte_align:
            n = sum(len(s) for s in w.bits)
            if n % 8:
                w.put("0" * (8 - n % 8))

    for y in range(h):
        align()
        if y > 0 or leading_eol:
            w.put("000000000001")
            if k > 0:
                w.put("0" if y in twod_rows else "1")
        cur = _changes(img[y])
        if k > 0 and y in twod_rows and (y > 0 or leading_eol):
            _encode_2d_line(w, cur, ref, columns)
        else:
            _encode_1d_line(w, img[y])
        ref = [*cur, columns, columns]
    if rtc:
        align()
        w.put("000000000001")
        if k > 0:
            w.put("1")
        w.put("000000000001")
    return w.tobytes()


def _round_trip(img: np.ndarray, rows: int | None = None) -> np.ndarray:
    return C.decode_g4(encode_g4(img), img.shape[1], rows=rows)


# --- table integrity ---------------------------------------------------------


class TestTables:
    def test_cardinalities(self):
        assert len([r for r in C.WHITE_CODES if r < 64]) == 64
        assert len([r for r in C.WHITE_CODES if r >= 64]) == 27
        assert len([r for r in C.BLACK_CODES if r < 64]) == 64
        assert len([r for r in C.BLACK_CODES if r >= 64]) == 27
        assert len(C.EXT_CODES) == 13
        assert sorted(r for r in C.WHITE_CODES if r >= 64) == \
            [64 * i for i in range(1, 28)]
        assert sorted(C.EXT_CODES) == [1792 + 64 * i for i in range(13)]

    @pytest.mark.parametrize("codes", ["white", "black"])
    def test_prefix_free_per_color(self, codes):
        table = dict(C.WHITE_CODES if codes == "white" else C.BLACK_CODES)
        table.update({f"ext{k}": v for k, v in C.EXT_CODES.items()})
        vals = sorted(table.values(), key=len)
        for i, a in enumerate(vals):
            for b in vals[i + 1:]:
                assert not b.startswith(a), (a, b)

    def test_mode_codes_prefix_free(self):
        modes = [C.MODE_V0, C.MODE_H, C.MODE_PASS, C.EOFB[:12],
                 *C.MODE_VR.values(), *C.MODE_VL.values()]
        vals = sorted(modes, key=len)
        for i, a in enumerate(vals):
            for b in vals[i + 1:]:
                assert not b.startswith(a), (a, b)

    def test_spot_pinned_codewords(self):
        # the classic well-known values (T.4 tables 2/3)
        assert C.WHITE_CODES[0] == "00110101"
        assert C.WHITE_CODES[1] == "000111"
        assert C.WHITE_CODES[63] == "00110100"
        assert C.WHITE_CODES[64] == "11011"
        assert C.WHITE_CODES[1728] == "010011011"
        assert C.BLACK_CODES[0] == "0000110111"
        assert C.BLACK_CODES[1] == "010"
        assert C.BLACK_CODES[2] == "11"
        assert C.BLACK_CODES[64] == "0000001111"
        assert C.EXT_CODES[2560] == "000000011111"

    def test_mh_lengths_legal(self):
        for t in (C.WHITE_CODES, C.BLACK_CODES, C.EXT_CODES):
            assert all(2 <= len(v) <= 13 for v in t.values())


# --- round trips -------------------------------------------------------------


class TestRoundTrip:
    def test_all_white_and_all_black(self):
        for v in (255.0, 0.0):
            img = np.full((5, 64), v)
            assert np.array_equal(_round_trip(img), img)

    def test_vertical_modes(self):
        # a drifting edge: consecutive rows differ by <= 3 -> pure V codes
        img = np.full((12, 40), 255.0)
        for y in range(12):
            img[y, : 10 + y] = 0.0
        assert np.array_equal(_round_trip(img), img)

    def test_horizontal_and_pass_modes(self):
        img = np.full((6, 80), 255.0)
        img[0, 10:20] = 0.0
        img[1, 60:70] = 0.0        # jump > 3 -> horizontal mode
        img[2, 5:8] = 0.0
        img[2, 30:35] = 0.0        # ref has extra run -> pass on next row
        img[3, 5:8] = 0.0
        assert np.array_equal(_round_trip(img), img)

    def test_random_noise(self):
        rng = np.random.default_rng(5)
        img = np.where(rng.random((32, 57)) < 0.4, 0.0, 255.0)
        assert np.array_equal(_round_trip(img), img)

    def test_text_like_stripes(self):
        rng = np.random.default_rng(9)
        img = np.full((40, 200), 255.0)
        for y in range(4, 36, 6):
            for _ in range(8):
                x = int(rng.integers(0, 180))
                img[y:y + 3, x:x + int(rng.integers(2, 14))] = 0.0
        assert np.array_equal(_round_trip(img), img)

    def test_long_runs_hit_makeup_codes(self):
        img = np.full((3, 2500), 255.0)
        img[1, 100:2300] = 0.0     # black run 2200 -> extended makeups
        assert np.array_equal(_round_trip(img), img)

    def test_rows_parameter_truncates(self):
        img = np.where(np.indices((8, 16)).sum(0) % 3 == 0, 0.0, 255.0)
        got = _round_trip(img, rows=5)
        assert np.array_equal(got, img[:5])

    def test_single_column(self):
        img = np.array([[0.0], [255.0], [0.0]])
        assert np.array_equal(_round_trip(img), img)


class TestHostileInputs:
    def test_truncated_raises(self):
        img = np.where(np.random.default_rng(1).random((16, 64)) < 0.5,
                       0.0, 255.0)
        data = encode_g4(img)
        with pytest.raises(ValueError):
            C.decode_g4(data[: len(data) // 3], 64, rows=16)

    def test_garbage_total(self):
        rng = np.random.default_rng(2)
        for _ in range(200):
            junk = bytes(rng.integers(0, 256, int(rng.integers(1, 64)),
                                      dtype=np.uint8))
            try:
                C.decode_g4(junk, 64, rows=8)
            except ValueError:
                pass

    def test_mutation_fuzz_total(self):
        img = np.where(np.random.default_rng(3).random((12, 48)) < 0.3,
                       0.0, 255.0)
        base = bytearray(encode_g4(img))
        rng = np.random.default_rng(4)
        for _ in range(300):
            buf = bytearray(base)
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
            try:
                C.decode_g4(bytes(buf), 48)
            except ValueError:
                pass

    def test_bad_columns(self):
        with pytest.raises(ValueError):
            C.decode_g4(b"\x00", 0)


# --- G3 (T.4) ----------------------------------------------------------------


def _g3_round_trip(img: np.ndarray, **kw) -> np.ndarray:
    dec_kw = {"k": kw.get("k", 0), "byte_align": kw.get("byte_align", False)}
    return C.decode_g3(encode_g3(img, **kw), img.shape[1],
                       rows=img.shape[0], **dec_kw)


class TestG3RoundTrip:
    def test_1d_basic_patterns(self):
        for img in (
            np.full((4, 17), 255.0),
            np.zeros((4, 17)),
            np.tile([0.0, 255.0] * 8 + [0.0], (3, 1)),
        ):
            assert np.array_equal(_g3_round_trip(img), img)

    def test_1d_random_noise(self):
        rng = np.random.RandomState(7)
        img = np.where(rng.rand(23, 61) > 0.5, 255.0, 0.0)
        assert np.array_equal(_g3_round_trip(img), img)

    def test_1d_without_leading_eol(self):
        rng = np.random.RandomState(8)
        img = np.where(rng.rand(5, 40) > 0.3, 255.0, 0.0)
        assert np.array_equal(_g3_round_trip(img, leading_eol=False), img)

    def test_1d_long_runs_hit_makeups(self):
        img = np.full((2, 2000), 255.0)
        img[1, :1900] = 0.0
        assert np.array_equal(_g3_round_trip(img), img)

    def test_mixed_k4_alternating_lines(self):
        rng = np.random.RandomState(9)
        img = np.where(rng.rand(10, 48) > 0.5, 255.0, 0.0)
        out = _g3_round_trip(img, k=4, twod_rows={1, 3, 5, 7, 9})
        assert np.array_equal(out, img)

    def test_mixed_all_2d_after_first(self):
        rng = np.random.RandomState(10)
        img = np.where(rng.rand(6, 33) > 0.4, 255.0, 0.0)
        out = _g3_round_trip(img, k=2, twod_rows=set(range(1, 6)))
        assert np.array_equal(out, img)

    def test_byte_align_1d(self):
        rng = np.random.RandomState(11)
        img = np.where(rng.rand(7, 29) > 0.5, 255.0, 0.0)
        assert np.array_equal(_g3_round_trip(img, byte_align=True), img)

    def test_byte_align_g4(self):
        rng = np.random.RandomState(12)
        img = np.where(rng.rand(7, 29) > 0.5, 255.0, 0.0)
        # encoder: G4 with per-line byte alignment
        h, columns = img.shape
        w = _BitWriter()
        ref = [columns, columns]
        for y in range(h):
            n = sum(len(s) for s in w.bits)
            if n % 8:
                w.put("0" * (8 - n % 8))
            cur = _changes(img[y])
            _encode_2d_line(w, cur, ref, columns)
            ref = [*cur, columns, columns]
        out = C.decode_g4(w.tobytes(), columns, rows=h, byte_align=True)
        assert np.array_equal(out, img)

    def test_rtc_terminates_without_rows(self):
        rng = np.random.RandomState(13)
        img = np.where(rng.rand(4, 31) > 0.5, 255.0, 0.0)
        out = C.decode_g3(encode_g3(img, rtc=True), 31)
        assert out.shape == (4, 31)
        out = C.decode_g3(encode_g3(img, k=3, rtc=True,
                                    twod_rows={2}), 31, k=3)
        assert out.shape == (4, 31)

    def test_zero_length_first_white_run(self):
        img = np.zeros((2, 9))     # lines start black
        assert np.array_equal(_g3_round_trip(img), img)

    def test_long_fill_before_eol(self):
        # T.4 fill is unbounded zeros before an EOL; >63 of them used to
        # defeat the fixed 64-bit peek (round-5 advice item)
        rng = np.random.RandomState(14)
        img = np.where(rng.rand(4, 31) > 0.5, 255.0, 0.0)
        for fill in (70, 100, 300):
            w = _BitWriter()
            for y in range(img.shape[0]):
                w.put("0" * fill)
                w.put("000000000001")
                _encode_1d_line(w, img[y])
            w.put("0" * fill + "000000000001")
            w.put("0" * fill + "000000000001")   # RTC
            out = C.decode_g3(w.tobytes(), 31, rows=4)
            assert np.array_equal(out, img)

    def test_long_fill_mixed_mode_k4(self):
        rng = np.random.RandomState(15)
        img = np.where(rng.rand(3, 24) > 0.5, 255.0, 0.0)
        w = _BitWriter()
        ref = [24, 24]
        for y in range(img.shape[0]):
            w.put("0" * 90)
            w.put("000000000001")
            w.put("1")                            # tag: 1-D
            _encode_1d_line(w, img[y])
            ref = [*_changes(img[y]), 24, 24]
        out = C.decode_g3(w.tobytes(), 24, rows=3, k=4)
        assert np.array_equal(out, img)


class TestG3Hostile:
    def test_truncated_raises(self):
        img = np.where(np.random.RandomState(3).rand(6, 40) > 0.5,
                       255.0, 0.0)
        data = encode_g3(img, rtc=False)
        with pytest.raises(ValueError):
            C.decode_g3(data[: len(data) // 2], 40, rows=6)

    def test_bad_k_and_columns(self):
        with pytest.raises(ValueError):
            C.decode_g3(b"\x00", 0)
        with pytest.raises(ValueError):
            C.decode_g3(b"\x00", 10, k=-1)

    def test_missing_eol_in_mixed_mode(self):
        img = np.full((3, 16), 255.0)
        data = encode_g3(img, k=4)   # EOL+tag per line: fine
        C.decode_g3(data, 16, rows=3, k=4)
        # but a k=0-style EOL-less stream is rejected in mixed mode
        w = _BitWriter()
        for _ in range(3):
            _encode_1d_line(w, img[0])
        with pytest.raises(ValueError):
            C.decode_g3(w.tobytes(), 16, rows=3, k=4)

    def test_mutation_fuzz_total(self):
        rng = np.random.RandomState(5)
        img = np.where(rng.rand(5, 37) > 0.5, 255.0, 0.0)
        for k, kw in ((0, {}), (4, {"twod_rows": {1, 3}})):
            base = bytearray(encode_g3(img, k=k, **kw))
            for trial in range(300):
                mut = bytearray(base)
                for _ in range(rng.randint(1, 4)):
                    mut[rng.randint(len(mut))] ^= 1 << rng.randint(8)
                try:
                    out = C.decode_g3(bytes(mut), 37, k=k)
                    assert out.shape[1] == 37
                except ValueError:
                    pass


class TestResourceCeilings:
    def test_hostile_area_rejected_fast(self):
        # 65535 x 65535 would be 32 GB of lines; must raise, not OOM
        with pytest.raises(ValueError):
            C.decode_g3(b"\x00" * 64, 65535, rows=65535)
        with pytest.raises(ValueError):
            C.decode_g4(b"\x00" * 64, 65535, rows=65535)

    def test_unbounded_decode_hits_pixel_cap(self):
        # all-ones bytes are valid V0 G4 rows: without `rows`, the
        # 2^26-pixel ceiling must stop a wide stream with ValueError
        with pytest.raises(ValueError):
            C.decode_g4(b"\xff" * 40000, 60000)
