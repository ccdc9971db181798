"""Baseline-JPEG decoder tests (sources/_jpeg.py).

The sandbox has no image codecs, so the oracle is a test-side baseline
JPEG ENCODER written directly from ITU-T T.81 — structurally independent
of the decoder (simple canonical tables emitted via DHT instead of the
decoder's MINCODE/MAXCODE walk, forward DCT vs inverse).  Round-tripping
known pixels through encode->decode with an all-ones quant table bounds
the reconstruction error by DCT rounding alone (<= 2 gray levels), which
pins Huffman coding, zigzag, dequantize, IDCT, sampling, and restart
handling all at once.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pdf_extraction_tests_spark.sources._jpeg import decode_jpeg_gray

# --- test-side encoder -----------------------------------------------------

_D = np.array([
    [(1 / 8) ** 0.5 if k == 0 else (2 / 8) ** 0.5 for _ in range(8)]
    for k in range(8)
]) * np.cos(np.pi * np.outer(np.arange(8), 2 * np.arange(8) + 1) / 16)

_ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
       12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
       35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
       58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

# DC: symbols 0..11 as 4-bit codes 0..11 (codes 12-15 unused -> the
# all-ones code stays free, as T.81 requires).
_DC_COUNTS = bytes([0, 0, 0, 12] + [0] * 12)
_DC_VALUES = bytes(range(12))
# AC: symbols 0..254 as 8-bit codes 0..254, symbol 255 as 9-bit code 510
# (511 = all-ones unused).
_AC_COUNTS = bytes([0] * 7 + [255, 1] + [0] * 7)
_AC_VALUES = bytes(range(256))


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _dc_code(sym):  # 4-bit canonical
    return sym, 4


def _ac_code(sym):  # 8-bit canonical, 255 -> 9-bit 510
    return (510, 9) if sym == 255 else (sym, 8)


def _magnitude(v: int):
    s = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def _encode_block(w: _BitWriter, block: np.ndarray, q: np.ndarray,
                  pred: int) -> int:
    f = _D @ (block - 128.0) @ _D.T
    zz = np.round(f.ravel()[_ZZ] / q.ravel()[_ZZ]).astype(int)
    s, bits = _magnitude(int(zz[0]) - pred)
    w.put(*_dc_code(s))
    if s:
        w.put(bits, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            w.put(*_ac_code(0xF0))  # ZRL
            run -= 16
        s, bits = _magnitude(v)
        w.put(*_ac_code((run << 4) | s))
        w.put(bits, s)
        run = 0
    if run:
        w.put(*_ac_code(0x00))  # EOB
    return int(zz[0])


def _pad(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    ph, pw = -(-h // bh) * bh, -(-w // bw) * bw
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def encode_jpeg(y: np.ndarray, chroma: tuple[np.ndarray, np.ndarray]
                | None = None, subsample: bool = False,
                restart: int = 0, quant: int = 1) -> bytes:
    """Test-side baseline JPEG encoder.  ``y`` (and optional Cb, Cr at Y
    resolution) are float/int planes in 0..255.  ``subsample`` -> 4:2:0."""
    h, w = y.shape
    q = np.full((8, 8), float(quant))
    out = bytearray(b"\xff\xd8")
    # DQT (table 0)
    zzq = np.zeros(64, dtype=np.uint8)
    zzq[: 64] = q.ravel()[_ZZ].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + bytes(zzq)
    # SOF0
    if chroma is None:
        comps = [(1, (1, 1), 0)]
    elif subsample:
        comps = [(1, (2, 2), 0), (2, (1, 1), 0), (3, (1, 1), 0)]
    else:
        comps = [(1, (1, 1), 0), (2, (1, 1), 0), (3, (1, 1), 0)]
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(comps)))
    for cid, (hi, vi), tq in comps:
        sof += bytes([cid, (hi << 4) | vi, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: one DC + one AC table, shared by all components
    for tc, counts, values in ((0, _DC_COUNTS, _DC_VALUES),
                               (1, _AC_COUNTS, _AC_VALUES)):
        body = bytes([tc << 4]) + counts + values
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    # SOS
    sos = bytearray([len(comps)])
    for cid, _, _ in comps:
        sos += bytes([cid, 0x00])  # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    hmax = max(c[1][0] for c in comps)
    vmax = max(c[1][1] for c in comps)
    planes = [np.asarray(y, dtype=np.float64)]
    if chroma is not None:
        cb, cr = (np.asarray(p, dtype=np.float64) for p in chroma)
        if subsample:
            cb = cb[::2, ::2]
            cr = cr[::2, ::2]
        planes += [cb, cr]
    mcx, mcy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = []
    for (cid, (hi, vi), _), p in zip(comps, planes):
        padded.append(_pad(p, mcy * 8 * vi, mcx * 8 * hi))

    bw_ = _BitWriter()
    preds = [0] * len(comps)
    n_in_seg, rst = 0, 0
    for mcu in range(mcx * mcy):
        if restart and n_in_seg == restart:
            bw_.flush()
            out += bw_.out + bytes([0xFF, 0xD0 + (rst & 7)])
            bw_ = _BitWriter()
            preds = [0] * len(comps)
            n_in_seg, rst = 0, rst + 1
        my, mx = divmod(mcu, mcx)
        for ci, (cid, (hi, vi), _) in enumerate(comps):
            for by in range(vi):
                for bx in range(hi):
                    y0, x0 = (my * vi + by) * 8, (mx * hi + bx) * 8
                    blk = padded[ci][y0:y0 + 8, x0:x0 + 8]
                    preds[ci] = _encode_block(bw_, blk, q, preds[ci])
        n_in_seg += 1
    bw_.flush()
    out += bw_.out + b"\xff\xd9"
    return bytes(out)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((xx * 255.0 / max(w - 1, 1)) * 0.5
            + (yy * 255.0 / max(h - 1, 1)) * 0.5)


# --- test-side PROGRESSIVE encoder (T.81 Annex G) --------------------------
# Structurally independent oracle for the decoder's SOF2 path: spectral
# selection + successive approximation scans emitted with the same simple
# canonical tables.  With equal quant tables the coefficient array a
# progressive decode accumulates is bit-identical to the baseline one, so
# decode(progressive) must EXACTLY equal decode(baseline) — a far stronger
# pin than a pixel tolerance.


def _quantized_blocks(plane, q):
    """-> (bh, bw, 64) int array of quantized coefficients, zigzag order."""
    p = _pad(np.asarray(plane, dtype=np.float64), 8, 8)
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    out = np.zeros((bh, bw, 64), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            f = _D @ (p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0) @ _D.T
            out[by, bx] = np.round(f.ravel()[_ZZ] / q.ravel()[_ZZ])
    return out


class _EobState:
    """Pending EOB run + the correction bits buffered behind it."""

    def __init__(self):
        self.run = 0
        self.bits = []

    def flush(self, w):
        if self.run:
            n = self.run.bit_length() - 1
            w.put(*_ac_code(n << 4))
            if n:
                w.put(self.run - (1 << n), n)
            self.run = 0
            for b in self.bits:
                w.put(b, 1)
            self.bits = []


def _enc_ac_first_block(w, blk, ss, se, al, st):
    r = 0
    for k in range(ss, se + 1):
        v = int(blk[k])
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        st.flush(w)
        while r > 15:
            w.put(*_ac_code(0xF0))  # ZRL
            r -= 16
        s, bits = _magnitude(t if v > 0 else -t)
        w.put(*_ac_code((r << 4) | s))
        w.put(bits, s)
        r = 0
    if r:
        st.run += 1
        if st.run == 0x7FFF:
            st.flush(w)


def _enc_ac_refine_block(w, blk, ss, se, al, st):
    """Mirror of T.81 G.1.2.3 encoding: |v|>>Al == 1 is newly significant
    (run counts zero-HISTORY positions only); |v|>>Al > 1 contributes a
    correction bit, buffered until the next emitted code."""
    absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
    eob_k = max((k for k in range(ss, se + 1) if absv[k - ss] == 1),
                default=ss - 1)
    r, br = 0, []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        # pending ZRLs flush at EVERY nonzero position (history too!) so
        # buffered correction bits stay in decoder traversal order; runs
        # with no newly-significant coefficient left fold into the EOB
        while r > 15 and k <= eob_k:
            st.flush(w)
            w.put(*_ac_code(0xF0))
            r -= 16
            for b in br:
                w.put(b, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        st.flush(w)
        w.put(*_ac_code((r << 4) | 1))
        w.put(1 if int(blk[k]) > 0 else 0, 1)
        for b in br:
            w.put(b, 1)
        br = []
        r = 0
    if r or br:
        st.run += 1
        st.bits.extend(br)
        if st.run == 0x7FFF:
            st.flush(w)


def encode_jpeg_progressive(y, chroma=None, restart=0, quant=1,
                            dc_al=1, ac_al=1,
                            bands=((1, 5), (6, 63))):
    """Progressive JPEG: grayscale or 4:4:4 color.  Scan script:
    interleaved DC first (Al=dc_al) -> DC refinements -> per component,
    per spectral band, AC first (Al=ac_al) -> AC refinements."""
    h, w = np.asarray(y).shape
    q = np.full((8, 8), float(quant))
    planes = [y] if chroma is None else [y, chroma[0], chroma[1]]
    ncomp = len(planes)
    blocks = [_quantized_blocks(p, q) for p in planes]
    bh, bw = blocks[0].shape[:2]

    out = bytearray(b"\xff\xd8")
    zzq = q.ravel()[_ZZ].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + bytes(zzq)
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    for tc, counts, values in ((0, _DC_COUNTS, _DC_VALUES),
                               (1, _AC_COUNTS, _AC_VALUES)):
        body = bytes([tc << 4]) + counts + values
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)

    def sos(comp_ids, ss, se, ah, al):
        body = bytearray([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    def scan_entropy(units, encode_unit, reset_state):
        """Emit one scan's entropy bytes, restart-splitting every
        ``restart`` data units."""
        buf = bytearray()
        wtr, state, n_in_seg, rst = _BitWriter(), reset_state(), 0, 0
        for unit in units:
            if restart and n_in_seg == restart:
                state.flush(wtr) if isinstance(state, _EobState) else None
                wtr.flush()
                buf += wtr.out + bytes([0xFF, 0xD0 + (rst & 7)])
                wtr, state = _BitWriter(), reset_state()
                n_in_seg, rst = 0, rst + 1
            encode_unit(wtr, unit, state)
            n_in_seg += 1
        if isinstance(state, _EobState):
            state.flush(wtr)
        wtr.flush()
        buf += wtr.out
        return bytes(buf)

    # 1. interleaved DC first scan (all components, 4:4:4 -> 1 block/MCU)
    def dc_first(wtr, unit, preds):
        by, bx = unit
        for ci in range(ncomp):
            dc = int(blocks[ci][by, bx, 0]) >> dc_al
            s, bits = _magnitude(dc - preds[ci])
            wtr.put(*_dc_code(s))
            if s:
                wtr.put(bits, s)
            preds[ci] = dc

    mcus = [(by, bx) for by in range(bh) for bx in range(bw)]
    out += sos(range(1, ncomp + 1), 0, 0, 0, dc_al)
    out += scan_entropy(mcus, dc_first, lambda: [0] * ncomp)

    # 2. DC refinement scans down to Al=0
    for al in range(dc_al - 1, -1, -1):
        def dc_refine(wtr, unit, _state, al=al):
            by, bx = unit
            for ci in range(ncomp):
                wtr.put((int(blocks[ci][by, bx, 0]) >> al) & 1, 1)
        out += sos(range(1, ncomp + 1), 0, 0, al + 1, al)
        out += scan_entropy(mcus, dc_refine, lambda: None)

    # 3. AC scans: per component, per band, first then refinements
    for ci in range(ncomp):
        for lo, hi in bands:
            def ac_first(wtr, unit, st, ci=ci, lo=lo, hi=hi):
                by, bx = unit
                _enc_ac_first_block(wtr, blocks[ci][by, bx], lo, hi,
                                    ac_al, st)
            out += sos([ci + 1], lo, hi, 0, ac_al)
            out += scan_entropy(mcus, ac_first, _EobState)
        for al in range(ac_al - 1, -1, -1):
            for lo, hi in bands:
                def ac_refine(wtr, unit, st, ci=ci, lo=lo, hi=hi, al=al):
                    by, bx = unit
                    _enc_ac_refine_block(wtr, blocks[ci][by, bx], lo, hi,
                                         al, st)
                out += sos([ci + 1], lo, hi, al + 1, al)
                out += scan_entropy(mcus, ac_refine, _EobState)

    out += b"\xff\xd9"
    return bytes(out)


class TestRoundTrip:
    def test_gray_exact_block(self):
        img = _gradient(8, 8)
        got = decode_jpeg_gray(encode_jpeg(img))
        assert got.shape == (8, 8)
        assert np.max(np.abs(got - img)) <= 2.0

    def test_gray_non_multiple_of_8(self):
        img = _gradient(21, 13)
        got = decode_jpeg_gray(encode_jpeg(img))
        assert got.shape == (21, 13)
        assert np.max(np.abs(got - img)) <= 2.0

    def test_gray_random_pixels(self):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (32, 48)).astype(np.float64)
        got = decode_jpeg_gray(encode_jpeg(img))
        # random pixels stress every AC symbol; all-ones quant keeps the
        # error at DCT rounding level
        assert np.max(np.abs(got - img)) <= 2.0

    def test_color_444_luminance_recovered(self):
        img = _gradient(24, 16)
        cb = np.full_like(img, 100.0)
        cr = np.full_like(img, 140.0)
        got = decode_jpeg_gray(encode_jpeg(img, chroma=(cb, cr)))
        assert got.shape == (24, 16)
        assert np.max(np.abs(got - img)) <= 2.0

    def test_color_420_luminance_recovered(self):
        """2x2-subsampled chroma: 4 Y blocks + Cb + Cr per MCU exercises
        the interleaved multi-block MCU walk."""
        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, (24, 40)).astype(np.float64)
        cb = rng.integers(0, 256, (24, 40)).astype(np.float64)
        cr = rng.integers(0, 256, (24, 40)).astype(np.float64)
        got = decode_jpeg_gray(
            encode_jpeg(img, chroma=(cb, cr), subsample=True))
        assert got.shape == (24, 40)
        assert np.max(np.abs(got - img)) <= 2.0

    def test_restart_intervals(self):
        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, (16, 64)).astype(np.float64)
        data = encode_jpeg(img, restart=3)
        assert b"\xff\xd0" in data  # RST0 present
        got = decode_jpeg_gray(data)
        assert np.max(np.abs(got - img)) <= 2.0

    def test_quantized_is_lossy_but_close(self):
        img = _gradient(16, 16)
        got = decode_jpeg_gray(encode_jpeg(img, quant=16))
        assert np.max(np.abs(got - img)) <= 24.0  # ~quant/2 + DCT rounding

    def test_byte_stuffing_roundtrip(self):
        """A flat 255 image maximizes FF bytes in the entropy stream."""
        img = np.full((16, 16), 255.0)
        got = decode_jpeg_gray(encode_jpeg(img))
        assert np.max(np.abs(got - img)) <= 2.0


class TestHostileInputs:
    """Totality: anything malformed is ValueError, never an IndexError/
    struct.error escaping into an Arrow batch."""

    def test_baseline_scan_relabeled_progressive_rejected(self):
        """A baseline stream relabeled SOF2 carries a full-band scan
        header (Ss=0, Se=63) — illegal for a progressive DC scan."""
        data = bytearray(encode_jpeg(_gradient(8, 8)))
        data[data.index(b"\xff\xc0") + 1] = 0xC2  # relabel SOF0 -> SOF2
        with pytest.raises(ValueError, match="progressive scan header"):
            decode_jpeg_gray(bytes(data))

    def test_arithmetic_rejected(self):
        data = bytearray(encode_jpeg(_gradient(8, 8)))
        data[data.index(b"\xff\xc0") + 1] = 0xC9  # SOF9: arithmetic
        with pytest.raises(ValueError, match="arithmetic"):
            decode_jpeg_gray(bytes(data))

    def test_truncated_entropy(self):
        data = encode_jpeg(_gradient(32, 32))
        with pytest.raises(ValueError):
            decode_jpeg_gray(data[: len(data) // 2])

    @pytest.mark.parametrize("junk", [
        b"", b"\xff", b"\xff\xd8", b"\xff\xd8\x00garbage",
        b"\xff\xd8\xff\xdb\x00\x03\x00",  # truncated DQT
        b"GIF89a\x00\x00",
    ])
    def test_garbage_rejected(self, junk):
        with pytest.raises(ValueError):
            decode_jpeg_gray(junk)

    def test_mutation_fuzz_total(self):
        """Random single-byte mutations either decode or raise ValueError
        — no other exception type may escape."""
        base = encode_jpeg(_gradient(16, 16))
        rng = np.random.default_rng(3)
        for _ in range(300):
            buf = bytearray(base)
            for _ in range(int(rng.integers(1, 4))):
                buf[int(rng.integers(0, len(buf)))] = int(
                    rng.integers(0, 256))
            try:
                decode_jpeg_gray(bytes(buf))
            except ValueError:
                pass


class TestProgressive:
    """SOF2 decode (round-5 advice item 3): with identical quant tables
    the progressive scans reconstruct the EXACT coefficient array of the
    baseline encoding, so the decoded planes must be bit-identical."""

    def test_gray_equals_baseline_decode(self):
        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, (32, 48)).astype(np.float64)
        base = decode_jpeg_gray(encode_jpeg(img))
        prog = decode_jpeg_gray(encode_jpeg_progressive(img))
        assert prog.shape == (32, 48)
        assert np.array_equal(prog, base)

    def test_gray_non_multiple_of_8(self):
        img = _gradient(21, 13)
        base = decode_jpeg_gray(encode_jpeg(img))
        prog = decode_jpeg_gray(encode_jpeg_progressive(img))
        assert np.array_equal(prog, base)

    def test_deeper_successive_approximation(self):
        """Al=2 start: two refinement rounds per DC and AC band."""
        rng = np.random.default_rng(19)
        img = rng.integers(0, 256, (24, 24)).astype(np.float64)
        prog = decode_jpeg_gray(
            encode_jpeg_progressive(img, dc_al=2, ac_al=2))
        assert np.array_equal(prog, decode_jpeg_gray(encode_jpeg(img)))

    def test_fine_spectral_bands(self):
        """Many narrow bands stress EOB-run + band-boundary handling."""
        rng = np.random.default_rng(23)
        img = rng.integers(0, 256, (16, 40)).astype(np.float64)
        prog = decode_jpeg_gray(encode_jpeg_progressive(
            img, bands=((1, 2), (3, 8), (9, 20), (21, 62), (63, 63))))
        assert np.array_equal(prog, decode_jpeg_gray(encode_jpeg(img)))

    def test_quantized_smooth_image_long_eob_runs(self):
        """quant=16 on a gradient zeroes most AC -> EOB runs span many
        blocks and refinement scans are correction-bit heavy."""
        img = _gradient(40, 64)
        prog = decode_jpeg_gray(encode_jpeg_progressive(img, quant=16))
        assert np.array_equal(
            prog, decode_jpeg_gray(encode_jpeg(img, quant=16)))

    def test_color_444_chroma_ac_scans_skipped(self):
        """Color: interleaved DC decodes all components (bit alignment),
        chroma AC scans are skipped outright — luminance still exact."""
        rng = np.random.default_rng(29)
        img = rng.integers(0, 256, (24, 16)).astype(np.float64)
        cb = rng.integers(0, 256, (24, 16)).astype(np.float64)
        cr = rng.integers(0, 256, (24, 16)).astype(np.float64)
        prog = decode_jpeg_gray(
            encode_jpeg_progressive(img, chroma=(cb, cr)))
        base = decode_jpeg_gray(encode_jpeg(img, chroma=(cb, cr)))
        assert np.array_equal(prog, base)

    def test_restart_intervals(self):
        rng = np.random.default_rng(31)
        img = rng.integers(0, 256, (24, 56)).astype(np.float64)
        data = encode_jpeg_progressive(img, restart=3)
        assert b"\xff\xd0" in data
        assert np.array_equal(decode_jpeg_gray(data),
                              decode_jpeg_gray(encode_jpeg(img)))

    def test_truncated_scans_still_render(self):
        """A progressive file cut after the DC scans (EOI appended) is a
        legal partial render — coarse but decodable, matching real-world
        progressive semantics."""
        img = _gradient(16, 16)
        data = encode_jpeg_progressive(img)
        # cut just before the first single-component (AC) SOS: find the
        # second SOS and truncate there
        first_sos = data.index(b"\xff\xda")
        cut = data.index(b"\xff\xda", first_sos + 2)
        got = decode_jpeg_gray(data[:cut] + b"\xff\xd9")
        assert got.shape == (16, 16)
        # DC-only render: each 8x8 tile equals the block mean (+-2)
        assert abs(float(got[:8, :8].mean()) - float(img[:8, :8].mean())) \
            <= 2.0

    def test_multimodal_progressive_is_pixel(self):
        """q33's feature path: progressive JPEG now yields REAL pixel
        features (the majority web codec was the last stub gap)."""
        from pdf_extraction_tests_spark.operators import multimodal as MM

        img = np.full((16, 16), 200.0)
        feat, kind = MM._decode(
            encode_jpeg_progressive(img), "image")
        assert kind == "pixel"
        want_bin = int(200 // (256 / MM.FEATURE_DIM))
        assert feat[want_bin] > 0.9

    def test_mutation_fuzz_total(self):
        """Totality over the progressive path: mutations decode or raise
        ValueError — never any other exception type."""
        base = encode_jpeg_progressive(_gradient(16, 16))
        rng = np.random.default_rng(37)
        for _ in range(300):
            buf = bytearray(base)
            for _ in range(int(rng.integers(1, 4))):
                buf[int(rng.integers(0, len(buf)))] = int(
                    rng.integers(0, 256))
            try:
                decode_jpeg_gray(bytes(buf))
            except ValueError:
                pass


class TestJpegIntegration:
    def test_multimodal_jpeg_feature_is_pixel(self):
        """q33's feature path: JPEG content now yields a REAL pixel
        histogram (feature_kind='pixel'), closing the round-4 stub gap."""
        from pdf_extraction_tests_spark.operators import multimodal as MM

        img = np.full((16, 16), 200.0)
        feat, kind = MM._decode(encode_jpeg(img), "image")
        assert kind == "pixel"
        want_bin = int(200 // (256 / MM.FEATURE_DIM))
        assert feat[want_bin] > 0.9          # flat image -> one hot bin
        assert abs(float(np.sum(feat)) - 1.0) < 1e-6

    def test_multimodal_corrupt_jpeg_falls_back_to_stub(self):
        from pdf_extraction_tests_spark.operators import multimodal as MM

        bad = b"\xff\xd8 this is not a real jpeg body"
        feat, kind = MM._decode(bad, "image")
        assert kind == "stub"
        assert np.allclose(feat, MM._decode_stub(bad, "image"))
