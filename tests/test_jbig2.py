"""JBIG2 decoder tests (sources/_jbig2.py).

Oracle strategy mirrors test_ccitt.py / test_jpeg.py: a test-side
spec-procedure MQ *encoder* (T.88 Annex E CODEMPS/CODELPS/BYTEOUT/
FLUSH) plus a generic-region encoder round-trip bitmaps exactly —
arithmetic coding is lossless.  The Qe state table's transcription risk
is bounded structurally (cardinality, pinned rows, probability ordering
of the fast-attack column) since the round-trip shares the table.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_extraction_tests_spark.sources import _jbig2 as J


# --- test-side MQ encoder (T.88 Annex E) ------------------------------------


class MQEncoder:
    def __init__(self):
        self.out = bytearray([0])      # scratch byte; dropped at flush
        self.c = 0
        self.a = 0x8000
        self.ct = 12

    def _byteout(self) -> None:
        o = self.out
        if o[-1] == 0xFF:
            stuff = True
        elif self.c < 0x8000000:
            stuff = False
        else:
            o[-1] += 1
            if o[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                stuff = True
            else:
                stuff = False
        if stuff:
            o.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        else:
            o.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8

    def _renorm(self) -> None:
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def encode(self, cx, i: int, d: int) -> None:
        icx, mps = cx[i]
        qe, nmps, nlps, switch = J.QE_TABLE[icx]
        if d == mps:
            self.a -= qe
            if (self.a & 0x8000) == 0:
                if self.a < qe:
                    self.a = qe
                else:
                    self.c += qe
                cx[i] = (nmps, mps)
                self._renorm()
            else:
                self.c += qe
        else:
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            cx[i] = (nlps, 1 - mps if switch else mps)
            self._renorm()

    def flush(self) -> bytes:
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        return bytes(self.out[1:])


def _encode_bitmap_shared(enc: MQEncoder, cx, pos, bitmap: np.ndarray,
                          tpgdon: bool = False, sltp_cx: int = 0) -> None:
    """Generic pixel loop over an EXISTING encoder + context (mirrors
    the decoder's _decode_bitmap sharing for symbol dictionaries)."""
    h, w = bitmap.shape
    ltp = 0
    for y in range(h):
        if tpgdon:
            want = int(y > 0 and np.array_equal(bitmap[y], bitmap[y - 1]))
            enc.encode(cx, sltp_cx, want ^ ltp)
            ltp = want
            if ltp:
                continue
        for x in range(w):
            ctx = 0
            for dx, dy in pos:
                xx, yy = x + dx, y + dy
                ctx <<= 1
                if 0 <= yy < h and 0 <= xx < w:
                    ctx |= int(bitmap[yy, xx])
            enc.encode(cx, ctx, int(bitmap[y, x]))


def encode_generic(bitmap: np.ndarray, template: int = 0,
                   at: list[tuple[int, int]] | None = None,
                   tpgdon: bool = False) -> bytes:
    """Spec-procedure generic-region encoder, GBTEMPLATEs 0-3."""
    pos = J.template_positions(template, at or J._NOMINAL_AT[template])
    enc = MQEncoder()
    cx = [(0, 0)] * (1 << len(pos))
    _encode_bitmap_shared(enc, cx, pos, bitmap, tpgdon,
                          J._TPGD_CX[template])
    return enc.flush()


def encode_generic_t0(bitmap: np.ndarray,
                      at: list[tuple[int, int]] | None = None,
                      tpgdon: bool = False) -> bytes:
    return encode_generic(bitmap, 0, at, tpgdon)


# --- test-side embedded segment writer --------------------------------------


def _seg(num: int, seg_type: int, body: bytes, page: int = 1) -> bytes:
    return (num.to_bytes(4, "big") + bytes([seg_type])
            + b"\x00"                       # 0 referred, short form
            + bytes([page]) + len(body).to_bytes(4, "big") + body)


_AT_BYTES = {0: bytes([3, 0xFF, 0xFD, 0xFF, 2, 0xFE, 0xFE, 0xFE]),
             1: bytes([3, 0xFF]), 2: bytes([2, 0xFF]),
             3: bytes([2, 0xFF])}


def make_jbig2(bitmaps: list[tuple[int, int, np.ndarray]],
               page_wh: tuple[int, int] | None = None,
               tpgdon: bool = False, mmr: bool = False,
               template: int = 0) -> bytes:
    """Embedded-format stream: page info + one immediate lossless
    generic region per bitmap."""
    out = b""
    n = 1
    if page_wh is not None:
        body = (page_wh[0].to_bytes(4, "big")
                + page_wh[1].to_bytes(4, "big")
                + bytes(8) + b"\x00" + bytes(2))
        out += _seg(n, 48, body)
        n += 1
    for x, y, bm in bitmaps:
        h, w = bm.shape
        info = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + x.to_bytes(4, "big") + y.to_bytes(4, "big") + b"\x00")
        if mmr:
            from tests.test_ccitt import encode_g4

            data = encode_g4(np.where(bm, 0.0, 255.0))
            body = info + bytes([1]) + data
        else:
            gflags = (8 if tpgdon else 0) | (template << 1)
            body = (info + bytes([gflags]) + _AT_BYTES[template]
                    + encode_generic(bm, template, tpgdon=tpgdon))
        out += _seg(n, 39, body)
        n += 1
    return out


def _rand_bitmap(rng, h, w, p=0.35):
    return (rng.rand(h, w) < p).astype(np.uint8)


# --- MQ coder ----------------------------------------------------------------


class TestMQCoder:
    def test_qe_table_shape_and_pins(self):
        assert len(J.QE_TABLE) == 47
        assert J.QE_TABLE[0] == (0x5601, 1, 1, 1)
        assert J.QE_TABLE[45] == (0x0001, 45, 43, 0)
        assert J.QE_TABLE[46] == (0x5601, 46, 46, 0)
        assert J.QE_TABLE[14] == (0x5601, 15, 14, 1)
        for qe, nmps, nlps, _sw in J.QE_TABLE:
            assert 0 < qe <= 0x5601
            assert 0 <= nmps < 47 and 0 <= nlps < 47

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_random_decision_round_trip(self, seed):
        rng = np.random.RandomState(seed)
        n_cx = 8
        decisions = [(int(rng.randint(n_cx)), int(rng.rand() < 0.3))
                     for _ in range(5000)]
        enc = MQEncoder()
        cx = [(0, 0)] * n_cx
        for i, d in decisions:
            enc.encode(cx, i, d)
        data = enc.flush()
        dec = J.MQDecoder(data)
        cx2 = [(0, 0)] * n_cx
        got = [dec.decode(cx2, i) for i, _ in decisions]
        assert got == [d for _, d in decisions]

    def test_skewed_stream_compresses(self):
        # 10k near-constant decisions should code to well under 200 bytes
        enc = MQEncoder()
        cx = [(0, 0)]
        for i in range(10000):
            enc.encode(cx, 0, 1 if i % 997 == 0 else 0)
        assert len(enc.flush()) < 200


# --- generic region round trips ---------------------------------------------


class TestGenericRegion:
    @pytest.mark.parametrize("seed,h,w", [(3, 17, 23), (4, 40, 61)])
    def test_noise_round_trip(self, seed, h, w):
        bm = _rand_bitmap(np.random.RandomState(seed), h, w)
        out = J.decode_generic_t0(encode_generic_t0(bm), w, h)
        assert np.array_equal(out, bm)

    def test_all_white_and_black(self):
        for v in (0, 1):
            bm = np.full((9, 31), v, dtype=np.uint8)
            out = J.decode_generic_t0(encode_generic_t0(bm), 31, 9)
            assert np.array_equal(out, bm)

    def test_tpgdon_round_trip(self):
        bm = np.zeros((20, 33), dtype=np.uint8)
        bm[3:9] = _rand_bitmap(np.random.RandomState(5), 1, 33)  # repeated
        bm[12, ::2] = 1
        data = encode_generic_t0(bm, tpgdon=True)
        out = J.decode_generic_t0(data, 33, 20, tpgdon=True)
        assert np.array_equal(out, bm)
        # typical prediction should beat plain coding on repeated rows
        assert len(data) <= len(encode_generic_t0(bm)) + 2

    def test_text_like_content(self):
        rng = np.random.RandomState(11)
        bm = np.zeros((30, 120), dtype=np.uint8)
        for y in range(4, 26, 7):
            for _ in range(9):
                x = int(rng.randint(0, 110))
                bm[y:y + 4, x:x + int(rng.randint(2, 9))] = 1
        out = J.decode_generic_t0(encode_generic_t0(bm), 120, 30)
        assert np.array_equal(out, bm)

    def test_non_causal_at_rejected(self):
        with pytest.raises(ValueError):
            J.template0_positions([(3, -1), (-3, -1), (2, -2), (0, 0)])
        with pytest.raises(ValueError):
            J.decode_generic_t0(b"\x00", 0, 5)

    def test_at_slots_are_fixed(self):
        # T.88 gives each AT pixel a fixed context-bit slot (its nominal
        # position in the figure's reading order) regardless of where it
        # actually points (round-5 advice item)
        for template, nominal in J._NOMINAL_AT.items():
            nom_pos = J.template_positions(template, nominal)
            slots = [nom_pos.index(a) for a in nominal]
            moved = [(dx - 1, dy - 1) for dx, dy in nominal]  # non-nominal
            got = J.template_positions(template, moved)
            for slot, actual in zip(slots, moved):
                assert got[slot] == actual
            # every non-AT slot is untouched
            for i, p in enumerate(nom_pos):
                if i not in slots:
                    assert got[i] == p

    def test_non_nominal_at_round_trip(self):
        bm = _rand_bitmap(np.random.RandomState(6), 19, 27)
        at = [(1, -1), (-2, -1), (1, -2), (-1, -2)]
        out = J.decode_generic_t0(encode_generic_t0(bm, at=at), 27, 19,
                                  at=at)
        assert np.array_equal(out, bm)


# --- embedded segment layer ---------------------------------------------------


class TestEmbedded:
    def test_single_region_with_page_info(self):
        bm = _rand_bitmap(np.random.RandomState(7), 12, 18)
        px = J.decode_jbig2(make_jbig2([(0, 0, bm)], page_wh=(18, 12)))
        assert px.shape == (12, 18)
        assert np.array_equal(px == 0.0, bm.astype(bool))

    def test_two_regions_composed_on_page(self):
        a = np.ones((4, 6), dtype=np.uint8)
        b = np.ones((3, 5), dtype=np.uint8)
        px = J.decode_jbig2(
            make_jbig2([(2, 1, a), (10, 8, b)], page_wh=(20, 15)))
        assert px.shape == (15, 20)
        assert (px[1:5, 2:8] == 0.0).all()
        assert (px[8:11, 10:15] == 0.0).all()
        assert px[0, 0] == 255.0

    def test_globals_stream_prepended(self):
        bm = _rand_bitmap(np.random.RandomState(8), 9, 9)
        full = make_jbig2([(0, 0, bm)], page_wh=(9, 9))
        # split: page-info segment into "globals", region into "data"
        _num, _t, _refs, _pg, length, doff = J._parse_segment_header(full, 0)
        g, rest = full[: doff + length], full[doff + length:]
        assert np.array_equal(J.decode_jbig2(rest, g) == 0.0,
                              bm.astype(bool))

    def test_mmr_region(self):
        bm = _rand_bitmap(np.random.RandomState(9), 11, 27)
        px = J.decode_jbig2(
            make_jbig2([(0, 0, bm)], page_wh=(27, 11), mmr=True))
        assert np.array_equal(px == 0.0, bm.astype(bool))

    def test_tpgdon_region(self):
        bm = np.zeros((10, 16), dtype=np.uint8)
        bm[2:8, 3:12] = 1
        px = J.decode_jbig2(
            make_jbig2([(0, 0, bm)], page_wh=(16, 10), tpgdon=True))
        assert np.array_equal(px == 0.0, bm.astype(bool))

    def test_unsupported_segment_type_raises(self):
        seg = _seg(1, 4, b"\x00" * 20)     # text region
        with pytest.raises(ValueError):
            J.decode_jbig2(seg)

    def test_truncated_and_garbage_total(self):
        bm = _rand_bitmap(np.random.RandomState(10), 8, 8)
        full = make_jbig2([(0, 0, bm)], page_wh=(8, 8))
        for cut in (1, 7, len(full) // 2, len(full) - 1):
            try:
                J.decode_jbig2(full[:cut])
            except ValueError:
                pass
        with pytest.raises(ValueError):
            J.decode_jbig2(b"")

    def test_mutation_fuzz_total(self):
        rng = np.random.RandomState(12)
        bm = _rand_bitmap(rng, 10, 14)
        base = bytearray(make_jbig2([(0, 0, bm)], page_wh=(14, 10)))
        for _ in range(300):
            mut = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                mut[rng.randint(len(mut))] ^= 1 << rng.randint(8)
            try:
                out = J.decode_jbig2(bytes(mut))
                assert out.ndim == 2
            except ValueError:
                pass


class TestTemplates123:
    @pytest.mark.parametrize("template", [1, 2, 3])
    def test_round_trip(self, template):
        bm = _rand_bitmap(np.random.RandomState(20 + template), 19, 31)
        out = J.decode_generic(encode_generic(bm, template), 31, 19,
                               template=template)
        assert np.array_equal(out, bm)

    @pytest.mark.parametrize("template", [1, 2, 3])
    def test_segment_level(self, template):
        bm = _rand_bitmap(np.random.RandomState(30 + template), 9, 13)
        px = J.decode_jbig2(make_jbig2([(0, 0, bm)], page_wh=(13, 9),
                                       template=template))
        assert np.array_equal(px == 0.0, bm.astype(bool))

    def test_tpgdon_template2(self):
        bm = np.zeros((12, 17), dtype=np.uint8)
        bm[4:9, 2:15] = 1
        data = encode_generic(bm, 2, tpgdon=True)
        out = J.decode_generic(data, 17, 12, template=2, tpgdon=True)
        assert np.array_equal(out, bm)

    def test_context_sizes(self):
        assert len(J.template_positions(0, J._NOMINAL_AT[0])) == 16
        assert len(J.template_positions(1, J._NOMINAL_AT[1])) == 13
        assert len(J.template_positions(2, J._NOMINAL_AT[2])) == 10
        assert len(J.template_positions(3, J._NOMINAL_AT[3])) == 10

    def test_wrong_at_count_rejected(self):
        with pytest.raises(ValueError):
            J.template_positions(1, J._NOMINAL_AT[0])
        with pytest.raises(ValueError):
            J.decode_generic(b"", 5, 5, template=7)


class TestCombineOps:
    def _two_region_stream(self, op: int) -> bytes:
        # region A fills the page; region B overlaps with operator `op`
        a = np.ones((6, 8), dtype=np.uint8)
        b = np.zeros((6, 8), dtype=np.uint8)
        b[:, :4] = 1
        out = b""
        body = ((8).to_bytes(4, "big") + (6).to_bytes(4, "big")
                + bytes(8) + b"\x00" + bytes(2))
        out += _seg(1, 48, body)
        for n, (bm, o) in enumerate(((a, 0), (b, op)), start=2):
            info = ((8).to_bytes(4, "big") + (6).to_bytes(4, "big")
                    + bytes(8) + bytes([o]))
            out += _seg(n, 39, info + bytes([0]) + _AT_BYTES[0]
                        + encode_generic(bm))
        return out

    @pytest.mark.parametrize("op,left,right", [
        (0, 0.0, 0.0),      # OR: stays black everywhere
        (1, 0.0, 255.0),    # AND: only overlap stays black
        (2, 255.0, 0.0),    # XOR: overlap flips white
        (4, 0.0, 255.0),    # REPLACE: b wins
    ])
    def test_ops(self, op, left, right):
        px = J.decode_jbig2(self._two_region_stream(op))
        assert px[0, 0] == left      # inside b's black half
        assert px[0, 7] == right     # outside b's black half

    def test_invalid_op_raises(self):
        with pytest.raises(ValueError):
            J.decode_jbig2(self._two_region_stream(7))


# --- test-side arithmetic integer / symbol / text encoders -------------------


class IntEncoder:
    """Annex A integer encoder mirroring ArithIntDecoder's prefix tree;
    encode(None) emits OOB (S=1, V=0)."""

    def __init__(self):
        self.cx = [(0, 0)] * 512

    def _put(self, enc: MQEncoder, prev: int, b: int) -> int:
        enc.encode(self.cx, prev, b)
        if prev < 256:
            return (prev << 1) | b
        return ((((prev << 1) | b) & 511) | 256)

    def encode(self, enc: MQEncoder, v: int | None) -> None:
        prev = 1
        if v is None:
            for b in (1, 0, 0, 0):            # sign 1, prefix 0, V=0
                prev = self._put(enc, prev, b)
            return
        s = 1 if v < 0 else 0
        av = -v if v < 0 else v
        prev = self._put(enc, prev, s)
        if av < 4:
            prefix, nbits, off = (0,), 2, 0
        elif av < 20:
            prefix, nbits, off = (1, 0), 4, 4
        elif av < 84:
            prefix, nbits, off = (1, 1, 0), 6, 20
        elif av < 340:
            prefix, nbits, off = (1, 1, 1, 0), 8, 84
        elif av < 4436:
            prefix, nbits, off = (1, 1, 1, 1, 0), 12, 340
        else:
            prefix, nbits, off = (1, 1, 1, 1, 1), 32, 4436
        for b in prefix:
            prev = self._put(enc, prev, b)
        val = av - off
        for i in range(nbits - 1, -1, -1):
            prev = self._put(enc, prev, (val >> i) & 1)


class IaidEncoder:
    def __init__(self, symcodelen: int):
        self.n = symcodelen
        self.cx = [(0, 0)] * (1 << (symcodelen + 1))

    def encode(self, enc: MQEncoder, sid: int) -> None:
        prev = 1
        for i in range(self.n - 1, -1, -1):
            b = (sid >> i) & 1
            enc.encode(self.cx, prev, b)
            prev = (prev << 1) | b


def encode_symbol_dict_body(symbols: list[np.ndarray], template: int = 0,
                            n_insyms: int = 0) -> bytes:
    """Symbol-dictionary segment body (§7.4.3): one height class per run
    of consecutive equal heights; exports ALL input + new symbols."""
    pos = J.template_positions(template, J._NOMINAL_AT[template])
    enc = MQEncoder()
    gbcx = [(0, 0)] * (1 << len(pos))
    iadh, iadw, iaex = IntEncoder(), IntEncoder(), IntEncoder()
    hprev = 0
    i = 0
    while i < len(symbols):
        h = symbols[i].shape[0]
        iadh.encode(enc, h - hprev)
        hprev = h
        wprev = 0
        while i < len(symbols) and symbols[i].shape[0] == h:
            w = symbols[i].shape[1]
            iadw.encode(enc, w - wprev)
            wprev = w
            _encode_bitmap_shared(enc, gbcx, pos, symbols[i])
            i += 1
        iadw.encode(enc, None)                 # OOB: height class done
    iaex.encode(enc, 0)                        # run of not-exported
    iaex.encode(enc, n_insyms + len(symbols))  # export everything
    data = enc.flush()
    flags = template << 10
    total_ex = n_insyms + len(symbols)
    return (flags.to_bytes(2, "big") + _AT_BYTES[template]
            + total_ex.to_bytes(4, "big")
            + len(symbols).to_bytes(4, "big") + data)


def _advances(refcorner: int, transposed: int, wi: int, hi: int):
    """(pre, post) CURS advance amounts per T.88 §6.4.5 steps vii-xi."""
    if not transposed:
        pre = wi - 1 if refcorner in (2, 3) else 0
        post = wi - 1 if refcorner in (0, 1) else 0
    else:
        pre = hi - 1 if refcorner in (0, 2) else 0
        post = hi - 1 if refcorner in (1, 3) else 0
    return pre, post


def corner_to_topleft(refcorner: int, transposed: int, s: int, t: int,
                      wi: int, hi: int) -> tuple[int, int]:
    """(s_corner, t_corner) -> top-left (x, y) canvas position."""
    if not transposed:
        x = s - wi + 1 if refcorner in (2, 3) else s
        y = t if refcorner in (1, 3) else t - hi + 1
    else:
        y = s - hi + 1 if refcorner in (0, 2) else s
        x = t if refcorner in (0, 1) else t - wi + 1
    return x, y


def encode_text_region_body(w: int, h: int, x: int, y: int,
                            placements: list[tuple[int, int, int]],
                            symbols: list[np.ndarray],
                            refcorner: int = 1, transposed: int = 0,
                            combop: int = 0, dsoffset: int = 0,
                            defpixel: int = 0, logstrips: int = 0,
                            op: int = 0) -> bytes:
    """Text-region segment body (§7.4.4).  ``placements`` are
    (symbol_id, s_corner, t_corner) in the spec's coordinate semantics
    for the chosen REFCORNER/TRANSPOSED."""
    strips = 1 << logstrips
    symcodelen = J._symcodelen(len(symbols))
    enc = MQEncoder()
    iadt, iafs, iads, iait = (IntEncoder(), IntEncoder(), IntEncoder(),
                              IntEncoder())
    iaid = IaidEncoder(symcodelen)
    iadt.encode(enc, 0)                        # STRIPT starts at 0
    stript = 0
    firsts = 0
    by_strip: dict[int, list[tuple[int, int, int]]] = {}
    for sid, s, t in placements:
        by_strip.setdefault((t // strips) * strips, []).append((sid, s, t))
    for strip_t in sorted(by_strip):
        assert (strip_t - stript) % strips == 0
        iadt.encode(enc, (strip_t - stript) // strips)
        stript = strip_t
        first = True
        curs = 0
        for sid, s, t in sorted(by_strip[strip_t], key=lambda p: p[1]):
            hi, wi = symbols[sid].shape
            pre, post = _advances(refcorner, transposed, wi, hi)
            target = s - pre                   # CURS value after delta
            if first:
                iafs.encode(enc, target - firsts)
                firsts = target
                first = False
            else:
                iads.encode(enc, target - curs - dsoffset)
            curs = target + pre + post
            if strips > 1:
                iait.encode(enc, t - strip_t)
            iaid.encode(enc, sid)
        iads.encode(enc, None)                 # OOB: strip done
    data = enc.flush()
    flags = ((logstrips << 2) | (refcorner << 4) | (transposed << 6)
             | (combop << 7) | (defpixel << 9)
             | ((dsoffset & 0x1F) << 10))
    info = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + x.to_bytes(4, "big") + y.to_bytes(4, "big") + bytes([op]))
    return (info + flags.to_bytes(2, "big")
            + len(placements).to_bytes(4, "big") + data)


def _seg_ref(num: int, seg_type: int, refs: list[int], body: bytes,
             page: int = 1) -> bytes:
    """Segment header with a short-form referred-segment list."""
    assert len(refs) <= 4 and all(r <= 256 for r in refs)
    return (num.to_bytes(4, "big") + bytes([seg_type])
            + bytes([len(refs) << 5])
            + b"".join(r.to_bytes(1, "big") for r in refs)
            + bytes([page]) + len(body).to_bytes(4, "big") + body)


def make_jbig2_text(symbols: list[np.ndarray],
                    placements: list[tuple[int, int, int]],
                    page_wh: tuple[int, int], template: int = 0,
                    **text_kw) -> bytes:
    """Page info + symbol dictionary + one immediate text region."""
    pw, ph = page_wh
    page = (pw.to_bytes(4, "big") + ph.to_bytes(4, "big")
            + bytes(8) + b"\x00" + bytes(2))
    dict_body = encode_symbol_dict_body(symbols, template)
    text_body = encode_text_region_body(pw, ph, 0, 0, placements,
                                        symbols, **text_kw)
    return (_seg(1, 48, page) + _seg_ref(2, 0, [], dict_body)
            + _seg_ref(3, 6, [2], text_body))


def _glyphs() -> list[np.ndarray]:
    """Tiny deterministic 'font': distinct shapes, mixed sizes."""
    a = np.zeros((5, 4), dtype=np.uint8)
    a[:, 0] = 1
    a[0, :] = 1                                # Γ shape
    b = np.zeros((5, 3), dtype=np.uint8)
    b[:, -1] = 1
    b[-1, :] = 1                               # L mirrored
    c = np.ones((3, 3), dtype=np.uint8)
    c[1, 1] = 0                                # ring
    d = np.zeros((5, 5), dtype=np.uint8)
    np.fill_diagonal(d, 1)                     # diagonal
    return [a, b, c, d]


class TestArithInt:
    @pytest.mark.parametrize("seed", [0, 1])
    def test_random_round_trip(self, seed):
        rng = np.random.RandomState(seed)
        vals = []
        for _ in range(400):
            r = rng.rand()
            if r < 0.1:
                vals.append(None)
            elif r < 0.5:
                vals.append(int(rng.randint(-30, 30)))
            else:
                vals.append(int(rng.randint(-100000, 100000)))
        enc = MQEncoder()
        ie = IntEncoder()
        for v in vals:
            ie.encode(enc, v)
        dec = J.MQDecoder(enc.flush())
        idec = J.ArithIntDecoder()
        assert [idec.decode(dec) for _ in vals] == vals

    def test_range_boundaries(self):
        vals = [0, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436, 100000,
                -1, -4, -20, -84, -340, -4436, -(1 << 20), None]
        enc = MQEncoder()
        ie = IntEncoder()
        for v in vals:
            ie.encode(enc, v)
        dec = J.MQDecoder(enc.flush())
        idec = J.ArithIntDecoder()
        assert [idec.decode(dec) for _ in vals] == vals

    def test_iaid_round_trip(self):
        for n in (1, 2, 3, 5):
            enc = MQEncoder()
            ide = IaidEncoder(n)
            ids = list(range(1 << n)) * 3
            for i in ids:
                ide.encode(enc, i)
            dec = J.MQDecoder(enc.flush())
            idd = J.ArithIaidDecoder(n)
            assert [idd.decode(dec) for _ in ids] == ids

    def test_symcodelen(self):
        assert J._symcodelen(1) == 1
        assert J._symcodelen(2) == 1
        assert J._symcodelen(3) == 2
        assert J._symcodelen(4) == 2
        assert J._symcodelen(5) == 3


class TestSymbolDict:
    def test_round_trip_mixed_heights(self):
        syms = _glyphs()                       # heights 5,5,3,5
        body = encode_symbol_dict_body(syms)
        out = J.decode_symbol_dict(body, [])
        assert len(out) == len(syms)
        for got, want in zip(out, syms):
            assert np.array_equal(got, want)

    def test_import_across_dictionaries(self):
        syms = _glyphs()
        body_a = encode_symbol_dict_body(syms[:2])
        got_a = J.decode_symbol_dict(body_a, [])
        body_b = encode_symbol_dict_body(syms[2:], n_insyms=2)
        got_b = J.decode_symbol_dict(body_b, got_a)
        assert len(got_b) == 4
        for got, want in zip(got_b, syms):
            assert np.array_equal(got, want)

    def test_huffman_and_refagg_rejected(self):
        for flags in (1, 2, 0x100, 0x200):
            body = flags.to_bytes(2, "big") + bytes(16)
            with pytest.raises(ValueError):
                J.decode_symbol_dict(body, [])

    def test_absurd_counts_rejected(self):
        body = (0).to_bytes(2, "big") + _AT_BYTES[0] \
            + (1 << 20).to_bytes(4, "big") + (1 << 20).to_bytes(4, "big")
        with pytest.raises(ValueError):
            J.decode_symbol_dict(body, [])


class TestTextRegion:
    def test_known_answer_topleft(self):
        # one ring glyph at (2, 1), one at (6, 3) on an 10x6 canvas
        syms = [_glyphs()[2]]                  # 3x3 ring
        stream = make_jbig2_text(syms, [(0, 2, 1), (0, 6, 3)],
                                 page_wh=(10, 6))
        px = J.decode_jbig2(stream)
        want = np.zeros((6, 10), dtype=bool)
        want[1:4, 2:5] = syms[0].astype(bool)
        want[3:6, 6:9] |= syms[0].astype(bool)
        assert np.array_equal(px == 0.0, want)

    @pytest.mark.parametrize("refcorner", [0, 1, 2, 3])
    @pytest.mark.parametrize("transposed", [0, 1])
    def test_all_corners_and_transposed(self, refcorner, transposed):
        syms = _glyphs()
        # corner coordinates chosen so every glyph stays on-canvas
        placements = [(0, 8, 8), (1, 16, 8), (2, 24, 12), (3, 9, 18)]
        stream = make_jbig2_text(syms, placements, page_wh=(34, 34),
                                 refcorner=refcorner,
                                 transposed=transposed)
        px = J.decode_jbig2(stream)
        want = np.zeros((34, 34), dtype=bool)
        for sid, s, t in placements:
            hi, wi = syms[sid].shape
            x, y = corner_to_topleft(refcorner, transposed, s, t, wi, hi)
            want[y:y + hi, x:x + wi] |= syms[sid].astype(bool)
        assert np.array_equal(px == 0.0, want)

    def test_multi_strip_with_iait(self):
        syms = _glyphs()
        placements = [(0, 2, 1), (1, 9, 3), (2, 15, 2), (3, 2, 11),
                      (0, 10, 13)]
        stream = make_jbig2_text(syms, placements, page_wh=(24, 20),
                                 logstrips=2)   # SBSTRIPS=4, CURT coded
        px = J.decode_jbig2(stream)
        want = np.zeros((20, 24), dtype=bool)
        for sid, s, t in placements:
            hi, wi = syms[sid].shape
            want[t:t + hi, s:s + wi] |= syms[sid].astype(bool)
        assert np.array_equal(px == 0.0, want)

    def test_dsoffset_and_defpixel(self):
        syms = [np.ones((2, 2), dtype=np.uint8)]
        placements = [(0, 1, 1), (0, 6, 1)]
        stream = make_jbig2_text(syms, placements, page_wh=(10, 4),
                                 dsoffset=3, defpixel=1, combop=1)
        px = J.decode_jbig2(stream)
        # defpixel=1 + AND-combine: only glyph interiors stay black...
        # glyphs are all-ones so whole canvas stays black
        assert (px == 0.0).all()

    def test_xor_combine(self):
        syms = [np.ones((3, 3), dtype=np.uint8)]
        # overlapping placements XOR to a plus-ring pattern
        stream = make_jbig2_text(syms, [(0, 2, 1), (0, 4, 1)],
                                 page_wh=(10, 5), combop=2)
        px = J.decode_jbig2(stream)
        black = px == 0.0
        assert black[1:4, 2:4].all()           # only-first region
        assert not black[1:4, 4:5].any()       # overlap flipped white
        assert black[1:4, 5:7].all()           # only-second region

    def test_symbol_clipped_at_region_edge(self):
        syms = [np.ones((4, 4), dtype=np.uint8)]
        stream = make_jbig2_text(syms, [(0, 6, 2)], page_wh=(8, 4))
        px = J.decode_jbig2(stream)
        assert (px[2:4, 6:8] == 0.0).all()
        assert (px[:2, :] == 255.0).all()

    def test_no_symbols_rejected(self):
        body = encode_text_region_body(8, 8, 0, 0, [], [np.ones((1, 1),
                                       dtype=np.uint8)])
        seg = _seg(1, 48, (8).to_bytes(4, "big") + (8).to_bytes(4, "big")
                   + bytes(8) + b"\x00" + bytes(2)) \
            + _seg_ref(2, 6, [], body)         # refers to NO dictionary
        with pytest.raises(ValueError):
            J.decode_jbig2(seg)

    def test_symbol_id_out_of_range(self):
        # region coded for a 2-symbol alphabet, dictionary has only 1
        syms2 = [np.ones((2, 2), dtype=np.uint8),
                 np.ones((2, 3), dtype=np.uint8)]
        body = encode_text_region_body(8, 8, 0, 0, [(1, 1, 1)], syms2)
        dict_body = encode_symbol_dict_body(syms2[:1])
        page = ((8).to_bytes(4, "big") + (8).to_bytes(4, "big")
                + bytes(8) + b"\x00" + bytes(2))
        stream = (_seg(1, 48, page) + _seg_ref(2, 0, [], dict_body)
                  + _seg_ref(3, 6, [2], body))
        with pytest.raises(ValueError):
            J.decode_jbig2(stream)

    def test_huffman_and_refine_rejected(self):
        info = ((8).to_bytes(4, "big") + (8).to_bytes(4, "big")
                + bytes(8) + b"\x00")
        for flags in (1, 2):
            body = info + flags.to_bytes(2, "big") + bytes(8)
            with pytest.raises(ValueError):
                J.decode_text_region(body, [np.ones((1, 1),
                                            dtype=np.uint8)])

    def test_intermediate_text_region_rejected(self):
        with pytest.raises(ValueError):
            J.decode_jbig2(_seg(1, 4, bytes(24)))

    def test_mutation_fuzz_total(self):
        rng = np.random.RandomState(77)
        base = bytearray(make_jbig2_text(_glyphs(),
                                         [(0, 2, 1), (2, 10, 4)],
                                         page_wh=(20, 12)))
        for _ in range(250):
            mut = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                mut[rng.randint(len(mut))] ^= 1 << rng.randint(8)
            try:
                out = J.decode_jbig2(bytes(mut))
                assert out.ndim == 2
            except ValueError:
                pass


class TestResourceCeilings:
    def test_mmr_region_huge_dims_rejected(self):
        # the MMR branch must hit the same area guard as the MQ branch
        info = ((65535).to_bytes(4, "big") + (65535).to_bytes(4, "big")
                + bytes(8) + b"\x00")
        seg = _seg(1, 39, info + bytes([1]) + b"\xff" * 64)
        with pytest.raises(ValueError):
            J.decode_jbig2(seg)

    def test_mq_region_huge_dims_rejected(self):
        info = ((16384).to_bytes(4, "big") + (16384).to_bytes(4, "big")
                + bytes(8) + b"\x00")
        seg = _seg(1, 39, info + bytes([0]) + _AT_BYTES[0] + b"\x00" * 8)
        with pytest.raises(ValueError):
            J.decode_jbig2(seg)
