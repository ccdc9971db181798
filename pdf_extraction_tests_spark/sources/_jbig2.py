"""Pure-Python JBIG2 (ITU-T T.88) decoder — embedded (PDF) profile,
generic regions plus symbol-dictionary / text-region segments.

Alongside CCITT G4, JBIG2 is the other bi-level codec scanned PDFs use
for page images (the reference's raster domain, v10.R:26,39-44); PDF
embeds it via /JBIG2Decode with an optional /JBIG2Globals stream.  This
module decodes the subsets both generic-region and symbol-mode (the
profile real scanned-document encoders actually emit) streams use:

* the MQ arithmetic coder (T.88 Annex E): 47-state Qe table, BYTEIN
  with 0xFF-stuffing and end-of-stream 1-feeding,
* generic region decoding, GBTEMPLATEs 0-3 with arbitrary causal AT
  pixels and TPGDON typical-prediction rows (context layout per the
  spec's neighborhood figures: NOMINAL positions sorted by (y, x), MSB
  first, with the actual AT coordinates injected at their fixed nominal
  slots; SLTP contexts 0x9B25/0x0795/0x00E5/0x0195),
* MMR-coded generic regions (T.6 payload — reuses ``_ccitt.decode_g4``),
* the arithmetic integer decoding procedure (Annex A: IADH/IADW/IAEX/
  IADT/IAFS/IADS/IAIT and the IAID symbol-code tree),
* symbol dictionaries (§6.5, SDHUFF=0 SDREFAGG=0): height classes via
  IADH/IADW deltas, per-symbol generic decode sharing ONE arithmetic
  decoder + GB context across the whole segment, IAEX export runs,
  cross-dictionary symbol import via referred segments,
* text regions (§6.4, SBHUFF=0 SBREFINE=0): strip loop with IADT/IAFS/
  IADS/IAIT, all four REFCORNERs, TRANSPOSED, SBDSOFFSET, SBDEFPIXEL
  and the four SBCOMBOPs, symbols clipped at region bounds,
* the embedded segment layer (T.88 §7.2): headers with referred-segment
  lists, page info, symbol dictionaries, immediate generic/text
  regions, end-of-page/stripe/file; regions composed onto the page
  canvas.

The PDF text path does not call this module: a JBIG2 image XObject is
one media span there, never decoded.

Out of scope -> ValueError: Huffman-coded variants, refinement/aggregate coding,
halftone regions, intermediate (non-immediate) regions, retained
coding contexts and unknown-length MMR data.  Totality: any malformed
input raises ValueError, never an ad-hoc exception.  Resource ceiling:
regions are capped at 2^26 pixels (covers 600-dpi A4; larger
declarations raise) — this bounds BOTH memory and the worst-case CPU
of the per-pixel decode loop, since a tiny hostile stream can legally
declare a huge region (the MQ coder feeds 1-bits at end of data, so
declared size, not input size, is the work bound).  Applies to the MMR
branch, symbol dictionaries (count, per-symbol and cumulative area
caps) and text regions (instance cap) too.

The Qe state table is a transcribed constant; tests bound the risk
structurally (cardinality, probability monotonicity spot checks, pinned
well-known rows) and behaviorally (round-trips through an independent
spec-procedure MQ *encoder* living test-side, like the G4/JPEG
oracles).  A Qe-value typo that both sides share would survive the
round-trip — the table below is therefore kept byte-identical to T.88
Table E.1 and reviewed against it row by row.
"""

from __future__ import annotations

import numpy as np

# T.88 Table E.1: (Qe, NMPS, NLPS, SWITCH)
QE_TABLE: list[tuple[int, int, int, int]] = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]


class MQDecoder:
    """T.88 Annex E arithmetic decoder (software conventions, Figure
    G.1/G.2 register layout).  Context state lives in the caller's
    ``cx`` array of [index, mps] pairs."""

    __slots__ = ("data", "bp", "c", "a", "ct")

    def __init__(self, data: bytes):
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        d, bp = self.data, self.bp
        b = d[bp] if bp < len(d) else 0xFF
        if b == 0xFF:
            b1 = d[bp + 1] if bp + 1 < len(d) else 0xFF
            if b1 > 0x8F:
                self.c += 0xFF00          # marker/EOD: feed 1 bits
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            b1 = d[self.bp] if self.bp < len(d) else 0xFF
            self.c += b1 << 8
            self.ct = 8

    def decode(self, cx, i: int) -> int:
        """One decision for context ``i``; mutates cx[i] = (index, mps)."""
        icx, mps = cx[i]
        qe, nmps, nlps, switch = QE_TABLE[icx]
        self.a -= qe
        if (self.c >> 16) < qe:
            # LPS exchange
            if self.a < qe:
                d = mps
                cx[i] = (nmps, mps)
            else:
                d = 1 - mps
                cx[i] = (nlps, 1 - mps if switch else mps)
            self.a = qe
        else:
            self.c -= qe << 16
            if self.a & 0x8000:
                return mps
            # MPS exchange
            if self.a < qe:
                d = 1 - mps
                cx[i] = (nlps, 1 - mps if switch else mps)
            else:
                d = mps
                cx[i] = (nmps, mps)
        # RENORMD
        while True:
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


# --- generic regions (T.88 §6.2), GBTEMPLATE 0-3 ---------------------------

# fixed (non-AT) neighborhoods per template: (dx, dy)
_TEMPLATE_FIXED = {
    0: [(-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)],
    1: [(-1, -2), (0, -2), (1, -2), (2, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-3, 0), (-2, 0), (-1, 0)],
    2: [(-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-2, 0), (-1, 0)],
    3: [(-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)],
}
_NOMINAL_AT = {
    0: [(3, -1), (-3, -1), (2, -2), (-2, -2)],
    1: [(3, -1)],
    2: [(2, -1)],
    3: [(2, -1)],
}
_T0_NOMINAL_AT = _NOMINAL_AT[0]
# SLTP pseudo-pixel contexts (spec §6.2.5.7)
_TPGD_CX = {0: 0x9B25, 1: 0x0795, 2: 0x00E5, 3: 0x0195}
_TPGD_CX_T0 = _TPGD_CX[0]


def template_positions(template: int,
                       at: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Full neighborhood in context-bit order, MSB first.

    T.88 assigns each AT pixel a FIXED context-bit slot — the slot its
    NOMINAL position occupies in the template figure's left-to-right,
    top-to-bottom reading — independent of where the AT pixel actually
    points (round-5 advice: sorting by the *actual* coordinates moved
    the AT bits for non-nominal AT, decoding real-world streams to
    garbage).  So the slot order is computed from the nominal template
    and the actual AT coordinates are injected at those slots; for
    nominal AT the two orderings coincide."""
    fixed = _TEMPLATE_FIXED.get(template)
    if fixed is None:
        raise ValueError(f"GBTEMPLATE {template} unsupported")
    nominal = _NOMINAL_AT[template]
    if len(at) != len(nominal):
        raise ValueError(
            f"template {template} needs {len(nominal)} AT pixels")
    for dx, dy in at:
        if dy > 0 or (dy == 0 and dx >= 0):
            raise ValueError("AT pixel not strictly causal")
    slots = [(p, None) for p in fixed] + \
            [(nom, idx) for idx, nom in enumerate(nominal)]
    slots.sort(key=lambda s: (s[0][1], s[0][0]))
    return [tuple(at[idx]) if idx is not None else p for p, idx in slots]


def template0_positions(at: list[tuple[int, int]]) -> list[tuple[int, int]]:
    return template_positions(0, at)


def _decode_bitmap(dec: MQDecoder, cx, pos, width: int, height: int,
                   tpgdon: bool = False, sltp_cx: int = 0) -> np.ndarray:
    """Generic-region pixel loop over an EXISTING decoder + context
    array (§6.2.5.7) — symbol dictionaries decode every symbol through
    one shared arithmetic decoder and GB context (§6.5.8.2.1)."""
    bitmap = np.zeros((height, width), dtype=np.uint8)
    ltp = 0
    for y in range(height):
        if tpgdon:
            ltp ^= dec.decode(cx, sltp_cx)
            if ltp:
                if y > 0:
                    bitmap[y] = bitmap[y - 1]
                continue
        row = bitmap[y]
        for x in range(width):
            ctx = 0
            for dx, dy in pos:
                xx, yy = x + dx, y + dy
                ctx <<= 1
                if 0 <= yy < height and 0 <= xx < width and yy <= y:
                    ctx |= int(bitmap[yy, xx])
            row[x] = dec.decode(cx, ctx)
    return bitmap


def decode_generic(data: bytes, width: int, height: int,
                   template: int = 0,
                   at: list[tuple[int, int]] | None = None,
                   tpgdon: bool = False) -> np.ndarray:
    """MQ-coded generic region, GBTEMPLATE 0-3 -> (height, width) uint8
    bitmap (1 = black)."""
    if not (0 < width <= 1 << 14 and 0 < height <= 1 << 14):
        raise ValueError("bad generic region dimensions")
    if width * height > 1 << 26:
        raise ValueError("generic region too large")
    if template not in _NOMINAL_AT:
        raise ValueError(f"GBTEMPLATE {template} unsupported")
    pos = template_positions(template, at or _NOMINAL_AT[template])
    dec = MQDecoder(data)
    cx = [(0, 0)] * (1 << len(pos))
    return _decode_bitmap(dec, cx, pos, width, height, tpgdon,
                          _TPGD_CX[template])


def decode_generic_t0(data: bytes, width: int, height: int,
                      at: list[tuple[int, int]] | None = None,
                      tpgdon: bool = False) -> np.ndarray:
    return decode_generic(data, width, height, 0, at, tpgdon)


# --- arithmetic integer decoding (T.88 Annex A) -----------------------------


class ArithIntDecoder:
    """One IAx procedure (IADH, IADW, IAEX, IADT, ...): a 512-context
    prefix tree over a shared MQ decoder.  ``decode`` returns the
    integer, or None for OOB (S=1, V=0 — Annex A.2 step 4)."""

    __slots__ = ("cx",)

    def __init__(self):
        self.cx = [(0, 0)] * 512

    def _bit(self, dec: MQDecoder, prev: int) -> tuple[int, int]:
        b = dec.decode(self.cx, prev)
        if prev < 256:
            prev = (prev << 1) | b
        else:
            prev = ((((prev << 1) | b) & 511) | 256)
        return b, prev

    def decode(self, dec: MQDecoder) -> int | None:
        s, prev = self._bit(dec, 1)
        b, prev = self._bit(dec, prev)
        if not b:
            nbits, offset = 2, 0
        else:
            b, prev = self._bit(dec, prev)
            if not b:
                nbits, offset = 4, 4
            else:
                b, prev = self._bit(dec, prev)
                if not b:
                    nbits, offset = 6, 20
                else:
                    b, prev = self._bit(dec, prev)
                    if not b:
                        nbits, offset = 8, 84
                    else:
                        b, prev = self._bit(dec, prev)
                        nbits, offset = (12, 340) if not b else (32, 4436)
        v = 0
        for _ in range(nbits):
            b, prev = self._bit(dec, prev)
            v = (v << 1) | b
        v += offset
        if s and v == 0:
            return None                       # OOB
        return -v if s else v


class ArithIaidDecoder:
    """IAID symbol-code decoding (§A.3): a fixed-depth bit tree of
    SBSYMCODELEN levels, context size 2^(SBSYMCODELEN+1)."""

    __slots__ = ("n", "cx")

    def __init__(self, symcodelen: int):
        if not 0 < symcodelen <= 16:
            raise ValueError("bad SBSYMCODELEN")
        self.n = symcodelen
        self.cx = [(0, 0)] * (1 << (symcodelen + 1))

    def decode(self, dec: MQDecoder) -> int:
        prev = 1
        for _ in range(self.n):
            prev = (prev << 1) | dec.decode(self.cx, prev)
        return prev - (1 << self.n)


def _symcodelen(nsyms: int) -> int:
    """SBSYMCODELEN = max(1, ceil(log2(SBNUMSYMS))) (T.88 erratum —
    a 1-symbol alphabet still codes one bit)."""
    return max(1, (nsyms - 1).bit_length())


# --- symbol dictionary (T.88 §6.5 / §7.4.3, SDHUFF=0 SDREFAGG=0) ------------

_MAX_SYMBOLS = 1 << 12          # per dictionary
_MAX_SYMBOL_AREA = 1 << 20      # per symbol
_MAX_TOTAL_AREA = 1 << 26      # cumulative, same ceiling as regions


def _signed_at(body: bytes, off: int, n_at: int) -> list[tuple[int, int]]:
    at = []
    for i in range(n_at):
        ax = _be(body, off + 2 * i, 1)
        ay = _be(body, off + 2 * i + 1, 1)
        at.append((ax - 256 if ax > 127 else ax,
                   ay - 256 if ay > 127 else ay))
    return at


def decode_symbol_dict(body: bytes,
                       insyms: list[np.ndarray]) -> list[np.ndarray]:
    """Symbol-dictionary segment data -> exported symbol bitmaps
    (inputs from referred dictionaries followed by new symbols,
    filtered by the IAEX export runs)."""
    flags = _be(body, 0, 2)
    if flags & 1:
        raise ValueError("Huffman symbol dictionary unsupported")
    if flags & 2:
        raise ValueError("refinement/aggregate symbol dictionary "
                         "unsupported")
    if flags & 0x300:
        raise ValueError("retained coding contexts unsupported")
    template = (flags >> 10) & 3
    off = 2
    n_at = len(_NOMINAL_AT[template])
    at = _signed_at(body, off, n_at)
    off += 2 * n_at
    numex = _be(body, off, 4)
    numnew = _be(body, off + 4, 4)
    off += 8
    if numnew > _MAX_SYMBOLS or numex > _MAX_SYMBOLS + len(insyms):
        raise ValueError("absurd symbol count")
    pos = template_positions(template, at)
    gbcx = [(0, 0)] * (1 << len(pos))
    dec = MQDecoder(body[off:])
    iadh, iadw, iaex = ArithIntDecoder(), ArithIntDecoder(), \
        ArithIntDecoder()
    newsyms: list[np.ndarray] = []
    hcheight = 0
    total_area = 0
    hc_iters = 0
    while len(newsyms) < numnew:
        # loop guard (round-7 advice): an empty height class (first IADW
        # decode returns OOB) makes no progress, and arithmetic coding can
        # encode billions of such classes at near-zero bits each — cap
        # total height-class iterations so declared size bounds the work
        hc_iters += 1
        if hc_iters > numnew + 64:
            raise ValueError("too many empty height classes")
        dh = iadh.decode(dec)
        if dh is None:
            raise ValueError("OOB delta height")
        hcheight += dh
        if not 0 < hcheight <= 1 << 14:
            raise ValueError("bad symbol height")
        symwidth = 0
        while True:
            dw = iadw.decode(dec)
            if dw is None:
                break                          # height class done
            symwidth += dw
            if not 0 < symwidth <= 1 << 14:
                raise ValueError("bad symbol width")
            if len(newsyms) >= numnew:
                raise ValueError("symbol count overrun")
            area = symwidth * hcheight
            total_area += area
            if area > _MAX_SYMBOL_AREA or total_area > _MAX_TOTAL_AREA:
                raise ValueError("symbol dictionary too large")
            newsyms.append(_decode_bitmap(dec, gbcx, pos, symwidth,
                                          hcheight))
    all_syms = list(insyms) + newsyms
    exflags: list[int] = []
    cur = 0
    ex_iters = 0
    while len(exflags) < len(all_syms):
        # loop guard (round-7 advice): run=0 IAEX runs make no progress —
        # cap total export-loop iterations (a valid stream needs at most
        # one run per flag flip, so len+64 is generous)
        ex_iters += 1
        if ex_iters > len(all_syms) + 64:
            raise ValueError("too many export runs")
        run = iaex.decode(dec)
        if run is None or run < 0:
            raise ValueError("bad export run length")
        exflags.extend([cur] * min(run, len(all_syms) - len(exflags)))
        cur ^= 1
    exported = [s for s, f in zip(all_syms, exflags) if f]
    if len(exported) != numex:
        raise ValueError("export count mismatch")
    return exported


# --- text region (T.88 §6.4 / §7.4.4, SBHUFF=0 SBREFINE=0) ------------------

_MAX_INSTANCES = 1 << 20


def _combine_into(region: np.ndarray, bm: np.ndarray, x: int, y: int,
                  op: int) -> None:
    """Clipped combine of a symbol bitmap at (x, y) top-left (§6.4.5
    step 3(c)(x); pixels outside SBREGION are discarded)."""
    h, w = bm.shape
    rh, rw = region.shape
    y0, x0 = max(y, 0), max(x, 0)
    y1, x1 = min(y + h, rh), min(x + w, rw)
    if y0 >= y1 or x0 >= x1:
        return
    tgt = region[y0:y1, x0:x1]
    src = bm[y0 - y:y1 - y, x0 - x:x1 - x]
    if op == 0:
        tgt |= src
    elif op == 1:
        tgt &= src
    elif op == 2:
        tgt ^= src
    elif op == 3:
        tgt[...] = 1 - (tgt ^ src)
    else:
        raise ValueError(f"SBCOMBOP {op} invalid")


def decode_text_region(body: bytes, syms: list[np.ndarray]):
    """Text-region segment data (region info included) ->
    (x, y, bitmap, external_combine_op)."""
    w, h, x, y, op, off = _region_info(body, 0)
    if not (0 < w <= 1 << 14 and 0 < h <= 1 << 14) or w * h > 1 << 26:
        raise ValueError("bad text region dimensions")
    flags = _be(body, off, 2)
    off += 2
    if flags & 1:
        raise ValueError("Huffman text region unsupported")
    if flags & 2:
        raise ValueError("refinement text region unsupported")
    logstrips = (flags >> 2) & 3
    strips = 1 << logstrips
    refcorner = (flags >> 4) & 3           # 0 BL, 1 TL, 2 BR, 3 TR
    transposed = (flags >> 6) & 1
    combop = (flags >> 7) & 3
    defpixel = (flags >> 9) & 1
    dsoffset = (flags >> 10) & 0x1F
    if dsoffset > 15:
        dsoffset -= 32
    numinstances = _be(body, off, 4)
    off += 4
    if numinstances > _MAX_INSTANCES:
        raise ValueError("absurd instance count")
    if not syms:
        raise ValueError("text region refers to no symbols")
    dec = MQDecoder(body[off:])
    iadt, iafs, iads, iait = (ArithIntDecoder(), ArithIntDecoder(),
                              ArithIntDecoder(), ArithIntDecoder())
    iaid = ArithIaidDecoder(_symcodelen(len(syms)))
    region = np.full((h, w), defpixel, dtype=np.uint8)
    dt = iadt.decode(dec)
    if dt is None:
        raise ValueError("OOB initial STRIPT")
    stript = -dt * strips
    firsts = 0
    ninst = 0
    guard = 0
    while ninst < numinstances:
        guard += 1
        if guard > numinstances + (1 << 12):
            raise ValueError("strip loop guard")
        dt = iadt.decode(dec)
        if dt is None:
            raise ValueError("OOB strip delta")
        stript += dt * strips
        first = True
        curs = 0
        while True:
            if first:
                dfs = iafs.decode(dec)
                if dfs is None:
                    raise ValueError("OOB first S")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = iads.decode(dec)
                if ids is None:
                    break                      # strip done
                curs += ids + dsoffset
            if ninst >= numinstances:
                raise ValueError("instance overrun")
            curt = iait.decode(dec) if strips > 1 else 0
            if curt is None:
                raise ValueError("OOB CURT")
            ti = stript + curt
            sid = iaid.decode(dec)
            if not 0 <= sid < len(syms):
                raise ValueError("symbol id out of range")
            bm = syms[sid]
            hi, wi = bm.shape
            if not transposed:
                if refcorner in (2, 3):        # right corners: pre-advance
                    curs += wi - 1
                sx = curs - wi + 1 if refcorner in (2, 3) else curs
                sy = ti if refcorner in (1, 3) else ti - hi + 1
            else:
                if refcorner in (0, 2):        # bottom corners: pre-advance
                    curs += hi - 1
                sy = curs - hi + 1 if refcorner in (0, 2) else curs
                sx = ti if refcorner in (0, 1) else ti - wi + 1
            _combine_into(region, bm, sx, sy, combop)
            if not transposed and refcorner in (0, 1):
                curs += wi - 1                 # left corners: post-advance
            if transposed and refcorner in (1, 3):
                curs += hi - 1                 # top corners: post-advance
            ninst += 1
    return x, y, region, op


# --- embedded segment layer (T.88 §7.2) ------------------------------------


def _be(b: bytes, off: int, n: int) -> int:
    if off + n > len(b):
        raise ValueError("truncated JBIG2 data")
    return int.from_bytes(b[off:off + n], "big")


def _parse_segment_header(b: bytes, off: int):
    """-> (seg_number, seg_type, referred_segments, page, data_length,
    data_offset)."""
    num = _be(b, off, 4)
    flags = _be(b, off + 4, 1)
    seg_type = flags & 0x3F
    page4 = bool(flags & 0x40)
    off += 5
    rts = _be(b, off, 1)
    count = rts >> 5
    if count == 7:
        count = _be(b, off, 4) & 0x1FFFFFFF
        off += 4 + (count + 8) // 8       # long form + retain bits
        if count > 1 << 20:
            raise ValueError("absurd referred-segment count")
    else:
        off += 1
    ref_size = 1 if num <= 256 else (2 if num <= 65536 else 4)
    refs = [_be(b, off + i * ref_size, ref_size) for i in range(count)]
    off += count * ref_size
    page = _be(b, off, 4 if page4 else 1)
    off += 4 if page4 else 1
    length = _be(b, off, 4)
    off += 4
    if length == 0xFFFFFFFF:
        raise ValueError("unknown-length segment unsupported")
    if off + length > len(b):
        raise ValueError("segment data overruns stream")
    return num, seg_type, refs, page, length, off


def _region_info(b: bytes, off: int):
    """Region segment information field (§7.4.1): w, h, x, y, combine
    operator."""
    w = _be(b, off, 4)
    h = _be(b, off + 4, 4)
    x = _be(b, off + 8, 4)
    y = _be(b, off + 12, 4)
    op = _be(b, off + 16, 1) & 0x07
    return w, h, x, y, op, off + 17


_GENERIC_TYPES = {36, 38, 39}      # intermediate / immediate / lossless
_TEXT_TYPES = {6, 7}               # immediate / immediate lossless
_SKIP_TYPES = {49, 50, 51, 62}     # end-of-page/stripe/file, extension


def _gather_symbols(refs: list[int], sym_dicts: dict) -> list:
    """Input symbol list for a text region or dependent dictionary:
    the exported symbols of each referred symbol dictionary, in
    referred order (§6.4.4 / §6.5.8.2.3)."""
    syms: list[np.ndarray] = []
    for r in refs:
        syms.extend(sym_dicts.get(r, ()))
    return syms


def decode_jbig2(data: bytes, globals_data: bytes = b"") -> np.ndarray:
    """Embedded-format JBIG2 (optional globals stream prepended) ->
    (h, w) float array, black=0.0 / white=255.0 (the _ccitt/_jpeg
    convention).  Raises ValueError for malformed input and for segment
    types outside the generic/symbol/text profile."""
    stream = bytes(globals_data) + bytes(data)
    off = 0
    page_w = page_h = None
    regions: list[tuple[int, int, np.ndarray, int]] = []
    sym_dicts: dict[int, list[np.ndarray]] = {}
    guard = 0
    while off < len(stream):
        guard += 1
        if guard > 1 << 12:
            raise ValueError("segment loop guard")
        num, seg_type, refs, _page, length, doff = \
            _parse_segment_header(stream, off)
        body = stream[doff:doff + length]
        if seg_type == 48:                     # page information
            page_w = _be(body, 0, 4)
            page_h = _be(body, 4, 4)
            if page_h == 0xFFFFFFFF:
                page_h = None                  # striped: size from regions
        elif seg_type == 0:                    # symbol dictionary
            sym_dicts[num] = decode_symbol_dict(
                body, _gather_symbols(refs, sym_dicts))
        elif seg_type in _TEXT_TYPES:
            regions.append(decode_text_region(
                body, _gather_symbols(refs, sym_dicts)))
        elif seg_type == 4:
            raise ValueError("intermediate text region unsupported")
        elif seg_type in _GENERIC_TYPES:
            w, h, x, y, op, roff = _region_info(body, 0)
            # same bounds for BOTH coders (the MMR path must not bypass
            # the area guard decode_generic applies)
            if not (0 < w <= 1 << 14 and 0 < h <= 1 << 14) \
                    or w * h > 1 << 26:
                raise ValueError("bad generic region dimensions")
            gflags = _be(body, roff, 1)
            mmr = gflags & 1
            template = (gflags >> 1) & 3
            tpgdon = bool(gflags & 8)
            roff += 1
            if mmr:
                from ._ccitt import decode_g4

                px = decode_g4(body[roff:], w, rows=h)
                bm = (px < 128).astype(np.uint8)
            else:
                n_at = len(_NOMINAL_AT.get(template, ()))
                if not n_at:
                    raise ValueError(
                        f"GBTEMPLATE {template} unsupported")
                at = []
                for i in range(n_at):
                    ax = _be(body, roff + 2 * i, 1)
                    ay = _be(body, roff + 2 * i + 1, 1)
                    # signed bytes
                    at.append((ax - 256 if ax > 127 else ax,
                               ay - 256 if ay > 127 else ay))
                roff += 2 * n_at
                bm = decode_generic(body[roff:], w, h, template, at,
                                    tpgdon)
            regions.append((x, y, bm, op))
        elif seg_type in _SKIP_TYPES:
            pass
        else:
            raise ValueError(f"JBIG2 segment type {seg_type} unsupported")
        off = doff + length
    if not regions:
        raise ValueError("no decodable JBIG2 region")
    if page_w is None or page_h is None:
        page_w = max(x + bm.shape[1] for x, _y, bm, _o in regions)
        page_h = max(y + bm.shape[0] for _x, y, bm, _o in regions)
    if not (0 < page_w <= 1 << 14 and 0 < page_h <= 1 << 14):
        raise ValueError("bad page dimensions")
    canvas = np.zeros((page_h, page_w), dtype=np.uint8)
    for x, y, bm, op in regions:
        h, w = bm.shape
        if y + h > page_h or x + w > page_w:
            raise ValueError("region outside page")
        tgt = canvas[y:y + h, x:x + w]
        if op == 0:                          # OR (the default)
            tgt |= bm
        elif op == 1:                        # AND
            tgt &= bm
        elif op == 2:                        # XOR
            tgt ^= bm
        elif op == 3:                        # XNOR
            tgt[...] = 1 - (tgt ^ bm)
        elif op == 4:                        # REPLACE
            tgt[...] = bm
        else:
            raise ValueError(f"combine operator {op} invalid")
    return np.where(canvas, 0.0, 255.0)
