"""Pure-Python/numpy JPEG (DCT) decoder — luminance plane only.

The sandbox has no image codecs, yet DCTDecode is the dominant embedded-
image format in real PDFs (the reference's raster path is image-shaped:
v10.R:26 pdf_convert, v10.R:131-152 per-box OCR over pixels).  This module
closes the ``feature_kind='stub'`` gap in the multimodal operator by
really decoding baseline sequential AND progressive JPEG
(ITU-T T.81 / ISO 10918-1):

* markers: SOI, APPn/COM, DQT (8/16-bit), DHT, SOF0/SOF1/SOF2, DRI,
  SOS (multiple for progressive), EOI
* entropy decode: canonical Huffman (T.81 F.2.2.3 MINCODE/MAXCODE walk),
  byte unstuffing (FF 00) and restart-marker segmentation (RST0-7)
* baseline (SOF0/SOF1): per block, DC prediction + AC run-length,
  dequantize, de-zigzag, orthonormal 8x8 IDCT as two numpy matmuls,
  level shift, clamp — single-pass, no coefficient storage
* progressive (SOF2, T.81 Annex G): multi-scan coefficient accumulation —
  DC first/refinement (successive approximation via two's-complement
  bit insertion), AC first/refinement per spectral band with EOB-run
  decoding (G.1.2.2-G.1.2.3); chroma AC scans are skipped outright (the
  gray output never needs them — each non-interleaved scan owns its
  entropy segment); batched IDCT over all luminance blocks at EOI
* output: the LUMINANCE (first-component) plane as a (h, w) float array —
  exactly what the gray-histogram feature and OCR stand-ins consume.
  Chroma blocks are entropy-decoded where the bit stream interleaves
  them (baseline MCUs, progressive DC scans) but never IDCT'd.

Out of scope -> ``ValueError`` (callers fall back to the digest stub):
arithmetic coding (SOF9+), hierarchical, lossless, 12-bit precision.
Every parse error is ValueError — the hostile-input contract of the
binary source depends on that totality.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag order: index i of the scan -> position in the 8x8 block
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal DCT-II basis: D[k, n] = c(k) cos(pi (2n+1) k / 16)
_DCT = np.array([
    [(1 / 8) ** 0.5 if k == 0 else (2 / 8) ** 0.5 for _ in range(8)]
    for k in range(8)
]) * np.cos(
    np.pi * np.outer(np.arange(8), 2 * np.arange(8) + 1) / 16
)


def _idct2(block: np.ndarray) -> np.ndarray:
    return _DCT.T @ block @ _DCT


class _Huff:
    """Canonical Huffman table (T.81 F.2.2.3): per-length MINCODE /
    MAXCODE / VALPTR arrays; decode walks one bit per length."""

    __slots__ = ("mincode", "maxcode", "valptr", "values")

    def __init__(self, counts: bytes, values: bytes):
        if len(counts) != 16 or sum(counts) != len(values):
            raise ValueError("bad DHT counts")
        self.values = values
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for ln in range(1, 17):
            n = counts[ln - 1]
            self.valptr[ln] = k
            self.mincode[ln] = code
            self.maxcode[ln] = code + n - 1 if n else -1
            code = (code + n) << 1
            k += n


class _Bits:
    """MSB-first bit reader over an unstuffed entropy segment."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("entropy stream exhausted")
        v = 0
        d = self.data
        for i in range(n):
            q = p + i
            v = (v << 1) | ((d[q >> 3] >> (7 - (q & 7))) & 1)
        self.pos = p + n
        return v

    def huff(self, t: _Huff) -> int:
        code, p, d = 0, self.pos, self.data
        for ln in range(1, 17):
            if p >= self.nbits:
                raise ValueError("entropy stream exhausted")
            code = (code << 1) | ((d[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
            if t.maxcode[ln] >= code >= t.mincode[ln]:
                self.pos = p
                return t.values[t.valptr[ln] + code - t.mincode[ln]]
        raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.12: map an s-bit magnitude to the signed coefficient."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _segments(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded bytes from ``start``: unstuff FF 00, split at RSTn,
    stop at any other marker.  Returns the restart-delimited segments and
    the index of the terminating marker (== len(data) if none) so a
    multi-scan caller can continue the marker walk."""
    segs, cur = [], bytearray()
    i, n = start, len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            i = n
            break
        m = data[i + 1]
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn: new segment, DC predictors reset
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        elif m == 0xFF:  # fill byte
            i += 1
        else:  # EOI or next real marker
            break
    segs.append(bytes(cur))
    return segs, i


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Baseline or progressive JPEG -> (h, w) float64 luminance plane
    (0-255).

    Raises ValueError on anything outside Huffman 8-bit baseline /
    extended-sequential / progressive (arithmetic, lossless, truncated,
    hostile bytes)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    frame = None          # (w, h, comps); comps = [(cid, hi, vi, tq)]
    progressive = False
    coef = None           # progressive: luminance coefficients, zigzag order
    n_scans = 0
    restart = 0
    i, n = 2, len(data)
    while i + 2 <= n:
        if data[i] != 0xFF:
            raise ValueError("marker desync")
        m = data[i + 1]
        if m in (0x01,) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI: progressive decode ends here
            break
        if i + 4 > n:
            raise ValueError("truncated segment header")
        ln = struct.unpack(">H", data[i + 2:i + 4])[0]
        if ln < 2 or i + 2 + ln > n:
            raise ValueError("truncated segment")
        seg = data[i + 4:i + 2 + ln]
        if m == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                if pq not in (0, 1) or tq > 3:
                    raise ValueError("bad DQT")
                sz = 128 if pq else 64
                raw = seg[j + 1:j + 1 + sz]
                if len(raw) < sz:
                    raise ValueError("truncated DQT")
                vals = (np.frombuffer(raw, ">u2").astype(np.float64)
                        if pq else
                        np.frombuffer(raw, np.uint8).astype(np.float64))
                tbl = np.zeros(64)
                tbl[_ZIGZAG] = vals
                qt[tq] = tbl.reshape(8, 8)
                j += 1 + sz
        elif m == 0xC4:  # DHT
            j = 0
            while j + 17 <= len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                counts = seg[j + 1:j + 17]
                nv = sum(counts)
                values = seg[j + 17:j + 17 + nv]
                t = _Huff(counts, values)
                (huff_ac if tc else huff_dc)[th] = t
                j += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2
            if len(seg) < 6:
                raise ValueError("truncated SOF")
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError("non-8-bit precision")
            if w <= 0 or h <= 0 or nc == 0 or len(seg) < 6 + 3 * nc:
                raise ValueError("bad SOF")
            if w * h > 64 << 20:
                raise ValueError("image too large")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                hi, vi = hv >> 4, hv & 15
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError("bad sampling factors")
                comps.append((cid, hi, vi, tq))
            frame = (w, h, comps)
            progressive = m == 0xC2
            if progressive:
                # coefficient store for the whole frame: the resource
                # ceiling is tighter than baseline's because progressive
                # must buffer every luminance coefficient (int64: DC
                # predictors accumulate hostile diffs past int32)
                if w * h > 1 << 24:
                    raise ValueError("progressive image too large")
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                bvy = -(-h // (8 * vmax)) * comps[0][2]
                bvx = -(-w // (8 * hmax)) * comps[0][1]
                coef = np.zeros((bvy, bvx, 64), dtype=np.int64)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG (arithmetic/lossless)")
        elif m == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated DRI")
            restart = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns:
                raise ValueError("truncated SOS")
            scan = {}
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scan[cs] = (tt >> 4, tt & 15)
            if not progressive:
                return _decode_scan(data, i + 2 + ln, frame, scan, qt,
                                    huff_dc, huff_ac, restart)
            if len(seg) < 4 + 2 * ns:
                raise ValueError("truncated SOS")
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            n_scans += 1
            if n_scans > 256:
                raise ValueError("too many progressive scans")
            i = _decode_prog_scan(data, i + 2 + ln, frame, scan,
                                  (ss, se, ahal >> 4, ahal & 15),
                                  coef, huff_dc, huff_ac, restart)
            continue
        i += 2 + ln
    if progressive and n_scans:
        return _finish_progressive(frame, coef, qt)
    raise ValueError("no SOS marker")


def _decode_scan(data, start, frame, scan, qt, huff_dc, huff_ac, restart):
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    # per-component state; only component 0 (luminance) keeps pixels
    plane_w, plane_h = mcx * 8 * comps[0][1], mcy * 8 * comps[0][2]
    plane = np.zeros((plane_h, plane_w))
    order = []
    for idx, (cid, hi, vi, tq) in enumerate(comps):
        if cid not in scan:
            raise ValueError("scan is missing a frame component")
        td, ta = scan[cid]
        if td not in huff_dc or ta not in huff_ac or tq not in qt:
            raise ValueError("scan references an undefined table")
        order.append((idx, hi, vi, qt[tq], huff_dc[td], huff_ac[ta]))

    segs, _ = _segments(data, start)
    total = mcx * mcy
    per_seg = restart if restart else total
    mcu = 0
    for seg in segs:
        if mcu >= total:
            break
        bits = _Bits(seg)
        preds = [0] * len(comps)
        seg_end = min(total, mcu + per_seg)
        while mcu < seg_end:
            my, mx = divmod(mcu, mcx)
            for idx, hi, vi, q, tdc, tac in order:
                for by in range(vi):
                    for bx in range(hi):
                        coef = np.zeros(64)
                        s = bits.huff(tdc)
                        if s > 11:
                            raise ValueError("bad DC magnitude")
                        preds[idx] += _extend(bits.read(s), s) if s else 0
                        coef[0] = preds[idx]
                        k = 1
                        while k < 64:
                            rs = bits.huff(tac)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            coef[k] = _extend(bits.read(s), s)
                            k += 1
                        if idx == 0:  # luminance only: IDCT + place
                            blk = np.zeros(64)
                            blk[_ZIGZAG] = coef
                            px = _idct2(blk.reshape(8, 8) * q) + 128.0
                            y0 = (my * vi + by) * 8
                            x0 = (mx * hi + bx) * 8
                            plane[y0:y0 + 8, x0:x0 + 8] = px
            mcu += 1
    if mcu < total:
        raise ValueError("truncated entropy data")
    # luminance plane -> image resolution (nearest-neighbor when Y is
    # subsampled relative to hmax/vmax — rare but legal)
    sx, sy = hmax // comps[0][1], vmax // comps[0][2]
    if sx > 1 or sy > 1:
        plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)
    return np.clip(plane[:h, :w], 0.0, 255.0)


# --- progressive (SOF2, T.81 Annex G) --------------------------------------


def _ac_first_block(bits, block, tac, ss, se, al, eobrun):
    """AC initial scan for one block (T.81 G.1.2.2): run-length coded
    magnitudes scaled by 2^Al, plus EOB-run codes spanning whole blocks.
    Returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = bits.huff(tac)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1  # current block is one of the run
                if r:
                    eobrun += bits.read(r)
                return eobrun
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC index overflow")
        block[k] = _extend(bits.read(s), s) << al
        k += 1
    return 0


def _ac_refine_block(bits, block, tac, ss, se, p1, m1, eobrun):
    """AC refinement scan for one block (T.81 G.1.2.3): newly-significant
    coefficients arrive as ±2^Al after a run of zero-HISTORY positions;
    every nonzero-history position traversed contributes one correction
    bit.  EOB-run blocks still carry correction bits for their nonzero
    coefficients.  Returns the remaining EOB run."""
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = bits.huff(tac)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("bad AC refinement magnitude")
                newval = p1 if bits.read(1) else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += bits.read(r)
                break  # correction bits of the remainder handled below
            # advance past r zero-history positions (16 for ZRL), reading
            # a correction bit at each nonzero-history position passed
            while k <= se:
                v = int(block[k])
                if v != 0:
                    if bits.read(1) and not (v & p1):
                        block[k] = v + (p1 if v >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                block[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # remainder of this block: correction bits only
            v = int(block[k])
            if v != 0:
                if bits.read(1) and not (v & p1):
                    block[k] = v + (p1 if v >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(data, start, frame, scan, prog, coef,
                      huff_dc, huff_ac, restart):
    """One progressive scan; mutates ``coef`` (luminance, zigzag order)
    and returns the data index just past the scan's entropy bytes.

    Chroma-only scans are skipped without decoding (every progressive
    scan owns its entropy segment, and AC scans are single-component by
    T.81 G.1.1 — the gray output never needs chroma AC).  Interleaved DC
    scans entropy-decode chroma blocks to keep bit alignment but discard
    everything except the predictors."""
    w, h, comps = frame
    ss, se, ah, al = prog
    if not (0 <= ss <= se <= 63) or al > 13 or ah > 13:
        raise ValueError("bad progressive scan header")
    dc_scan = ss == 0
    if dc_scan and se != 0:
        raise ValueError("bad progressive scan header")
    if not dc_scan and len(scan) != 1:
        raise ValueError("interleaved AC scan in progressive")
    first = ah == 0

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    cids = [c[0] for c in comps]
    order = []
    for cs, (td, ta) in scan.items():
        if cs not in cids:
            raise ValueError("scan references an unknown component")
        idx = cids.index(cs)
        if dc_scan and first and td not in huff_dc:
            raise ValueError("scan references an undefined table")
        if not dc_scan and ta not in huff_ac:
            raise ValueError("scan references an undefined table")
        order.append((idx, td, ta))

    segs, end = _segments(data, start)
    if all(idx != 0 for idx, _, _ in order):
        return end  # chroma-only scan: gray output never needs it

    interleaved = len(order) > 1
    if interleaved:
        total = mcx * mcy
    else:
        # non-interleaved: data units are the component's own blocks
        idx0, _, _ = order[0]
        _, hi, vi, _ = comps[idx0]
        cw = -(-(w * hi) // hmax)   # component width (T.81 A.1.1)
        ch = -(-(h * vi) // vmax)
        bw, bh = -(-cw // 8), -(-ch // 8)
        total = bw * bh
    p1, m1 = 1 << al, -(1 << al)
    per_seg = restart if restart else total
    u = 0
    for seg in segs:
        if u >= total:
            break
        bits = _Bits(seg)
        preds = [0] * len(comps)
        eobrun = 0
        seg_end = min(total, u + per_seg)
        while u < seg_end:
            if dc_scan:
                if interleaved:
                    my, mx = divmod(u, mcx)
                    units = [(idx, td, (my * vi + by, mx * hi + bx))
                             for idx, td, _ in order
                             for _, hi, vi, _ in (comps[idx],)
                             for by in range(vi) for bx in range(hi)]
                else:
                    units = [(order[0][0], order[0][1], divmod(u, bw))]
                for idx, td, (ry, rx) in units:
                    if first:
                        s = bits.huff(huff_dc[td])
                        if s > 15:
                            raise ValueError("bad DC magnitude")
                        preds[idx] += _extend(bits.read(s), s) if s else 0
                        if idx == 0:
                            coef[ry, rx, 0] = preds[idx] << al
                    else:
                        bit = bits.read(1)
                        if bit and idx == 0:
                            coef[ry, rx, 0] |= p1
            else:
                ry, rx = divmod(u, bw)
                block = coef[ry, rx]
                tac = huff_ac[order[0][2]]
                eobrun = (
                    _ac_first_block(bits, block, tac, ss, se, al, eobrun)
                    if first else
                    _ac_refine_block(bits, block, tac, ss, se, p1, m1,
                                     eobrun))
            u += 1
    if u < total:
        raise ValueError("truncated entropy data")
    return end


def _finish_progressive(frame, coef, qt):
    """Dequantize + batched IDCT of the accumulated luminance
    coefficients -> (h, w) float64 plane."""
    w, h, comps = frame
    tq = comps[0][3]
    if tq not in qt:
        raise ValueError("scan references an undefined table")
    q = qt[tq]
    bvy, bvx, _ = coef.shape
    nat = np.zeros((bvy, bvx, 64))
    nat[:, :, _ZIGZAG] = coef.astype(np.float64)
    px = _DCT.T @ (nat.reshape(bvy, bvx, 8, 8) * q) @ _DCT + 128.0
    plane = px.transpose(0, 2, 1, 3).reshape(bvy * 8, bvx * 8)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    sx, sy = hmax // comps[0][1], vmax // comps[0][2]
    if sx > 1 or sy > 1:
        plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)
    return np.clip(plane[:h, :w], 0.0, 255.0)
