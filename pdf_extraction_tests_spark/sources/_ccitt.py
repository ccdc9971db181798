"""Pure-Python CCITT Group 4 (ITU-T T.6, MMR) decoder.

Scanned PDFs carry their page images overwhelmingly as /CCITTFaxDecode
streams with ``/K -1`` (pure two-dimensional G4) — the reference's whole
domain is scanned academic PDFs (rasterize -> layout -> OCR,
v10.R:26,39-44,131-152).  This module decodes G4 to a pixel plane.  The
PDF text path does not call it: a fax-coded image XObject is one media
span there, never decoded.

Implementation is written directly from the spec structure:

* per-line coding relative to the reference line: vertical modes
  V(0)/VR(1-3)/VL(1-3), pass mode, horizontal mode (two modified-Huffman
  run lengths, T.4 white/black tables + shared extended makeups)
* initial reference line all-white; a0 starts one pixel left of the line
* EOFB terminates; /Rows (when given) also terminates

The T.4 code tables are transcribed constants.  Safeguards against
transcription slips: ``tests/test_ccitt.py`` asserts each table is
prefix-free with the exact expected cardinality, pins well-known
codewords, and round-trips pixels through an independent test-side G4
encoder.  Anything malformed raises ValueError (totality: the binary
source's hostile-input contract).

Round-5 extension: Group 3 (ITU-T T.4) — ``/K 0`` pure one-dimensional
MH lines and ``/K > 0`` mixed mode (EOL + tag bit selecting 1-D or 2-D
per line, 2-D lines coded exactly as G4 against the previous line) —
plus ``/EncodedByteAlign`` for both groups.  EOLs (>= 11 zero fill bits
then 1) are consumed leniently wherever an encoder may emit them; two
back-to-back EOLs (the RTC prefix) terminate the image.

Out of scope -> ValueError: uncompressed mode (T.4 §4.2.1.3.5 extension).
"""

from __future__ import annotations

import numpy as np

# T.4 modified-Huffman run-length codes: {run: bitstring}
WHITE_CODES: dict[int, str] = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    # makeup codes
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

BLACK_CODES: dict[int, str] = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
    # makeup codes
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# extended makeups (T.4 table 3), shared by both colors
EXT_CODES: dict[int, str] = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

# G4 two-dimensional mode codes (T.6 table 1)
MODE_V0 = "1"
MODE_VR = {1: "011", 2: "000011", 3: "0000011"}
MODE_VL = {1: "010", 2: "000010", 3: "0000010"}
MODE_H = "001"
MODE_PASS = "0001"
EOFB = "000000000001" * 2


def _decode_map(codes: dict[int, str]) -> dict[str, int]:
    return {bits: run for run, bits in codes.items()}

_WHITE_DEC = {**_decode_map(WHITE_CODES), **_decode_map(EXT_CODES)}
_BLACK_DEC = {**_decode_map(BLACK_CODES), **_decode_map(EXT_CODES)}
_MAX_CODE_LEN = 13


class _Bits:
    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.n = len(data) * 8

    def peek(self, k: int) -> str:
        out = []
        d, p = self.data, self.pos
        for i in range(min(k, self.n - p)):
            q = p + i
            out.append("1" if (d[q >> 3] >> (7 - (q & 7))) & 1 else "0")
        return "".join(out)

    def skip(self, k: int) -> None:
        self.pos += k

    def zeros_ahead(self) -> int:
        """Count consecutive 0-bits from the current position (O(bytes),
        not O(bits²) — T.4 fill runs are unbounded)."""
        d, p, n = self.data, self.pos, self.n
        count = 0
        while p + count < n:
            q = p + count
            byte = d[q >> 3]
            if byte == 0 and (q & 7) == 0 and q + 8 <= n:
                count += 8
                continue
            if (byte >> (7 - (q & 7))) & 1:
                return count
            count += 1
        return count


def _read_run(bits: _Bits, white: bool) -> int:
    """One complete MH run length: makeup codes accumulate until a
    terminating (<64) code lands."""
    table = _WHITE_DEC if white else _BLACK_DEC
    total = 0
    while True:
        window = bits.peek(_MAX_CODE_LEN)
        for ln in range(2, _MAX_CODE_LEN + 1):
            run = table.get(window[:ln])
            if run is not None:
                bits.skip(ln)
                break
        else:
            raise ValueError("invalid MH run code")
        total += run
        if run < 64:
            return total


def _decode_2d_line(bits: _Bits, ref: list[int],
                    columns: int) -> list[int]:
    """One two-dimensionally-coded line (T.6 / T.4 2-D are identical at
    line level) against reference changing-elements ``ref`` -> this
    line's changing elements."""
    cur: list[int] = []   # this line's changing elements
    a0, color = -1, 0     # color 0 = white
    while a0 < columns:
            # b1: first ref change > a0 with color OPPOSITE the a0 color
            # (ref elements alternate starting white->black at ref[0])
            i = 0
            while ref[i] <= a0 or (i & 1) != color:
                i += 1
            b1 = ref[i]
            b2 = ref[i + 1] if b1 < columns else columns
            w = bits.peek(7)
            if w[:1] == MODE_V0:
                bits.skip(1)
                a1 = b1
            elif w[:3] == MODE_VR[1]:
                bits.skip(3)
                a1 = b1 + 1
            elif w[:3] == MODE_VL[1]:
                bits.skip(3)
                a1 = b1 - 1
            elif w[:3] == MODE_H:
                bits.skip(3)
                start = max(a0, 0)
                r1 = _read_run(bits, white=color == 0)
                r2 = _read_run(bits, white=color != 0)
                a1 = start + r1
                a2 = a1 + r2
                if a2 > columns or a1 < 0:
                    raise ValueError("horizontal runs overflow line")
                cur.append(min(a1, columns))
                cur.append(min(a2, columns))
                a0 = a2
                continue  # color unchanged: two runs consumed
            elif w[:4] == MODE_PASS:
                bits.skip(4)
                a0 = max(b2, 0)
                continue  # no changing element emitted; color unchanged
            elif w[:6] == MODE_VR[2]:
                bits.skip(6)
                a1 = b1 + 2
            elif w[:6] == MODE_VL[2]:
                bits.skip(6)
                a1 = b1 - 2
            elif w[:7] == MODE_VR[3]:
                bits.skip(7)
                a1 = b1 + 3
            elif w[:7] == MODE_VL[3]:
                bits.skip(7)
                a1 = b1 - 3
            else:
                raise ValueError("invalid G4 mode code")
            if a1 <= a0 and a0 >= 0:
                raise ValueError("non-advancing changing element")
            if not -1 <= a1 <= columns:
                raise ValueError("changing element out of bounds")
            cur.append(min(max(a1, 0), columns))
            a0 = a1
            color ^= 1
    return cur


def _materialize(cur: list[int], columns: int) -> np.ndarray:
    """Changing elements -> pixel line (changes alternate white->black)."""
    line = np.full(columns, 255.0)
    pos, col = 0, 0
    for c in cur:
        if col == 1:
            line[pos:c] = 0.0
        pos, col = c, col ^ 1
    if col == 1:
        line[pos:columns] = 0.0
    return line


def decode_g4(data: bytes, columns: int, rows: int | None = None,
              max_rows: int = 1 << 16,
              byte_align: bool = False) -> np.ndarray:
    """G4 (T.6 MMR) entropy stream -> (h, columns) float array with black=0,
    white=255.  Stops at EOFB, stream exhaustion, or ``rows``.
    ``byte_align``: /EncodedByteAlign — each coded line starts on a byte
    boundary.  Raises ValueError on malformed input (including a hostile
    /Columns x rows product that would exhaust memory)."""
    if not 0 < columns <= 1 << 16:
        raise ValueError("bad /Columns")
    max_rows = min(max_rows, (1 << 26) // columns)  # bound total pixels
    if rows is not None and rows > max_rows:
        raise ValueError("image too large")
    bits = _Bits(data)
    # reference line as CHANGING ELEMENTS: column positions where color
    # flips, terminated by two sentinels at `columns`
    ref = [columns, columns]
    out: list[np.ndarray] = []
    while rows is None or len(out) < rows:
        if len(out) > max_rows:
            raise ValueError("row limit exceeded")
        if byte_align and bits.pos % 8:
            bits.skip(8 - bits.pos % 8)
        if bits.peek(24) == EOFB:
            bits.skip(24)
            break
        if bits.pos >= bits.n:
            if rows is not None:
                raise ValueError("truncated G4 data")
            break
        cur = _decode_2d_line(bits, ref, columns)
        out.append(_materialize(cur, columns))
        ref = [*cur, columns, columns]
    if rows is not None and len(out) < rows:
        raise ValueError("truncated G4 data")
    if not out:
        raise ValueError("empty G4 image")
    return np.stack(out)


# ---------------------------------------------------------------------------
# Group 3 (ITU-T T.4): /K 0 pure 1-D MH; /K > 0 mixed (EOL + tag bit
# selects the coding of each line).  EOL = >= 11 zeros then a 1; RTC
# (two+ consecutive EOLs here) ends the image.
# ---------------------------------------------------------------------------

_EOL = "000000000001"


def _try_eol(bits: _Bits) -> bool:
    """Consume one fill+EOL sequence if (and only if) it is next.

    T.4 fill before an EOL is UNBOUNDED zeros, so the zero run is scanned
    to its actual end (round-5 advice: a fixed 64-bit peek mis-read an
    EOL behind >63 fill bits as trailing fill)."""
    zeros = bits.zeros_ahead()
    if bits.pos + zeros >= bits.n:
        # all zeros to exhaustion: swallow as trailing fill
        bits.skip(zeros)
        return False
    if zeros >= 11:
        bits.skip(zeros + 1)
        return True
    return False


def _decode_1d_line(bits: _Bits, columns: int) -> list[int]:
    """One T.4 one-dimensionally-coded line -> changing elements.
    Runs alternate white/black starting white (a zero-length first white
    run codes a line that starts black)."""
    cur: list[int] = []
    pos, color = 0, 0
    while pos < columns:
        if len(cur) > 2 * columns + 4:
            raise ValueError("non-advancing 1-D runs")
        run = _read_run(bits, white=color == 0)
        pos += run
        if pos > columns:
            raise ValueError("1-D run overflows line")
        cur.append(pos)
        color ^= 1
    return cur


def decode_g3(data: bytes, columns: int, rows: int | None = None,
              k: int = 0, max_rows: int = 1 << 16,
              byte_align: bool = False) -> np.ndarray:
    """G3 (T.4) entropy stream -> (h, columns) float array, black=0,
    white=255.  ``k`` is the /K value: 0 = pure 1-D, > 0 = mixed
    (a tag bit after each EOL picks 1-D or 2-D for the line).  Leading
    EOL optional (PDF encoders commonly omit the first); two consecutive
    EOLs terminate.  Raises ValueError on malformed input (including a
    hostile /Columns x rows product that would exhaust memory)."""
    if not 0 < columns <= 1 << 16:
        raise ValueError("bad /Columns")
    max_rows = min(max_rows, (1 << 26) // columns)  # bound total pixels
    if rows is not None and rows > max_rows:
        raise ValueError("image too large")
    if k < 0:
        raise ValueError("decode_g3 requires /K >= 0")
    bits = _Bits(data)
    ref = [columns, columns]
    out: list[np.ndarray] = []
    while rows is None or len(out) < rows:
        if len(out) > max_rows:
            raise ValueError("row limit exceeded")
        if byte_align and bits.pos % 8:
            bits.skip(8 - bits.pos % 8)
        saw_eol = _try_eol(bits)
        two_d = False
        if k > 0 and saw_eol:
            tag = bits.peek(1)
            if not tag:
                if rows is not None:
                    raise ValueError("truncated G3 data")
                break
            bits.skip(1)
            two_d = tag == "0"
        elif k > 0 and not saw_eol and out:
            # mixed mode requires an EOL+tag between lines
            raise ValueError("missing EOL in mixed-mode G3")
        # RTC: a second EOL straight after (for k>0, after the tag bit —
        # no valid line starts with >= 11 zeros, so this is unambiguous)
        if saw_eol and _try_eol(bits):
            break
        if bits.pos >= bits.n:
            if rows is not None:
                raise ValueError("truncated G3 data")
            break
        cur = (_decode_2d_line(bits, ref, columns) if two_d
               else _decode_1d_line(bits, columns))
        out.append(_materialize(cur, columns))
        ref = [*cur, columns, columns]
    if rows is not None and len(out) < rows:
        raise ValueError("truncated G3 data")
    if not out:
        raise ValueError("empty G3 image")
    return np.stack(out)
