"""Minimal pure-Python PDF text decoder (no external libs; stdlib zlib).

Replaces the round-1 ``parse_pdf_bytes`` NotImplementedError stub for the
decodable subset of real PDFs: files whose page content streams are plain
or FlateDecode-compressed and whose text is drawn with the standard text
operators (BT/ET, Tf, Td/TD/Tm/T*, Tj/TJ/'/") using simple single-byte
fonts.  This is the digitally-born-PDF case; the reference's full stack
(rasterize -> DocLayout-YOLO -> tesseract,
Document_Processor_DocLayout_YOLO_Code_v10.R:26, 39-44, 131-152) is only
*required* for scanned/image PDFs, which still raise
:class:`UnsupportedPdfError` here and surface as parse-failure spans.

What it extracts, per page:
* one text block per BT..ET group — position from the text matrix
  (PDF bottom-left origin converted to the engine's top-left y), width/
  height estimated from font size and shown glyph count, element_type
  'title' for display-size text (>= 14pt) else 'plain text';
* one media placeholder per XObject ``Do`` invocation
  (``media_ref='pdf:xobj:<name>'``) at its reading position.  The
  XObject itself is never resolved: the placeholder carries no pixels and
  no dimensions, since the span carries only kind, text, ref and order.

Out of scope (raise UnsupportedPdfError -> fault-isolated upstream):
genuinely password-protected files and image-codec filters
(DCT/JPX/CCITT/JBIG2 — pixels, not text).  IN scope beyond the basics:
standard-security encryption with an empty user password across ALL
standard revisions — RC4 (/V 1|2, /R 2|3), AES-128 (/V 4 /AESV2, /R 4),
AES-256 (/V 5 /AESV3, /R 5|6 — Algorithm 2.B hash + /UE key unwrap);
FIPS-197-pinned core in :mod:`._aes` (:func:`_encryption`, the
"encrypted but readable by anyone" files); object streams (``/ObjStm``, PDF
1.5+ — :func:`_expand_objstm`), the text-capable stream filters (Flate,
LZW, ASCIIHex, ASCII85, RunLength, chains, PNG predictors —
:func:`_decode_filters`), xref-first object resolution from classic
tables or 1.5 xref streams with validated fallback to the whole-file
scan (:func:`_objects_via_xref`), and CID/Type0 composite-font text via
the embedded /ToUnicode CMap (:func:`_parse_tounicode`,
:func:`_text_of_bytes` — unmapped codes fall back to their code point).
"""

from __future__ import annotations

import re
import zlib


class UnsupportedPdfError(Exception):
    """PDF feature outside the minimal decoder's scope."""


_OBJ_HEADER_RE = re.compile(rb"(?:^|[\r\n>\s])(\d+)\s+(\d+)\s+obj\b")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_STREAM_RE = re.compile(rb"^(.*?)stream\r?\n(.*)$", re.DOTALL)
_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_CONTENTS_REF_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]"
)

# content-stream tokens: strings, hex strings, arrays, numbers, names, ops
_TOKEN_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)"      # literal string (no nested unescaped parens)
    rb"|<[0-9A-Fa-f\s]*>"          # hex string
    rb"|\[|\]"
    rb"|/[^\s/\[\]()<>{}]*"        # name
    rb"|[-+]?\d*\.?\d+"            # number
    rb"|[A-Za-z'\"*]+",            # operator
)

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _literal_bytes(tok: bytes) -> bytes:
    """PDF literal string ``(...)`` -> raw shown bytes (escapes applied)."""
    body = tok[1:-1]
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i:i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1:i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt in b"01234567" and nxt != b"":  # octal escape, 1-3 digits
                # ONLY 0-7: b"\\8".isdigit() is True but int(_, 8) raises —
                # spec says \8 is an unknown escape (drop the backslash)
                j = i + 1
                while (j < min(i + 4, len(body))
                       and body[j:j + 1] in b"01234567"
                       and body[j:j + 1] != b""):
                    j += 1
                out.append(int(body[i + 1:j], 8) & 0xFF)
                i = j
                continue
            if nxt in (b"\r", b"\n"):
                # backslash-EOL line continuation: BOTH bytes are dropped
                # (ISO 32000-1 s7.3.4.2); CRLF after the backslash counts
                # as one EOL, so skip a LF that follows a CR
                i += 2
                if nxt == b"\r" and body[i:i + 1] == b"\n":
                    i += 1
                continue
            # unknown escape: the spec ignores the REVERSE SOLIDUS and
            # keeps the character (ISO 32000-1 s7.3.4.2)
            out += nxt
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def _hex_bytes(tok: bytes) -> bytes:
    h = re.sub(rb"\s", b"", tok[1:-1])
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


_STREAM_KW_RE = re.compile(rb"stream\r?\n")
# a LITERAL /Length only (indirect '/Length 5 0 R' must not match).
# (?!\d) pins the group to the WHOLE number: without it the engine
# backtracks '/Length 12 0 R' to group '1' with lookahead satisfied,
# and the truncated 'length' defeats the phantom-header guard
_LENGTH_LIT_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")


_XREF_SEC_RE = re.compile(rb"(\d+)\s+(\d+)\s+")
_XREF_ENT_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])\s{0,2}")
_XREF_PREV_RE = re.compile(rb"/Prev\s+(\d+)")
_OBJ_AT_RE = re.compile(rb"\s{0,4}(\d+)\s+(\d+)\s+obj\b")


def _parse_xref_table(data: bytes, pos: int):
    """One classic xref table at ``pos`` -> (entries, prev_offset).

    entries maps objnum -> byte offset for in-use ('n') rows; ``prev`` is
    the trailer's /Prev (incremental updates) or None.  Returns
    (None, None) on any deviation from the strict spec layout — the
    caller falls back to the whole-file scan."""
    m = re.compile(rb"xref\s+").match(data, pos)
    if not m:
        return None, None
    i = m.end()
    entries: dict[int, int] = {}
    while True:
        if data.startswith(b"trailer", i):
            break
        sm = _XREF_SEC_RE.match(data, i)
        if not sm:
            return None, None
        start, count = int(sm.group(1)), int(sm.group(2))
        if count > 1_000_000:  # hostile: refuse absurd sections
            return None, None
        i = sm.end()
        for k in range(count):
            em = _XREF_ENT_RE.match(data, i)
            if not em:
                return None, None
            # offset-0 'n' rows are a common writer artifact for objects
            # that live inside an /ObjStm — treat as absent, not damage
            if em.group(3) == b"n" and int(em.group(1)) > 0:
                entries[start + k] = int(em.group(1))
            i = em.end()
    t_end = data.find(b">>", i)
    prev = None
    if t_end != -1:
        pm = _XREF_PREV_RE.search(data, i, t_end)
        if pm:
            prev = int(pm.group(1))
    return entries, prev


_XREF_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_XREF_INDEX_RE = re.compile(rb"/Index\s*\[([\d\s]*)\]")
_XREF_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_LENGTH_DIRECT_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")


def _parse_xref_stream(data: bytes, pos: int):
    """A PDF 1.5 cross-reference STREAM at ``pos`` -> (entries, prev).

    Entries map objnum -> offset for type-1 rows; type-0 (free) and
    type-2 (inside an /ObjStm — recovered later by ``_expand_objstm``)
    rows are skipped.  All dict entries of an xref stream are direct by
    spec (§7.5.8.2), so /Length parses literally and the stream slices
    exactly; filters + PNG predictors go through ``_decode_filters``.
    Returns (None, None) on any deviation."""
    hm = _OBJ_AT_RE.match(data, pos)
    if hm is None:
        return None, None
    s_kw = _STREAM_KW_RE.search(data, hm.end())
    if s_kw is None:
        return None, None
    head = data[hm.end():s_kw.start()]
    if b"/XRef" not in head:
        return None, None
    lm = _LENGTH_DIRECT_RE.search(head)
    wm = _XREF_W_RE.search(head)
    zm = _XREF_SIZE_RE.search(head)
    if not (lm and wm and zm):
        return None, None
    raw = data[s_kw.end():s_kw.end() + int(lm.group(1))]
    if b"/Filter" in head:
        payload = _decode_filters(head, raw)
    else:
        payload = raw
    a, b, c = (int(g) for g in wm.groups())
    roww = a + b + c
    if roww == 0 or b == 0:
        return None, None
    im = _XREF_INDEX_RE.search(head)
    if im:
        nums = [int(x) for x in im.group(1).split()]
        if len(nums) % 2:
            return None, None
        index = list(zip(nums[::2], nums[1::2]))
    else:
        index = [(0, int(zm.group(1)))]
    entries: dict[int, int] = {}
    p = 0
    for start, count in index:
        for k in range(count):
            if p + roww > len(payload):
                return None, None
            row = payload[p:p + roww]
            p += roww
            typ = int.from_bytes(row[:a], "big") if a else 1
            if typ == 1:
                off = int.from_bytes(row[a:a + b], "big")
                if off > 0:
                    entries[start + k] = off
    pm = _XREF_PREV_RE.search(head)
    return entries, (int(pm.group(1)) if pm else None)


def _objects_via_xref(data: bytes) -> dict[int, bytes] | None:
    """Object bodies resolved XREF-FIRST (round-3 verdict item 8).

    When the file ends in ``startxref`` -> a classic xref table OR a
    PDF 1.5 cross-reference stream (both chained through /Prev, newest
    entries winning), object offsets come from it — the whole-file header
    scan and its phantom-'N M obj' ambiguity classes never run.  Every
    in-use entry is validated: the bytes at its offset must be a matching
    'num gen obj' header, else the table is treated as damaged and this
    returns None (caller falls back to the scan)."""
    try:
        tail = data.rfind(b"startxref")
        if tail == -1:
            return None
        sm = re.compile(rb"startxref\s+(\d+)").match(data, tail)
        if not sm:
            return None
        pos = int(sm.group(1))
        chain: list[dict[int, int]] = []
        seen: set[int] = set()
        while pos not in seen and len(chain) < 16:
            seen.add(pos)
            if not 0 <= pos < len(data):
                return None
            entries, prev = _parse_xref_table(data, pos)
            if entries is None:
                entries, prev = _parse_xref_stream(data, pos)
            if entries is None:
                return None
            chain.append(entries)
            if prev is None:
                break
            pos = prev
        offsets: dict[int, int] = {}
        for entries in reversed(chain):  # oldest first, newest override
            offsets.update(entries)
        if not offsets:
            return None
        items = sorted((off, num) for num, off in offsets.items())
        bounds = sorted({off for off, _ in items} | {len(data)})
        # O(1) next-offset lookup (bounds.index per object was quadratic
        # on files with thousands of objects)
        next_of = dict(zip(bounds, bounds[1:]))
        out: dict[int, bytes] = {}
        for off, num in items:
            hm = _OBJ_AT_RE.match(data, off)
            if hm is None or int(hm.group(1)) != num:
                return None  # damaged table: offsets lie — use the scan
            body = data[hm.end():next_of[off]]
            t = body.rfind(b"endobj")
            if t >= 0:
                body = body[:t]
            out[num] = body
        return out
    except Exception:  # noqa: BLE001 — hostile bytes: totality contract
        return None


def _objects(data: bytes) -> dict[int, bytes]:
    """Object bodies keyed by object number.

    XREF-FIRST: when a classic xref table parses and validates, offsets
    come from it (:func:`_objects_via_xref`) and no header scan runs.
    Otherwise (no table, xref stream, damaged offsets) the whole-file
    scan below takes over.

    Scan path: bodies are bounded by the NEXT accepted object header (with
    the trailing 'endobj' trimmed), NOT by a non-greedy scan to the first
    'endobj' — binary stream data may legitimately contain the bytes
    'endobj', and truncating there would corrupt the stream (and
    `_stream_of`'s rfind('endstream') then resolves the real terminator
    even if the data contains a fake one).

    Phantom headers: compressed/image stream data can also contain bytes
    that LOOK like 'N M obj'.  A candidate header starting inside the
    previous accepted object's stream extent is skipped — the extent is
    exact when the dict carries a literal /Length, else bounded by the
    first 'endstream' after the stream keyword (round-2 review).  That
    guard is heuristic where /Length is indirect — exactly the ambiguity
    the xref-first path removes."""
    via_xref = _objects_via_xref(data)
    if via_xref is not None:
        return via_xref
    accepted: list[re.Match] = []
    guard = 0
    for m in _OBJ_HEADER_RE.finditer(data):
        if m.start() < guard:
            continue  # inside an accepted object's stream data: phantom
        accepted.append(m)
        e_obj = data.find(b"endobj", m.end())
        s_kw = _STREAM_KW_RE.search(data, m.end())
        if s_kw is not None and (e_obj == -1 or s_kw.start() < e_obj):
            ln = _LENGTH_LIT_RE.search(data, m.end(), s_kw.start())
            if ln is not None:
                guard = s_kw.end() + int(ln.group(1))
            else:
                es = data.find(b"endstream", s_kw.end())
                guard = es + len(b"endstream") if es != -1 else s_kw.end()
    out: dict[int, bytes] = {}
    for i, m in enumerate(accepted):
        end = accepted[i + 1].start() if i + 1 < len(accepted) else len(data)
        body = data[m.end():end]
        tail = body.rfind(b"endobj")
        if tail >= 0:
            body = body[:tail]
        out[int(m.group(1))] = body
    return out


_OBJSTM_TYPE_RE = re.compile(rb"/Type\s*/ObjStm")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_objstm(objs: dict[int, bytes], crypt=None) -> dict[int, bytes]:
    """Inline the objects held in /ObjStm object streams (PDF 1.5+).

    An object stream's decompressed payload is ``N`` pairs of
    "objnum offset" integers (the header, ending at /First), followed by
    the object bodies at those offsets.  Compressed objects are dict-only
    by spec (no nested streams), so merging their bodies into the object
    map is sufficient for page-tree/content resolution.  Top-level
    definitions win on number collision (the common incremental-update
    layout keeps replacements uncompressed)."""
    extra: dict[int, bytes] = {}
    for num, body in list(objs.items()):
        head = body.split(b"stream", 1)[0]
        if not _OBJSTM_TYPE_RE.search(head):
            continue
        data = _stream_of(body, crypt, num)
        if data is None:
            raise UnsupportedPdfError("/ObjStm without stream data")
        n_m = _OBJSTM_N_RE.search(head)
        first_m = _OBJSTM_FIRST_RE.search(head)
        if not n_m or not first_m:
            raise UnsupportedPdfError("/ObjStm missing /N or /First")
        n, first = int(n_m.group(1)), int(first_m.group(1))
        header = data[:first].split()
        if len(header) < 2 * n:
            raise UnsupportedPdfError("/ObjStm header truncated")
        try:
            nums = [int(header[2 * i]) for i in range(n)]
            offs = [int(header[2 * i + 1]) for i in range(n)]
        except ValueError as e:
            raise UnsupportedPdfError(f"/ObjStm header not numeric: {e}") from e
        # the spec does not require ascending offsets: bound each member by
        # the SMALLEST offset greater than its own, not by list position
        sorted_offs = sorted(offs)
        for i in range(n):
            pos = sorted_offs.index(offs[i])
            end = (first + sorted_offs[pos + 1]
                   if pos + 1 < n else len(data))
            extra[nums[i]] = data[first + offs[i]:end]
    for num, b in extra.items():
        objs.setdefault(num, b)
    return objs


# ---------------------------------------------------------------------------
# Stream filters beyond Flate (ISO 32000-1 §7.4): ASCIIHex, ASCII85,
# RunLength, LZW, and the PNG predictors used by /DecodeParms — all pure
# stdlib.  Image codecs (DCT/JPX/CCITT/JBIG2) stay UnsupportedPdfError:
# they carry pixels, not text, and are media territory.
# ---------------------------------------------------------------------------


def _ascii_hex_decode(data: bytes) -> bytes:
    body = data.split(b">", 1)[0]
    h = re.sub(rb"\s", b"", body)
    if len(h) % 2:
        h += b"0"  # spec: odd final digit implies a trailing 0
    try:
        return bytes.fromhex(h.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise UnsupportedPdfError(f"ASCIIHex: {e}") from e


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    body = re.sub(rb"\s", b"", data)
    if body.startswith(b"<~"):
        body = body[2:]
    body = body.split(b"~>", 1)[0]
    try:
        return base64.a85decode(body)
    except ValueError as e:
        raise UnsupportedPdfError(f"ASCII85: {e}") from e


def _rle_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        l = data[i]
        if l == 128:  # EOD
            break
        if l < 128:
            out += data[i + 1:i + 2 + l]
            i += 2 + l
        else:
            if i + 1 >= len(data):
                raise UnsupportedPdfError("RunLength: truncated run")
            out += data[i + 1:i + 2] * (257 - l)
            i += 2
    return bytes(out)


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF LZWDecode (ISO 32000-1 §7.4.4): 9->12-bit codes, clear=256,
    EOD=257, EarlyChange default 1.  Pinned against the spec's published
    example vector in tests."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    bitbuf = bits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bits += 8
        while bits >= width:
            code = (bitbuf >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code > 255:
                    raise UnsupportedPdfError("LZW: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise UnsupportedPdfError("LZW: code beyond table")
            out += entry
            prev = entry
            if len(table) + early - 1 >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


def _png_unpredict(data: bytes, columns: int, colors: int = 1,
                   bpc: int = 8) -> bytes:
    """PNG row predictors (/Predictor >= 10): None/Sub/Up/Average/Paeth.
    Used by xref streams and occasionally by Flate content streams."""
    bpp = max((colors * bpc + 7) // 8, 1)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prior = bytearray(rowlen)
    i = 0
    while i + 1 <= len(data):
        ft = data[i]
        row = bytearray(data[i + 1:i + 1 + rowlen])
        if len(row) < rowlen:
            break  # truncated final row: keep what decoded
        if ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prior[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prior[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prior[j]
                c = prior[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        elif ft != 0:
            raise UnsupportedPdfError(f"PNG predictor: bad filter {ft}")
        out += row
        prior = row
        i += 1 + rowlen
    return bytes(out)


_FILTER_VAL_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_PARMS_VAL_RE = re.compile(rb"/(?:DecodeParms|DP)\s*(<<.*?>>|\[.*?\]|null)",
                           re.DOTALL)
_NAME_TOK_RE = re.compile(rb"/([A-Za-z0-9]+)")
_PRED_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_EARLY_RE = re.compile(rb"/EarlyChange\s+(\d+)")

_IMAGE_CODECS = {b"DCTDecode", b"DCT", b"JPXDecode", b"CCITTFaxDecode",
                 b"CCF", b"JBIG2Decode"}


def _decode_filters(head: bytes, raw: bytes) -> bytes:
    """Apply the stream's /Filter chain (with per-filter /DecodeParms) to
    ``raw``.  Raises UnsupportedPdfError for image codecs and unknown
    filter names — fault-isolated upstream, never a crash."""
    fm = _FILTER_VAL_RE.search(head)
    if fm is None:
        raise UnsupportedPdfError("unparseable /Filter value")
    names = _NAME_TOK_RE.findall(fm.group(1))
    pm = _PARMS_VAL_RE.search(head)
    parms: list[bytes] = []
    if pm is not None:
        v = pm.group(1)
        if v.startswith(b"["):
            # array form: one null-or-dict per filter; split coarsely
            parms = re.findall(rb"<<.*?>>|null", v[1:-1], re.DOTALL)
        else:
            parms = [v]
    data = raw
    for i, name in enumerate(names):
        if name in _IMAGE_CODECS:
            raise UnsupportedPdfError(f"image codec filter /{name.decode()}")
        p = parms[i] if i < len(parms) else b""
        if name == b"FlateDecode" or name == b"Fl":
            try:
                data = zlib.decompressobj().decompress(data)
            except zlib.error as e:
                raise UnsupportedPdfError(f"flate error: {e}") from e
        elif name == b"LZWDecode" or name == b"LZW":
            em = _EARLY_RE.search(p)
            data = _lzw_decode(data, int(em.group(1)) if em else 1)
        elif name == b"ASCIIHexDecode" or name == b"AHx":
            data = _ascii_hex_decode(data)
        elif name == b"ASCII85Decode" or name == b"A85":
            data = _ascii85_decode(data)
        elif name == b"RunLengthDecode" or name == b"RL":
            data = _rle_decode(data)
        elif name == b"Crypt":
            raise UnsupportedPdfError("Crypt filter")
        else:
            raise UnsupportedPdfError(f"unknown filter /{name.decode()}")
        prm = _PRED_RE.search(p)
        if prm and int(prm.group(1)) >= 10:
            cm = _COLUMNS_RE.search(p)
            com = _COLORS_RE.search(p)
            bm = _BPC_RE.search(p)
            data = _png_unpredict(
                data, int(cm.group(1)) if cm else 1,
                int(com.group(1)) if com else 1,
                int(bm.group(1)) if bm else 8)
        elif prm and int(prm.group(1)) not in (1,):
            raise UnsupportedPdfError("TIFF predictor")
    return data


def _strip_one_eol(b: bytes) -> bytes:
    """Remove the single EOL the spec places before 'endstream' — never
    more: stream DATA may itself end in 0x0A/0x0D bytes (a compressed
    stream whose last byte is '\\n' must not be truncated)."""
    if b.endswith(b"\r\n"):
        return b[:-2]
    if b.endswith(b"\n") or b.endswith(b"\r"):
        return b[:-1]
    return b


def _stream_of(obj_body: bytes, crypt=None, num: int = 0,
               gen: int = 0) -> bytes | None:
    m = _STREAM_RE.match(obj_body)
    if not m:
        return None
    head, rest = m.group(1), m.group(2)
    end = rest.rfind(b"endstream")
    raw = rest[:end if end >= 0 else len(rest)]
    if crypt is not None:
        # slice the EXACT encrypted payload (literal /Length, else strip
        # the structural pre-endstream EOL) before the stream cipher runs
        lnm = _LENGTH_LIT_RE.search(head)
        raw = (raw[:int(lnm.group(1))] if lnm else _strip_one_eol(raw))
        raw = crypt.decrypt(num, gen, raw)
        if b"/Filter" in head:
            return _decode_filters(head, raw)
        return raw
    if b"/Filter" in head:
        # self-terminating filters (Flate's end marker, Hex/85's '>'/'~>',
        # RunLength's EOD) ignore the trailing pre-endstream EOL; LZW-first
        # chains get it stripped explicitly
        if re.search(rb"/Filter\s*(?:\[\s*)?/(?:LZWDecode|LZW)\b", head):
            raw = _strip_one_eol(raw)
        return _decode_filters(head, raw)
    return _strip_one_eol(raw)


# ---------------------------------------------------------------------------
# Encryption: the standard security handler (ISO 32000-1 §7.6.3) with an
# EMPTY user password — the "encrypted but readable by anyone" files
# common in the wild.  RC4 for /V 1|2 (R 2|3), AES-128-CBC for /V 4
# /AESV2 (R 4), and AES-256-CBC for /V 5 /AESV3 (R 5|6 — Algorithm 2.B
# password hash, UE file-key unwrap).  The AES core is FIPS-197-pinned in
# sources/_aes.py.  Genuinely password-protected files stay
# UnsupportedPdfError -> parse-failure spans.
# ---------------------------------------------------------------------------

_PW_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")
_STRTOK_RE_T = rb"(\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>)"
_O_RE = re.compile(rb"/O\s*" + _STRTOK_RE_T, re.DOTALL)
_U_RE = re.compile(rb"/U\s*" + _STRTOK_RE_T, re.DOTALL)
_UE_RE = re.compile(rb"/UE\s*" + _STRTOK_RE_T, re.DOTALL)
_OE_RE = re.compile(rb"/OE\s*" + _STRTOK_RE_T, re.DOTALL)
_P_RE = re.compile(rb"/P\s+(-?\d+)")
_V_RE = re.compile(rb"/V\s+(\d+)")
_R_RE = re.compile(rb"/R\s+(\d+)")
_KEYLEN_RE = re.compile(rb"/Length\s+(\d+)")


def _without_cf_dict(head: bytes) -> bytes:
    """``head`` with the balanced ``/CF <<...>>`` value span blanked.

    The /CF crypt-filter dictionary nests its own /Length (in BYTES);
    deriving the file key length from it instead of the top-level
    /Length (in BITS) mis-sizes the key when a writer emits /CF first."""
    m = re.search(rb"/CF\s*<<", head)
    if not m:
        return head
    depth, i = 1, m.end()
    while i < len(head) and depth:
        if head[i:i + 2] == b"<<":
            depth, i = depth + 1, i + 2
        elif head[i:i + 2] == b">>":
            depth, i = depth - 1, i + 2
        else:
            i += 1
    return head[:m.start()] + head[i:]
_FILTER_STD_RE = re.compile(rb"/Filter\s*/Standard")


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out.append(c ^ S[(S[i] + S[j]) & 0xFF])
    return bytes(out)


def _strtok_bytes(tok: bytes) -> bytes:
    return _literal_bytes(tok) if tok[:1] == b"(" else _hex_bytes(tok)


class _StdCrypt:
    """Per-object decryptor for the standard handler (empty user pw):
    RC4 (V1/V2), AES-128-CBC with per-object +sAlT keys (V4 /AESV2), or
    AES-256-CBC with the single file key (V5 /AESV3)."""

    def __init__(self, key: bytes, aes: bool = False, v5: bool = False):
        self._key = key
        self._aes = aes
        self._v5 = v5

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        import hashlib

        if self._v5:  # V5: no per-object keys, the file key crypts all
            from ._aes import aes_cbc_decrypt

            return aes_cbc_decrypt(self._key, bytes(data))
        salt = b"sAlT" if self._aes else b""
        ok = hashlib.md5(
            self._key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
            + salt
        ).digest()[:min(len(self._key) + 5, 16)]
        if self._aes:
            from ._aes import aes_cbc_decrypt

            return aes_cbc_decrypt(ok, bytes(data))
        return _rc4(ok, data)


def _v5_crypt(head: bytes, password: bytes = b"") -> _StdCrypt:
    """AES-256 standard handler (ISO 32000-2, /V 5 /AESV3, R 5|6):
    validate the USER password (default empty) against /U's hash+salts,
    then unwrap the 256-bit file key from /UE.  R6 uses Algorithm 2.B
    (hash_2b); the deprecated R5 uses a single SHA-256."""
    import hashlib

    from ._aes import cbc_decrypt_nopad, hash_2b

    password = password[:127]  # ISO 32000-2 7.6.4.3.3: UTF-8, 127-byte cap
    rm = _R_RE.search(head)
    r = int(rm.group(1)) if rm else 6
    um, uem = _U_RE.search(head), _UE_RE.search(head)
    if not (um and uem):
        raise UnsupportedPdfError("V5 /Encrypt missing /U or /UE")
    u = _strtok_bytes(um.group(1))
    ue = _strtok_bytes(uem.group(1))
    if len(u) < 48 or len(ue) < 32:
        raise UnsupportedPdfError("V5 /U or /UE truncated")
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 6:
        check = hash_2b(password, vsalt)
        inter = hash_2b(password, ksalt)
    else:  # R5 (deprecated Adobe variant): plain SHA-256
        check = hashlib.sha256(password + vsalt).digest()
        inter = hashlib.sha256(password + ksalt).digest()
    if check == u[:32]:
        file_key = cbc_decrypt_nopad(inter, bytes(16), ue[:32])
        return _StdCrypt(file_key, aes=True, v5=True)
    # Algorithm 12 owner path: the owner hash is computed over the
    # password, /O's salts, AND the full 48-byte /U string; /OE unwraps
    # the same file key
    om, oem = _O_RE.search(head), _OE_RE.search(head)
    if om and oem:
        o = _strtok_bytes(om.group(1))
        oe = _strtok_bytes(oem.group(1))
        if len(o) >= 48 and len(oe) >= 32:
            ovs, oks = o[32:40], o[40:48]
            if r == 6:
                ocheck = hash_2b(password, ovs, u[:48])
                ointer = hash_2b(password, oks, u[:48])
            else:
                ocheck = hashlib.sha256(password + ovs + u[:48]).digest()
                ointer = hashlib.sha256(password + oks + u[:48]).digest()
            if ocheck == o[:32]:
                file_key = cbc_decrypt_nopad(ointer, bytes(16), oe[:32])
                return _StdCrypt(file_key, aes=True, v5=True)
    raise UnsupportedPdfError("password-protected PDF (V5)")


def _encryption(data: bytes, objs: dict[int, bytes],
                password: bytes = b"") -> _StdCrypt | None:
    """Trailer /Encrypt -> verified decryptor for the given USER password
    (default empty — the "encrypted but readable by anyone" files), or
    None when the file is not encrypted.  Raises UnsupportedPdfError for
    non-Standard handlers, unsupported revisions, and a wrong password."""
    import hashlib
    import struct

    em = None
    for em_ in _ENCRYPT_REF_RE.finditer(data):
        em = em_  # last wins: incremental updates append newer trailers
    if em is None:
        return None
    enc = objs.get(int(em.group(1)))
    if enc is None:
        raise UnsupportedPdfError("/Encrypt object missing")
    head = enc.split(b"stream", 1)[0]
    if not _FILTER_STD_RE.search(head):
        raise UnsupportedPdfError("non-Standard security handler")
    vm, rm = _V_RE.search(head), _R_RE.search(head)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 2
    if v == 5 and r in (5, 6):
        return _v5_crypt(head, password)
    aes = False
    if v == 4 and r == 4:
        if b"/AESV2" in head:
            aes = True
        elif b"/CFM" in head and b"/V2" not in head:
            raise UnsupportedPdfError("V4 crypt filter is not AESV2/V2")
    elif v not in (1, 2) or r not in (2, 3):
        raise UnsupportedPdfError(
            f"encryption V={v} R={r} unsupported")
    om, um, pm = _O_RE.search(head), _U_RE.search(head), _P_RE.search(head)
    if not (om and um and pm):
        raise UnsupportedPdfError("incomplete /Encrypt dictionary")
    o = _strtok_bytes(om.group(1))
    u = _strtok_bytes(um.group(1))
    p = int(pm.group(1))
    # the TOP-LEVEL /Length only: a /CF << /StdCF << /Length 16 >> >> crypt
    # filter dict may precede it (key order is arbitrary), and its /Length
    # is in BYTES, not bits — mask the /CF value span before searching
    km = _KEYLEN_RE.search(_without_cf_dict(head))
    nbytes = (int(km.group(1)) if km and v in (2, 4) else
              (128 if v == 4 else 40)) // 8
    if not 5 <= nbytes <= 16:
        raise UnsupportedPdfError(f"encryption key length {nbytes * 8}")
    id0 = b""
    idm = _ID_RE.search(data)
    if idm:
        h = re.sub(rb"\s", b"", idm.group(1))
        if len(h) % 2:  # hostile: odd-length hex must not ValueError out
            h += b"0"
        id0 = bytes.fromhex(h.decode("ascii"))
    if not -(1 << 31) <= p < (1 << 31):  # hostile: /P outside int32
        raise UnsupportedPdfError("encryption /P out of range")
    emf = bool(r >= 4 and re.search(rb"/EncryptMetadata\s+false", head))

    def alg2_key(padded_user: bytes) -> bytes:
        # Algorithm 2: file key from the 32-byte padded user password
        seed = padded_user + o[:32] + struct.pack("<i", p) + id0
        if emf:
            seed += b"\xff\xff\xff\xff"
        key = hashlib.md5(seed).digest()
        if r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:nbytes]).digest()
        return key[:nbytes]

    def user_ok(key: bytes) -> bool:
        # Algorithms 4/5: does this key reproduce /U?
        if r == 2:
            return _rc4(key, _PW_PAD) == u[:32]
        x = hashlib.md5(_PW_PAD + id0).digest()
        x = _rc4(key, x)
        for i in range(1, 20):
            x = _rc4(bytes(b ^ i for b in key), x)
        return x == u[:16]

    key = alg2_key((password + _PW_PAD)[:32])
    if user_ok(key):
        return _StdCrypt(key, aes=aes)
    # Algorithm 7: try the password as the OWNER password — derive the
    # Algorithm 3 owner key, RC4-decrypt /O back to the padded USER
    # password, and re-run Algorithm 2 with that
    okey = hashlib.md5((password + _PW_PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            okey = hashlib.md5(okey[:nbytes]).digest()
    okey = okey[:nbytes]
    if r == 2:
        upad = _rc4(okey, o[:32])
    else:
        upad = o[:32]
        for i in range(19, -1, -1):
            upad = _rc4(bytes(b ^ i for b in okey), upad)
    key = alg2_key(upad[:32])
    if user_ok(key):
        return _StdCrypt(key, aes=aes)
    raise UnsupportedPdfError("password-protected PDF")


# ---------------------------------------------------------------------------
# CID/Type0 text (ISO 32000-1 §9.7): composite fonts show 2-byte glyph
# codes; the embedded /ToUnicode CMap (bfchar/bfrange) maps them to text.
# Simple fonts with a /ToUnicode map get per-byte mapping the same way.
# ---------------------------------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEX_OR_BRACKET_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|(\[)|(\])")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_TOUNI_REF_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_RES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_FONTDICT_INLINE_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.DOTALL)
_FONTDICT_REF_RE = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R")
_FONTREF_RE = re.compile(rb"/([^\s/\[\]()<>{}]+)\s+(\d+)\s+\d+\s+R")


def _u16(hexbytes: bytes) -> str:
    b = bytes.fromhex(re.sub(rb"\s", b"", hexbytes).decode("ascii"))
    return b.decode("utf-16-be", "replace")


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """/ToUnicode CMap -> {glyph code: unicode string}.  Handles bfchar
    pairs and both bfrange forms (dst-start increment, dst array)."""
    out: dict[int, str] = {}
    for sec in _BFCHAR_RE.findall(cmap):
        toks = [m.group(1) for m in _HEX_OR_BRACKET_RE.finditer(sec)
                if m.group(1) is not None]
        for i in range(0, len(toks) - 1, 2):
            src = int(re.sub(rb"\s", b"", toks[i]) or b"0", 16)
            out[src] = _u16(toks[i + 1])
    for sec in _BFRANGE_RE.findall(cmap):
        toks = list(_HEX_OR_BRACKET_RE.finditer(sec))
        i = 0
        while i + 2 < len(toks):
            if toks[i].group(1) is None or toks[i + 1].group(1) is None:
                break  # malformed row: stop rather than misalign
            lo = int(re.sub(rb"\s", b"", toks[i].group(1)) or b"0", 16)
            hi = int(re.sub(rb"\s", b"", toks[i + 1].group(1)) or b"0", 16)
            if hi < lo or hi - lo > 0x10000:
                break
            nxt = toks[i + 2]
            if nxt.group(2) is not None:
                # [ <dst> <dst> ... ] — one destination per code
                j = i + 3
                code = lo
                while j < len(toks) and toks[j].group(3) is None:
                    if toks[j].group(1) is not None and code <= hi:
                        out[code] = _u16(toks[j].group(1))
                        code += 1
                    j += 1
                i = j + 1
            elif nxt.group(1) is not None:
                start = _u16(nxt.group(1))
                for k in range(hi - lo + 1):
                    # hostile: increment past U+10FFFF would ValueError
                    if start and ord(start[-1]) + k <= 0x10FFFF:
                        out[lo + k] = start[:-1] + chr(ord(start[-1]) + k)
                i += 3
            else:
                break
    return out


# ---------------------------------------------------------------------------
# Simple-font encodings (ISO 32000-1 Annex D).  A non-Type0 font may carry
# /Encoding: a base-encoding NAME (/WinAnsiEncoding /MacRomanEncoding
# /StandardEncoding) or a dict with optional /BaseEncoding and /Differences
# [ code /glyph /glyph ... code /glyph ... ].  The reference consumes
# pdftools' already-decoded text (v10_ALTAIR.R:56 pdf_data) so this layer
# has no R counterpart — it reproduces the decode poppler performs before
# the reference ever sees a string.  Tables are built at import from
# public sources: WinAnsi == cp1252, MacRoman == mac_roman (stdlib
# codecs), StandardEncoding divergences transcribed from Annex D.2, and
# glyph names resolved through an Adobe-Glyph-List subset plus the
# uniXXXX / uXXXX[XX] conventions.
# ---------------------------------------------------------------------------


def _codec_diff(codec: str) -> dict[int, str]:
    """{code: char} for single bytes where ``codec`` differs from latin-1."""
    out: dict[int, str] = {}
    for c in range(0x80, 0x100):
        try:
            ch = bytes([c]).decode(codec)
        except UnicodeDecodeError:
            continue
        if ch != chr(c):
            out[c] = ch
    return out


_WINANSI_DIFF = _codec_diff("cp1252")
_MACROMAN_DIFF = _codec_diff("mac_roman")
# Annex D MacRomanEncoding predates Apple's post-1998 codec revisions:
# 0xDB is /currency (not the euro Python's mac_roman maps), and 0xF0
# (Apple logo, U+F8FF private use) is unassigned — keep the latin-1
# fallback there like any other undefined code.
_MACROMAN_DIFF[0xDB] = "¤"
_MACROMAN_DIFF.pop(0xF0, None)
# Annex D.2 StandardEncoding codes whose meaning differs from latin-1
# (codes the table leaves unused keep the latin-1 fallback):
_STDENC_DIFF = {
    0x27: "’", 0x60: "‘", 0xA4: "⁄", 0xA6: "ƒ",
    0xA8: "¤", 0xA9: "'", 0xAA: "“", 0xAC: "‹",
    0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
    0xB2: "†", 0xB3: "‡", 0xB4: "·", 0xB7: "•",
    0xB8: "‚", 0xB9: "„", 0xBA: "”", 0xBC: "…",
    0xBD: "‰", 0xC1: "`", 0xC2: "´", 0xC3: "ˆ",
    0xC4: "˜", 0xC5: "¯", 0xC6: "˘", 0xC7: "˙",
    0xC8: "¨", 0xCA: "˚", 0xCB: "¸", 0xCD: "˝",
    0xCE: "˛", 0xCF: "ˇ", 0xD0: "—", 0xE1: "Æ",
    0xE3: "ª", 0xE8: "Ł", 0xE9: "Ø", 0xEA: "Œ",
    0xEB: "º", 0xF1: "æ", 0xF5: "ı", 0xF8: "ł",
    0xF9: "ø", 0xFA: "œ", 0xFB: "ß",
}
_BASE_ENCODINGS = {
    b"WinAnsiEncoding": _WINANSI_DIFF,
    b"MacRomanEncoding": _MACROMAN_DIFF,
    b"StandardEncoding": _STDENC_DIFF,
}


def _latin1_letter_names() -> dict[str, str]:
    """AGL names for the Latin-1 letters, derived from unicodedata (the
    AGL composes them as base-letter + accent, e.g. Agrave, odieresis)."""
    import unicodedata
    acc = {"GRAVE": "grave", "ACUTE": "acute", "CIRCUMFLEX": "circumflex",
           "TILDE": "tilde", "DIAERESIS": "dieresis", "RING ABOVE": "ring",
           "CEDILLA": "cedilla", "STROKE": "slash"}
    out = {"AE": "Æ", "ae": "æ", "Eth": "Ð",
           "eth": "ð", "Thorn": "Þ", "thorn": "þ",
           "germandbls": "ß"}
    inv: dict[str, str] = {}
    for cp in range(0xC0, 0x100):
        ch = chr(cp)
        try:
            un = unicodedata.name(ch)
        except ValueError:      # pragma: no cover - all assigned
            continue
        m = re.match(r"LATIN (CAPITAL|SMALL) LETTER (\w) WITH (.+)", un)
        if m and m.group(3) in acc:
            base = (m.group(2) if m.group(1) == "CAPITAL"
                    else m.group(2).lower())
            inv[base + acc[m.group(3)]] = ch
    inv.update(out)
    return inv


_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "section": "§", "dieresis": "¨", "copyright": "©",
    "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯",
    "degree": "°", "plusminus": "±", "acute": "´",
    "mu": "µ", "paragraph": "¶", "periodcentered": "·",
    "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾",
    "questiondown": "¿", "multiply": "×", "divide": "÷",
    "endash": "–", "emdash": "—", "quoteleft": "‘",
    "quoteright": "’", "quotesinglbase": "‚",
    "quotedblleft": "“", "quotedblright": "”",
    "quotedblbase": "„", "dagger": "†", "daggerdbl": "‡",
    "bullet": "•", "ellipsis": "…", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "fraction": "⁄", "florin": "ƒ", "Euro": "€",
    "trademark": "™", "minus": "−", "ff": "ﬀ",
    "fi": "ﬁ", "fl": "ﬂ", "ffi": "ﬃ", "ffl": "ﬄ",
    "OE": "Œ", "oe": "œ", "Scaron": "Š",
    "scaron": "š", "Zcaron": "Ž", "zcaron": "ž",
    "Ydieresis": "Ÿ", "circumflex": "ˆ", "tilde": "˜",
    "caron": "ˇ", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "ogonek": "˛", "hungarumlaut": "˝",
    "dotlessi": "ı", "Lslash": "Ł", "lslash": "ł",
}
_AGL.update(_latin1_letter_names())

_UNI_NAME_RE = re.compile(r"^uni([0-9A-Fa-f]{4})$")
_U_NAME_RE = re.compile(r"^u([0-9A-Fa-f]{4,6})$")


def _glyph_uni(name: str) -> str | None:
    """AGL-convention glyph name -> unicode string (None if unknown)."""
    if len(name) == 1:
        return name
    m = _UNI_NAME_RE.match(name) or _U_NAME_RE.match(name)
    if m:
        cp = int(m.group(1), 16)
        # surrogates / out-of-range would poison downstream encodes
        if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
            return chr(cp)
        return None
    return _AGL.get(name)


_ENC_NAME_RE = re.compile(rb"/Encoding\s*/([A-Za-z]+)\b")
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_ENC_DICT_RE = re.compile(rb"/Encoding\s*<<(.*?)>>", re.DOTALL)
_BASEENC_RE = re.compile(rb"/BaseEncoding\s*/([A-Za-z]+)\b")
_DIFF_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.DOTALL)
_DIFF_TOK_RE = re.compile(rb"/([^\s/\[\]()<>{}]+)|(\d+)")


def _simple_encoding(fhead: bytes,
                     objs: dict[int, bytes]) -> dict[int, str] | None:
    """A simple font's /Encoding -> {code: str} for codes that differ
    from latin-1 (None when absent / fully latin-1-compatible).  Unknown
    glyph names in /Differences keep the base-encoding (then latin-1)
    fallback — the spec leaves them to the font program, which a
    text-extraction layer cannot consult."""
    body = None
    dm = _ENC_DICT_RE.search(fhead)
    if dm:
        body = dm.group(0)
    else:
        rm = _ENC_REF_RE.search(fhead)
        if rm and int(rm.group(1)) in objs:
            body = objs[int(rm.group(1))]
        else:
            nm = _ENC_NAME_RE.search(fhead)
            if nm:
                base = _BASE_ENCODINGS.get(nm.group(1))
                return dict(base) if base else None
            return None
    out: dict[int, str] = {}
    bm = _BASEENC_RE.search(body)
    if bm:
        out.update(_BASE_ENCODINGS.get(bm.group(1)) or {})
    elif b"<<" not in body:
        # an indirect /Encoding object may be a BARE base-encoding name
        nm = re.search(rb"/([A-Za-z]+)\b", body)
        if nm:
            out.update(_BASE_ENCODINGS.get(nm.group(1)) or {})
    dm2 = _DIFF_RE.search(body)
    if dm2:
        code = -1
        for t in _DIFF_TOK_RE.finditer(dm2.group(1)):
            if t.group(2) is not None:
                code = int(t.group(2))
                continue
            if 0 <= code <= 255:
                uni = _glyph_uni(t.group(1).decode("latin-1", "replace"))
                if uni is not None:
                    if uni != chr(code):
                        out[code] = uni
                    else:
                        out.pop(code, None)
                code += 1
    return out or None


def _page_fonts(head: bytes, objs: dict[int, bytes],
                crypt=None) -> dict[str, dict]:
    """Resolve a page's /Resources /Font dict -> {name: {two_byte, map}}.
    Only fonts that NEED special decoding (Type0, ToUnicode-mapped, or
    non-latin-1 /Encoding) are returned; absent fonts keep the default
    latin-1 byte semantics.  For a simple font, /ToUnicode wins over the
    /Encoding-derived map where both cover a code (§9.10.2 order)."""
    res = head
    rm = _RES_REF_RE.search(head)
    if rm and int(rm.group(1)) in objs:
        res = objs[int(rm.group(1))]
    fm = _FONTDICT_INLINE_RE.search(res)
    if fm:
        body = fm.group(1)
    else:
        fr = _FONTDICT_REF_RE.search(res)
        body = objs.get(int(fr.group(1))) if fr else None
    if not body:
        return {}
    fonts: dict[str, dict] = {}
    for name, ref in _FONTREF_RE.findall(body):
        fobj = objs.get(int(ref))
        if fobj is None:
            continue
        fhead = fobj.split(b"stream", 1)[0]
        two = _TYPE0_RE.search(fhead) is not None
        umap = None
        tm = _TOUNI_REF_RE.search(fhead)
        if tm and int(tm.group(1)) in objs:
            try:
                s = _stream_of(objs[int(tm.group(1))], crypt,
                               int(tm.group(1)))
            except UnsupportedPdfError:
                s = None
            if s:
                umap = _parse_tounicode(s)
        enc = None if two else _simple_encoding(fhead, objs)
        if two or umap or enc:
            merged = {**(enc or {}), **(umap or {})} or None
            fonts[name.decode("latin-1", "replace")] = {
                "two_byte": two, "map": merged}
    return fonts


def _text_of_bytes(b: bytes, font: dict | None) -> str:
    """Shown-string bytes -> text under the current font's semantics."""
    if font is None:
        return b.decode("latin-1")
    if font["two_byte"]:
        if len(b) % 2:
            b += b"\x00"
        m = font["map"]
        return "".join(
            (m.get(c) if m else None) or chr(c)
            for c in ((b[i] << 8) | b[i + 1] for i in range(0, len(b), 2))
        )
    m = font["map"]
    return "".join((m.get(c) if m else None) or chr(c) for c in b)


def _page_streams(data: bytes,
                  password: bytes = b"") -> list[tuple[bytes, float, dict]]:
    """[(content_stream, page_height, special_fonts), ...] in page order.
    ``special_fonts`` is :func:`_page_fonts`'s map for fonts needing
    non-latin-1 decode (Type0 / ToUnicode); empty for simple pages.

    Page ORDER comes from the page tree's /Kids array (the authoritative
    source — object numbers need not be in page order: incremental updates
    and some generators emit them shuffled); object-number order is only
    the fallback when no /Kids array is present."""
    objs = _objects(data)
    crypt = _encryption(data, objs, password)  # raises on wrong password
    objs = _expand_objstm(objs, crypt)
    page_dicts: dict[int, bytes] = {}
    for num, body in objs.items():
        head = body.split(b"stream", 1)[0]
        if _PAGE_RE.search(head):
            page_dicts[num] = head
    pages: list[tuple[int, bytes]] = []  # (obj_num, page dict body)
    # /Kids arrays live in the raw file OR inside a decompressed /ObjStm
    # payload (PDF 1.5+ page trees) — scan both; dedupe handles overlap
    for blob in [data, *objs.values()]:
        for m in _KIDS_RE.finditer(blob):
            for ref in _REF_RE.findall(m.group(1)):
                n = int(ref)
                if n in page_dicts and all(p[0] != n for p in pages):
                    pages.append((n, page_dicts[n]))
    for num in sorted(page_dicts):  # fallback / kids not listing every page
        if all(p[0] != num for p in pages):
            pages.append((num, page_dicts[num]))
    if not pages:
        if b"/ObjStm" in data:
            raise UnsupportedPdfError("/ObjStm present but no page objects "
                                      "recovered from it")
        raise UnsupportedPdfError("no /Page objects found")
    out: list[tuple[bytes, float, dict]] = []
    for _, head in pages:
        mb = _MEDIABOX_RE.search(head) or _MEDIABOX_RE.search(data)
        height = 792.0
        if mb:
            try:
                height = float(mb.group(4))
            except ValueError:  # hostile bytes: '7-2' matches [\d.+-]+
                pass
        content_nums: list[int] = []
        arr = _CONTENTS_ARR_RE.search(head)
        if arr:
            content_nums = [int(g) for g in _REF_RE.findall(arr.group(1))]
        else:
            ref = _CONTENTS_REF_RE.search(head)
            if ref:
                content_nums = [int(ref.group(1))]
        parts = []
        for n in content_nums:
            if n in objs:
                s = _stream_of(objs[n], crypt, n)
                if s is not None:
                    parts.append(s)
        try:
            fonts = _page_fonts(head, objs, crypt)
        except Exception:  # noqa: BLE001 — hostile bytes: fonts are optional
            fonts = {}
        out.append((b"\n".join(parts), height, fonts))
    return out


_NUM_RE = re.compile(rb"[-+]?\d*\.?\d+$")


def _num(tok: bytes) -> float | None:
    """Operand -> float, or None when the token is not numeric (hostile
    streams put names/brackets where numbers belong — a malformed operand
    skips its operator instead of raising out of the decoder)."""
    return float(tok) if _NUM_RE.fullmatch(tok) else None


_BI_RE = re.compile(rb"(?:(?<=[\s])|\A)BI(?=[\s/])")
_EI_RE = re.compile(rb"(?<=[\s])EI(?=[\s]|\Z)")


def _strip_inline_images(content: bytes) -> bytes:
    """Replace BI..ID..EI inline-image segments with an XObject-style draw.

    The inline binary payload would otherwise hit the content tokenizer —
    bytes that happen to look like ``(string) Tj`` would emit garbage
    blocks.  Each segment becomes ``/InlineImg Do`` so the existing Do
    handling yields a media placeholder; an unterminated BI (hostile
    bytes) drops the remainder of the stream."""
    if b"BI" not in content:
        return content
    res = bytearray()
    pos = 0
    while True:
        m = _BI_RE.search(content, pos)
        if not m:
            res += content[pos:]
            break
        res += content[pos:m.start()]
        e = _EI_RE.search(content, m.end())
        res += b" /InlineImg Do "
        if not e:
            break
        pos = e.end()
    return bytes(res)


def _mat_mul(m1, m2):
    """Row-vector affine composition: apply ``m1`` then ``m2``."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _extract_page_blocks(content: bytes, height: float, page: int,
                         fonts: dict | None = None) -> list[dict]:
    """One page's content stream -> block dicts (text blocks + media).

    ``fonts`` (from :func:`_page_fonts`) carries the page's Type0/
    ToUnicode-mapped fonts; shown strings under such a font decode
    through :func:`_text_of_bytes` (2-byte CID grouping + CMap), all
    other text keeps the simple-font latin-1 byte semantics."""
    blocks: list[dict] = []
    content = _strip_inline_images(content)
    font_size = 12.0
    cur_special: dict | None = None  # active font's decode info, if special
    # graphics state: the CTM (translation/scale from cm, saved by q/Q) —
    # text positions are Tm composed with the CTM, effective font size
    # scales with the CTM's vertical axis (many real generators position
    # whole blocks with `cm` instead of Tm)
    ctm = _IDENTITY
    gs_stack: list[tuple] = []

    def dec(tok: bytes) -> str:
        b = _literal_bytes(tok) if tok[:1] == b"(" else _hex_bytes(tok)
        return _text_of_bytes(b, cur_special)
    # text state inside BT..ET
    in_text = False
    tx = ty = 0.0
    line_x = line_y = 0.0
    leading = 0.0
    cur_text: list[str] = []
    cur_x = cur_y = 0.0
    cur_size = 12.0
    started = False
    stack: list[bytes] = []
    n_nonstr = 0  # non-string tokens on the stack (compaction trigger)

    def flush() -> None:
        nonlocal cur_text, started
        text = "".join(cur_text).strip()
        if text:
            w = max(int(len(text) * cur_size * 0.5), 1)
            h = max(int(round(cur_size)), 1)
            y_top = max(int(round(height - cur_y)) - h, 0)
            etype = "title" if cur_size >= 14 else "plain text"
            blocks.append({
                "kind": "text_block", "page": page, "x": int(round(cur_x)),
                "y": y_top, "w": w, "h": h, "etype": etype, "text": text,
            })
        cur_text = []
        started = False

    def show(s: str) -> None:
        nonlocal started, cur_x, cur_y, cur_size
        if not started:
            a, b, c, d, e, f = ctm
            cur_x = a * tx + c * ty + e
            cur_y = b * tx + d * ty + f
            cur_size = font_size * (c * c + d * d) ** 0.5
            started = True
        cur_text.append(s)

    for tok in _TOKEN_RE.finditer(content):
        t = tok.group(0)
        c0 = t[:1]
        if c0 == b"(":
            stack.append(t)
        elif c0 == b"<":
            stack.append(t)
        elif c0 in b"[]" or c0 == b"/" or c0.isdigit() or c0 in b"-+." or (
            len(t) > 1 and t[:1] in b"-+" ):
            stack.append(t)
            n_nonstr += 1
        else:  # operator
            op = t
            if op == b"BT":
                in_text = True
                tx = ty = line_x = line_y = 0.0
            elif op == b"ET":
                flush()
                in_text = False
            elif op == b"Tf":
                if stack and (sz := _num(stack[-1])) is not None:
                    font_size = sz
                if fonts and len(stack) >= 2 and stack[-2][:1] == b"/":
                    cur_special = fonts.get(
                        stack[-2][1:].decode("latin-1", "replace"))
                elif fonts:
                    cur_special = None
            elif op in (b"Td", b"TD"):
                if len(stack) >= 2:
                    dx, dy = _num(stack[-2]), _num(stack[-1])
                    if dx is None or dy is None:
                        stack = []
                        n_nonstr = 0
                        continue
                    line_x += dx
                    line_y += dy
                    tx, ty = line_x, line_y
                    if op == b"TD":
                        leading = -dy
                    # a big jump starts a new visual block
                    if started and abs(dy) > max(leading, font_size) * 1.8:
                        flush()
            elif op == b"Tm":
                if len(stack) >= 6:
                    mx, my = _num(stack[-2]), _num(stack[-1])
                    if mx is None or my is None:
                        stack = []
                        n_nonstr = 0
                        continue
                    line_x, line_y = mx, my
                    tx, ty = line_x, line_y
                    if started:
                        flush()
            elif op == b"TL":
                if stack and (ld := _num(stack[-1])) is not None:
                    leading = ld
            elif op == b"T*":
                line_y -= leading if leading else font_size * 1.2
                tx, ty = line_x, line_y
            elif op == b"Tj":
                if in_text and stack and stack[-1][:1] in b"(<":
                    show(dec(stack[-1]))
            elif op in (b"'", b'"'):
                line_y -= leading if leading else font_size * 1.2
                tx, ty = line_x, line_y
                if in_text and stack and stack[-1][:1] in b"(<":
                    show(" " + dec(stack[-1]))
            elif op == b"TJ":
                if in_text:
                    # walk operands IN ORDER: a large negative kern number
                    # between strings is how justified text encodes an
                    # inter-word gap (thousandths of an em; pdfminer-style
                    # threshold) — without this, words run together
                    parts = []
                    for t2 in stack:
                        if t2[:1] in b"(<":
                            parts.append(dec(t2))
                        elif parts and ((kn := _num(t2)) is not None
                                        and kn < -180):
                            if not parts[-1].endswith(" "):
                                parts.append(" ")
                    if parts:
                        show("".join(parts))
            elif op == b"q":
                gs_stack.append(ctm)
            elif op == b"Q":
                if gs_stack:  # unbalanced Q on hostile bytes: keep identity
                    ctm = gs_stack.pop()
            elif op == b"cm":
                if len(stack) >= 6:
                    vals = [_num(t) for t in stack[-6:]]
                    if all(v is not None for v in vals):
                        ctm = _mat_mul(tuple(vals), ctm)
            elif op == b"Do":
                if stack and stack[-1][:1] == b"/":
                    name = stack[-1][1:].decode("latin-1", "replace")
                    blocks.append({"kind": "media", "page": page,
                                   "ref": f"pdf:xobj:{name}"})
            stack = []
            n_nonstr = 0
            continue
        # keep stack bounded between operators WITHOUT dropping text: real
        # justified-text PDFs emit TJ arrays with thousands of interleaved
        # (string, kern-number) operands — compaction keeps every string/hex
        # token (relative order preserved) and only the last 8 non-string
        # tokens (Tm needs at most 6 operands; a kern number dropped here
        # can cost a TJ word gap, but only past 512 non-string operands in
        # ONE array — text itself is never lost).
        # Truncating strings here was silent text loss (round-2 review).
        # The trigger counts NON-string tokens only: strings legitimately
        # accumulate, and a length trigger would re-scan the whole (string-
        # heavy) stack on every push once past the limit — O(n^2).
        if n_nonstr > 512:
            # drop all but the last 8 NON-string tokens, in place — overall
            # order (and the identity of stack[-1]) is preserved
            keep_from = [i for i, s in enumerate(stack) if s[:1] not in b"(<"][-8:]
            keep = set(keep_from)
            stack = [
                s for i, s in enumerate(stack)
                if s[:1] in b"(<" or i in keep
            ]
            n_nonstr = len(keep_from)
    return blocks


def extract_pdf_text(data: bytes, password: bytes = b"") -> list[dict]:
    """PDF bytes -> block dicts across pages.

    ``password``: the user password for encrypted files (default empty —
    the common "encrypted but readable by anyone" case).  Raises
    :class:`UnsupportedPdfError` for wrongly/un-passworded encrypted PDFs
    and features outside the minimal profile; the caller maps that to a
    parse-failure span (fault isolation, v10.R:37, 188-190).
    """
    if not data.startswith(b"%PDF-"):
        raise UnsupportedPdfError("missing %PDF header")
    blocks: list[dict] = []
    for i, (content, h, fonts) in enumerate(_page_streams(data, password)):
        blocks.extend(_extract_page_blocks(content, h, i + 1, fonts))
    return blocks
