"""Pure-Python raster stack: closes the scanned-PDF loop with ZERO binaries.

The production scanned stack (v10.R:26 ``pdf_convert``, :39-44
DocLayout-YOLO, :131-152 pytesseract) needs poppler + a layout model +
tesseract — absent from this image.  This module supplies the three stage
callables for :func:`.scanned.extract_scanned_pdf` built only on the
repo's own minimal-PDF decoder + numpy, so the ENTIRE pipeline —
a minimal-profile PDF -> rasterize -> layout detection -> per-box OCR ->
spans — runs end to end in CI:

* :func:`rasterize_minimal` renders each text block of a minimal-profile
  PDF as an inked rectangle on a white uint8 page (one array per page,
  like ``pdf_convert``), with the block's text carried IN BAND: the
  rect's first pixels encode ``[len_hi, len_lo, class_code]`` followed by
  the UTF-8 payload row-major, the rest is flat ink.  UTF-8 never emits
  0xFF, so every payload pixel reads as ink (< 255) to the layout stage.
* :func:`layout_model_projection` is a REAL detector — recursive XY-cut
  over row/column ink projections (the classic scanned-layout algorithm;
  same family as the kernel's gap analysis) — it recovers each rect's
  tight bounding box from pixels alone; only the CLASS comes from the
  in-band code byte (standing in for YOLO's class head).
* :func:`ocr_inband` decodes the in-band payload of one crop (standing in
  for tesseract; real character recognition is out of scope by design).

The stand-in boundaries are exactly the two model inferences (class head,
character recognition); geometry detection, confidence gating, cropping,
fault isolation, and span emission are the production code paths.
"""

from __future__ import annotations

import numpy as np

INK = 160          # flat fill for rect interiors (background is 255)
MEDIA_INK = 40     # media rects are darker (purely cosmetic)
CLASS_CODES = {0: "plain text", 1: "title", 2: "abandon", 3: "figure"}
_CODE_OF = {v: k for k, v in CLASS_CODES.items()}
_MEDIA_W, _MEDIA_H = 8, 8


def _render_payload(page: np.ndarray, x: int, y: int, w: int, h: int,
                    cls: str, text: str) -> None:
    """Fill rect + write the in-band header/payload (clipped to the page)."""
    H, W = page.shape
    x0, y0 = max(x, 0), max(y, 0)
    x1, y1 = min(x + w, W), min(y + h, H)
    if x1 - x0 < 3 or y1 - y0 < 1:
        return
    page[y0:y1, x0:x1] = INK if cls != "figure" else MEDIA_INK
    data = text.encode("utf-8")
    cap = (y1 - y0) * (x1 - x0) - 3
    data = data[:min(cap, 0xFDFF)]  # header bytes must stay < 0xFF
    flat = np.concatenate([
        np.array([len(data) >> 8, len(data) & 0xFF, _CODE_OF[cls]],
                 dtype=np.uint8),
        np.frombuffer(data, dtype=np.uint8),
    ])
    rect = page[y0:y1, x0:x1]
    rows, cols = np.divmod(np.arange(flat.size), x1 - x0)
    rect[rows, cols] = flat


def rasterize_minimal(data: bytes, page_width: int = 612) -> list[np.ndarray]:
    """Minimal-profile PDF bytes -> one uint8 gray page array per page.

    Reuses the repo's own decoder for geometry (``pdf_min``): each text
    block becomes an inked rect at its (x, y, w, h) with in-band payload;
    each media draw becomes a small 'figure' rect stacked down a reserved
    right-margin strip (the decoder carries no geometry for XObject
    draws).  Raises the decoder's ``UnsupportedPdfError`` for PDFs outside
    the minimal profile — the caller's fault isolation maps that to a
    parse failure, same as a missing-binary stack."""
    from .pdf_min import _extract_page_blocks, _page_streams

    pages: list[np.ndarray] = []
    for pageno, (content, height, fonts) in enumerate(
            _page_streams(bytes(data)), 1):
        page = np.full((max(int(height), 16), page_width), 255, dtype=np.uint8)
        media_n = 0
        for b in _extract_page_blocks(content, height, pageno, fonts):
            if b["kind"] == "media":
                _render_payload(page, page_width - 2 - _MEDIA_W,
                                2 + media_n * (_MEDIA_H + 4),
                                _MEDIA_W, _MEDIA_H, "figure", "")
                media_n += 1
            elif b["kind"] == "text_block":
                _render_payload(page, b["x"], b["y"], b["w"], b["h"],
                                b["etype"] if b["etype"] in _CODE_OF
                                else "plain text", b["text"])
        pages.append(page)
    return pages


def _runs(mask: np.ndarray) -> list[tuple[int, int]]:
    """[start, stop) runs of True in a 1-D bool array."""
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return []
    splits = np.flatnonzero(np.diff(idx) > 1)
    starts = np.concatenate([[idx[0]], idx[splits + 1]])
    stops = np.concatenate([idx[splits] + 1, [idx[-1] + 1]])
    return list(zip(starts.tolist(), stops.tolist()))


def _xy_cut(ink: np.ndarray, x0: int, y0: int, axis: int,
            depth: int, out: list) -> None:
    """Recursive XY-cut: alternate row/column projection splits until a
    region no longer splits, then emit its tight bbox."""
    proj = ink.any(axis=1 - axis)
    runs = _runs(proj)
    if len(runs) == 1 and depth > 0:
        # tighten to the run, flip axis
        a, b = runs[0]
        if axis == 0:
            _xy_cut(ink[a:b, :], x0, y0 + a, 1, depth - 1, out)
        else:
            _xy_cut(ink[:, a:b], x0 + a, y0, 0, depth - 1, out)
        return
    if not runs:
        return
    if depth == 0 or len(runs) == 1:
        ys, xs = np.nonzero(ink)
        out.append((x0 + int(xs.min()), y0 + int(ys.min()),
                    int(xs.max() - xs.min()) + 1, int(ys.max() - ys.min()) + 1))
        return
    for a, b in runs:
        if axis == 0:
            _xy_cut(ink[a:b, :], x0, y0 + a, 1, depth - 1, out)
        else:
            _xy_cut(ink[:, a:b], x0 + a, y0, 0, depth - 1, out)


def layout_model_projection(img: np.ndarray,
                            max_depth: int = 6) -> list[tuple]:
    """Projection-profile layout detection -> (x, y, w, h, cls, conf).

    Geometry is detected purely from pixels (recursive XY-cut over ink
    projections); the class comes from each detected rect's in-band code
    byte — the stand-in for the model's class head.  Confidence is 1.0
    for well-formed payloads, 0.0 (below the reference's conf>=0.2 gate,
    so dropped) for ink regions with a garbled header."""
    ink = img < 255
    boxes: list[tuple] = []
    _xy_cut(ink, 0, 0, 0, max_depth, boxes)
    out = []
    for (x, y, w, h) in boxes:
        code = int(img[y, x + 2]) if w >= 3 else -1
        cls = CLASS_CODES.get(code)
        out.append((x, y, w, h, cls or "plain text",
                    1.0 if cls is not None else 0.0))
    return out


def ocr_inband(crop: np.ndarray) -> str:
    """Decode one crop's in-band payload (the tesseract stand-in)."""
    if crop.size < 3 or crop.shape[1] < 3:
        return ""
    flat = crop.ravel()
    length = (int(flat[0]) << 8) | int(flat[1])
    payload = flat[3:3 + length]
    if payload.size < length:
        return ""
    return payload.astype(np.uint8).tobytes().decode("utf-8", "replace")


#: the zero-binary default stack: minimal-PDF rasterizer + projection
#: layout + in-band OCR
INBAND_STACK = (rasterize_minimal, layout_model_projection, ocr_inband)
