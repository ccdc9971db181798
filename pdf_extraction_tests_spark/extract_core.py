"""Pure-Python/numpy per-document extraction kernel.

This module is the *semantics* of the engine: a deterministic, single-process
re-expression of the reference's per-document pipeline
(``Document_Processor_DocLayout_YOLO_Code_v10.R``).  The per-document
functions are the reference and the local oracle for differential tests
(SURVEY.md §5).  The Spark layer (:mod:`pdf_extraction_tests_spark.pipeline`)
calls :func:`extract_batch` once per Arrow batch: the same stages, each run
once over the batch's whole region table (see the section at the end).

Representation note: documents are small (tens to hundreds of regions), so
the per-document functions work on plain lists of dict records — pandas
frames at this size cost ~10-30x in per-op overhead (measured: 35
docs/s/thread frame-based vs >400 list-based).  The batch kernel instead
holds one numpy column per field for all regions of the batch.

Per-document stages and their reference counterparts:

  parse spans -> region records    v10.R:26-179 (pdf_convert + YOLO + OCR)
  region filters                   v10.R:108, 173-175 (P1-P3 in SURVEY §2.2)
  column detection (largest gap)   v10.R:569-583 (A8); accept thresholds :551
  reading-order sort               v10.R:176, 271-274 (O1/O2)
  document format detection        v10.R:599-675 (A5 weighted regex argmax)
  title / authors / abstract       v10.R:1912-1957, 1085-1195, 1281-1531
  boilerplate strip                v10.R:1661-1685 (P8)
  boundary scan (intro..refs)      v10.R:1691-1776, 2007-2038 (W5)
  group-concat + sentence dedup    v10.R:1788-1814 (A1/A10)
  cleaning pipelines               v10.R:3431-3525 (§2.8)
  span emission                    output invariant: exact span-sequence
                                   equality (kind, text, media_ref, order)

No Spark imports here — keep the kernel testable without a JVM.
"""

from __future__ import annotations

import re
from operator import itemgetter
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# ---------------------------------------------------------------------------
# Constants mirrored from the reference
# ---------------------------------------------------------------------------

# element classes kept for OCR/extraction (v10.R:108)
KEEP_TYPES = frozenset(("plain text", "title", "abandon"))
BODY_TYPES = frozenset(("plain text", "title"))

# "substantial" region pre-filter before column detection (v10.R:524-530)
SUBSTANTIAL_MIN_CHARS = 20
SUBSTANTIAL_MIN_AREA = 1000
SUBSTANTIAL_SKIP_RE = re.compile(r"^(?:page|doi|figure|table)\s", re.IGNORECASE)

# column detection thresholds (v10.R:551, 575)
COLUMN_GAP_FRACTION = 0.15  # max x-gap must exceed 0.15 * page width
COLUMN_MIN_SUBSTANTIAL = 4  # need at least 4 substantial regions

# format detection (v10.R:599-675): per-class weighted regex rules over the
# page-1 publisher blob + layout hints, first-max-wins in the reference's
# list order.  Class vocabulary matches the reference exactly
# (golden: v10_ALTAIR.R:3770 'generic_academic').
FORMAT_CLASS_ORDER = [
    "nature_communications", "rsc", "elsevier", "mdpi", "generic_academic",
]
DEFAULT_FORMAT = "generic_academic"
# (class, points, pattern, literal gates) applied to publisher_text —
# v10.R:623-656 verbatim.  Each gate tuple is a NECESSARY condition for
# its regex (every alternative contains at least one gate substring), so
# a fast `in` scan skips the alternation regex on blobs that cannot match
# (same output; measured ~8 % of kernel time was these searches).
_FMT_PUB_RULES: list[tuple[str, float, re.Pattern, tuple[str, ...]]] = [
    ("mdpi", 5.0, re.compile(
        r"mdpi|biomolecules|nanomaterials|materials|sustainability|applied sciences"),
     ("mdpi", "biomolecul", "material", "sustainab", "applied sci")),
    ("mdpi", 3.0, re.compile(r"licensee mdpi|basel, switzerland"),
     ("licensee", "basel")),
    ("mdpi", 2.0, re.compile(
        r"academic editor:|received:.*revised:.*accepted:.*published:"),
     ("academic editor:", "received:")),
    ("nature_communications", 3.0, re.compile(
        r"nature.*communications|doi.*nature|nature\.com"),
     ("nature",)),
    ("rsc", 3.0, re.compile(
        r"royal society|environmental science|rsc\.li|rsc publishing"),
     ("royal societ", "environmental sci", "rsc")),
    ("elsevier", 5.0, re.compile(
        r"elsevier|sciencedirect|computational.*structural.*biotechnology"),
     ("elsevier", "sciencedirect", "biotechnolog")),
    ("elsevier", 3.0, re.compile(r"journal homepage.*www\.elsevier\.com"),
     ("journal homepage",)),
    ("elsevier", 2.0, re.compile(
        r"review article|research article|article info"),
     ("article",)),
]
# applied to ALL page-1 text (v10.R:655-657)
_FMT_ALLTEXT_RULE = ("elsevier", 2.0, re.compile(r"article\s+info|abstract.*keywords"))

# banded-path selection flags (v10.R:1363-1366): the reference's per-format
# abstract/band extraction triggers on these regexes over page-1 text,
# independently of detect_document_format's class
BAND_FLAG_RES: list[tuple[str, re.Pattern]] = [
    ("nature", re.compile(r"nature.*nanotechnology|nature.*communications")),
    ("jac", re.compile(r"journal.*antimicrobial.*chemotherapy")),
    ("jsm", re.compile(r"jsm nanotechnology|scimed.*central")),
    ("elsevier", re.compile(
        r"elsevier|sciencedirect|computational.*structural.*biotechnology")),
]

# MDPI-style front-matter / boilerplate strip (v10.R:1661-1685)
BOILERPLATE_PATTERNS = [
    r"^academic editor[s]?:",
    r"^received:",
    r"^accepted:",
    r"^published:",
    r"^revised:",
    r"^citation:",
    r"^copyright",
    r"licensee mdpi",
    r"creativecommons\.org",
    r"creative commons",
    r"^\*?\s*correspondence",
    r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    r"^orcid",
    r"doi\.org",
    r"^\*\s",
    r"this article is an open access",
]
BOILERPLATE_RE = re.compile("|".join(BOILERPLATE_PATTERNS), re.IGNORECASE)
# cheap literal gate: every BOILERPLATE_PATTERNS alternative requires at
# least one of these substrings (case-folded), so a fast `in` scan skips
# the expensive alternation regex on ~95% of regions
_BOILER_TOKENS = ("@", "doi.org", "creative", "licensee", "copyright",
                  "orcid", "corresponden", "editor", "received", "accepted",
                  "published", "revised", "citation", "open access", "*")


def _maybe_boilerplate(text: str, low: str | None = None) -> bool:
    low = text.lower() if low is None else low
    # plain loop, not any(genexpr): this gate runs once per region and the
    # generator frame overhead alone was ~8 % of kernel time (profiled)
    for tok in _BOILER_TOKENS:
        if tok in low:
            return BOILERPLATE_RE.search(text) is not None
    return False

# boundary scan markers.
# Intro: the reference's weighted intro score (v10.R:1697-1709) — components
# below; threshold >= 3, argmax desc(score) then row_id, fallback
# min(15, nrow) (:1716-1718).
INTRO_MDPI_RE = re.compile(r"^Abstract:\s+\w+")          # weight 10 (x is_mdpi)
# weight 5; the reference pattern "introduction|^1\.\s+introduction" over
# text_lower reduces to a plain substring test: the anchored branch implies
# the unanchored one.  A substring scan on the pre-lowered row (computed
# once and shared by every predicate) is ~5x faster than re.search and
# ~10x faster than re.IGNORECASE on the raw string (case folding disables
# re's fast literal scan) — this predicate runs on EVERY body row.
INTRO_GENERAL_TOKEN = "introduction"
INTRO_NUMBERED_RE = re.compile(r"^1\.\s+[A-Z]")          # weight 3
INTRO_STARTS_PROPERLY_RE = re.compile(r"^[A-Z][a-z]")    # weight 1 (+1 substantial)
INTRO_SCORE_THRESHOLD = 3
INTRO_FALLBACK_ROWS = 15
# End, primary: the reference's conservative end-score (v10.R:1866-1878):
# an exact References/Acknowledgments header, short, late (page >= 6), no
# doi/url — all four must hold (the score is a product).
END_HEADER_RE = re.compile(r"^\s*References\s*$|^\s*REFERENCES\s*$")
END_ACK_RE = re.compile(r"^\s*Acknowledgments?\s*$")
END_NOT_DOI_RE = re.compile(r"doi|www\.|http")
END_SHORT_CHARS = 50
END_LATE_PAGE = 6
# End, fallback (repo extension, simplified from the reference's end-matter
# marker scans v10.R:1743-1772 / 2160-2171): first end-matter heading after
# the start — keeps short documents (< 6 pages, where the conservative rule
# can never fire) trimmed.
END_RE = re.compile(
    r"^(references|bibliography|acknowledg(e)?ments?|author contributions?"
    r"|funding|conflicts? of interest|data availability|supplementary material)",
    re.IGNORECASE,
)
ABSTRACT_HEADER_RE = re.compile(r"^abstract\b[:.]?\s*", re.IGNORECASE)

# author scoring (v10.R:1085-1103, 1171-1195)
NAME_RE = re.compile(r"[A-Z][a-z]+\s+[A-Z][a-z]+")
_DIGIT_RE = re.compile(r"\d")
AUTHOR_PENALTY_RE = re.compile(r"abstract|introduction|keywords|received", re.IGNORECASE)
TITLE_PENALTY_RE = re.compile(r"^(abstract|introduction|keywords)", re.IGNORECASE)
# reference-verbatim title scorer gates (extract_title_universal,
# v10.R:1921-1939) — patterns copied character-for-character
TITLE_HEADER_WORD_RE = re.compile(
    r"^(nature|communications|journal|doi|article|open|paper)\s*$"  # :1921
)
TITLE_URL_PREFIX_RE = re.compile(r"^(DOI:|www\.|http)")             # :1922
TITLE_CASE_SHAPE_RE = re.compile(r"[A-Z].*[a-z]")                   # :1930
TITLE_META_WORD_RE = re.compile(r"journal|doi|volume|issue|page|copyright")  # :1936
TITLE_META_CHAR_RE = re.compile(r"\d{4}|@|\.edu|\.com")             # :1937
# reference-verbatim abstract scorer gates (extract_abstract_with_llm
# manual path, v10.R:1281-1302)
ABSTRACT_MARKER_RE = re.compile(r"^abstract|^summary")              # :1286
# the reference's domain-content branch, verbatim (:1289)
ABSTRACT_CONTENT_RE = re.compile(r"nanomaterials|nanocrystals|antibacterial")
ABSTRACT_STRIP_RE = re.compile(r"^(Abstract|ABSTRACT|Summary|SUMMARY):?\s*")  # :1330

# cleaning pipelines (v10.R:3431-3498)
_WS_RE = re.compile(r"\s+")
_WS_ODD_RE = re.compile(r"[^\S ]")  # any whitespace that isn't a plain space
_CITATION_RE = re.compile(r"\[\d+(?:[,–-]\s*\d+)*\]")
_DEHYPHEN_RE = re.compile(r"([a-z])-\s+([a-z])")
_PH_RE = re.compile(r"\bp\s*H\b")
_NM_RE = re.compile(r"(\d+)\s*nm\b")
_SUPERSCRIPT_RE = re.compile(r"(?<=[a-zA-Z])[\*†‡§](?=[\s,;]|$)")

# HTML boilerplate heuristics (north_star: text-density / link-density)
_HTML_BLOCK_RE = re.compile(
    r"<(h[1-6]|p|div|li|blockquote|pre|td|nav|footer|header|aside|script|style)\b[^>]*>"
    r"(.*?)</\1>",
    re.IGNORECASE | re.DOTALL,
)
_HTML_A_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)
_HTML_TAG_RE = re.compile(r"<[^>]+>")
_HTML_DROP_TAGS = {"nav", "footer", "header", "aside", "script", "style"}
HTML_LINK_DENSITY_MAX = 0.5
HTML_MIN_BLOCK_CHARS = 10


# ---------------------------------------------------------------------------
# Span parsing: interleaved input spans -> region records
# ---------------------------------------------------------------------------
# A region record is a plain dict with keys:
#   page, x, y, w, h, text, element_type, media_ref, offset, parse_failure


def _rec(page, x, y, w, h, text, etype, media_ref, offset, pf):
    return {
        "page": page, "x": x, "y": y, "w": w, "h": h, "text": text,
        "element_type": etype, "media_ref": media_ref, "offset": offset,
        "parse_failure": pf,
    }


# a header field must lie strictly inside +-GEOMETRY_LIMIT, which keeps every
# geometry sum (x + w) inside int64
GEOMETRY_LIMIT = 1 << 62


def parse_region_payload(payload: str) -> tuple[int, int, int, int, int, str, str] | None:
    """Parse the in-band region payload ``"page,x,y,w,h,element_type|text"``.

    Stands in for the reference's per-page YOLO + per-box tesseract boundary
    (v10.R:39-44, 131-152); malformed payloads (a header field ``int()``
    rejects, or one outside +-:data:`GEOMETRY_LIMIT`) are counted as parse
    failures, not raised — page-level fault isolation per v10.R:37, 188-190.
    """
    try:
        header, text = payload.split("|", 1)
        page_s, x_s, y_s, w_s, h_s, etype = header.split(",", 5)
        geo = (int(page_s), int(x_s), int(y_s), int(w_s), int(h_s))
    except (ValueError, AttributeError):
        return None
    if max(map(abs, geo)) >= GEOMETRY_LIMIT:
        return None
    return geo + (etype, text)


def strip_html_blocks(fragment: str) -> list[tuple[str, str]]:
    """Boilerplate-strip an HTML fragment via text/link-density heuristics.

    Returns ``[(element_type, text), ...]`` in document order.  Blocks inside
    nav/footer/aside/script/style, blocks with link density > 0.5, and blocks
    shorter than 10 chars are dropped (classic boilerpipe-style rules; the
    north_star mandates "boilerplate stripping via text-density/link-density
    DOM heuristics").
    """
    out: list[tuple[str, str]] = []
    for m in _HTML_BLOCK_RE.finditer(fragment or ""):
        tag = m.group(1).lower()
        inner = m.group(2)
        if tag in _HTML_DROP_TAGS:
            continue
        link_chars = sum(
            len(_HTML_TAG_RE.sub("", a.group(1))) for a in _HTML_A_RE.finditer(inner)
        )
        text = _WS_RE.sub(" ", _HTML_TAG_RE.sub("", inner)).strip()
        if len(text) < HTML_MIN_BLOCK_CHARS:
            continue
        if link_chars / max(len(text), 1) > HTML_LINK_DENSITY_MAX:
            continue
        etype = "title" if tag in ("h1", "h2") else "plain text"
        out.append((etype, text))
    return out


def spans_to_regions(spans: Iterable[dict]) -> list[dict]:
    """Convert one document's input spans to region records.

    ``spans`` is an iterable of dicts with keys kind/text/media_ref/offset.
    Media spans become placeholder rows (re-anchored to the geometry of the
    preceding block by :func:`reanchor_media`, which must run on the fully
    assembled document); parse failures become counter rows
    (parse_failure=1).  A NULL offset is the number of rows the earlier
    spans produced, so it depends on every earlier span of the doc.
    """
    rows: list[dict] = []
    for sp in spans:
        kind = sp.get("kind")
        text = sp.get("text")
        offset = sp.get("offset")
        offset = int(offset) if offset is not None else len(rows)
        if kind == "region":
            parsed = parse_region_payload(text or "")
            if parsed is None:
                rows.append(_rec(0, 0, 0, 0, 0, "", "parse_failure", None, offset, 1))
                continue
            page, x, y, w, h, etype, btext = parsed
            rows.append(_rec(page, x, y, w, h, btext, etype, None, offset, 0))
        elif kind == "html":
            for i, (etype, btext) in enumerate(strip_html_blocks(text)):
                # synthetic geometry: single column, document order == y order
                rows.append(_rec(1, 0, offset * 1000 + i * 10, 1000, 10,
                                 btext, etype, None, offset, 0))
        elif kind == "media":
            rows.append(_rec(0, 0, 0, 0, 0, "", "media", sp.get("media_ref"), offset, 0))
        else:  # plain 'text' span: pre-extracted block, order by offset
            rows.append(_rec(1, 0, offset * 1000, 1000, 10, text or "",
                             "plain text", None, offset, 0))
    return rows


def reanchor_media(records: list[dict]) -> list[dict]:
    """Anchor each media record at the geometry of the preceding block.

    Media has no layout coordinates; to keep it interleaved at its reading
    position it inherits (page, x, y) from the last text-bearing record
    before it in input (offset) order — the ``offset`` tiebreak in
    :func:`reading_order` then places it immediately after that block.
    Runs on the assembled per-document records so chunk-by-chunk parsing
    and single-pass parsing yield identical results.
    """
    out = sorted(records, key=lambda r: r["offset"])
    page, ax, ay = 1, 0, -1
    for r in out:
        et = r["element_type"]
        if et == "media":
            r["page"], r["x"], r["y"] = page, ax, ay
        elif et != "parse_failure":
            page, ax, ay = r["page"], r["x"], r["y"]
    return out


# ---------------------------------------------------------------------------
# Region filters (SURVEY §2.2 P1-P3)
# ---------------------------------------------------------------------------


def filter_regions(records: list[dict]) -> list[dict]:
    """Apply the reference's pre-extraction region filters.

    P3 keep {plain text, title, abandon} (v10.R:108); P1 non-empty text
    (v10.R:173); P2 drop 'abandon' on pages > 1 (kept on page 1 for format
    detection, v10.R:174-175).  'media' rows always survive.
    """
    out = []
    for r in records:
        et = r["element_type"]
        if et == "media":
            out.append(r)
            continue
        if et not in KEEP_TYPES:
            continue
        t = r["text"]
        if not t or t.isspace():  # == `not t.strip()` without the copy
            continue
        if et == "abandon" and r["page"] > 1:
            continue
        out.append(r)
    return out


# ---------------------------------------------------------------------------
# Column detection + reading order (SURVEY §2.4 A6/A8, §2.6 O1/O2)
# ---------------------------------------------------------------------------


def detect_column_boundary(page_records: list[dict]) -> float | None:
    """Largest-gap column boundary for one page (v10.R:569-583).

    Deterministic replacement for the reference's seed-dependent
    ``kmeans(nstart=20)`` (v10.R:542-567): round x-centers to 10s, sort
    unique, take the largest gap; accept iff gap > 0.15 * page width and
    both sides are non-empty.  Same accept thresholds as v10.R:551/575.
    """
    sub_centers = []
    page_right = 0
    for r in page_records:
        right = r["x"] + r["w"]
        if right > page_right:
            page_right = right
        t = r["text"]
        if (
            len(t) > SUBSTANTIAL_MIN_CHARS
            and r["w"] * r["h"] > SUBSTANTIAL_MIN_AREA
            and not SUBSTANTIAL_SKIP_RE.search(t)
        ):
            sub_centers.append(r["x"] + r["w"] / 2.0)
    if len(sub_centers) < COLUMN_MIN_SUBSTANTIAL or page_right <= 0:
        return None
    xs = sorted({round(c / 10.0) * 10.0 for c in sub_centers})
    if len(xs) < 2:
        return None
    gi, gmax = 0, 0.0
    for i in range(len(xs) - 1):
        g = xs[i + 1] - xs[i]
        if g > gmax:
            gi, gmax = i, g
    if gmax <= COLUMN_GAP_FRACTION * page_right:
        # secondary detector: deterministic 2-means (v10.R:542-567 method 1)
        return kmeans_1d_boundary(sub_centers, page_right)
    boundary = (xs[gi] + xs[gi + 1]) / 2.0
    left = sum(1 for c in sub_centers if c < boundary)
    if left == 0 or left == len(sub_centers):
        return None
    return boundary


KMEANS_MIN_GAP_FRACTION = 0.12   # v10.R:551: gap > 0.12 * page_width
KMEANS_MIN_SEPARATION = 0.3      # v10.R:551: betweenss/totss > 0.3


def kmeans_1d_boundary(x_centers: list[float], page_width: float) -> float | None:
    """Deterministic 1-D 2-means column split — secondary detector.

    The reference uses ``kmeans(substantial_x, centers=2, nstart=20)``
    (v10.R:542-567), which is seed-dependent; this is fixed-init Lloyd's
    (centroids start at min/max — for k=2 in 1-D this converges to the
    global optimum) with the reference's accept thresholds (v10.R:551):
    centroid gap > 0.12 * page width, between-SS/total-SS > 0.3, both
    clusters non-empty.  Used only when the primary largest-gap method
    (v10.R:569-583) declines.
    """
    if len(x_centers) < COLUMN_MIN_SUBSTANTIAL or page_width <= 0:
        return None
    xs = np.asarray(x_centers, dtype=float)
    c1, c2 = float(xs.min()), float(xs.max())
    if c2 - c1 <= 0:
        return None
    for _ in range(50):
        mid = (c1 + c2) / 2.0
        left, right = xs[xs < mid], xs[xs >= mid]
        if len(left) == 0 or len(right) == 0:
            return None
        n1, n2 = float(left.mean()), float(right.mean())
        if n1 == c1 and n2 == c2:
            break
        c1, c2 = n1, n2
    if (c2 - c1) <= KMEANS_MIN_GAP_FRACTION * page_width:
        return None
    mid = (c1 + c2) / 2.0
    left, right = xs[xs < mid], xs[xs >= mid]
    total_ss = float(((xs - xs.mean()) ** 2).sum())
    if total_ss <= 0:
        return None
    between_ss = len(left) * (left.mean() - xs.mean()) ** 2 + len(right) * (
        right.mean() - xs.mean()
    ) ** 2
    if between_ss / total_ss <= KMEANS_MIN_SEPARATION:
        return None
    return mid


_READING_ORDER_KEY = itemgetter("column", "y", "x", "offset")


def reading_order(records: list[dict]) -> list[dict]:
    """Column-aware reading-order sort: (page, column, y, x, offset).

    The reference sorts arrange(page, y, x) (v10.R:176) then re-sorts pages
    with a detected column boundary as arrange(column, y, x) (v10.R:271-274).
    ``offset`` is the explicit deterministic tiebreak (SURVEY §7 risk note)
    so two runs can never disagree on ties.  Adds ``column`` and ``row_id``.
    """
    if not records:
        return []
    by_page: dict[int, list[dict]] = {}
    for r in records:
        by_page.setdefault(r["page"], []).append(r)
    out: list[dict] = []
    for page in sorted(by_page):
        rows = by_page[page]
        boundary = detect_column_boundary(
            [r for r in rows if r["element_type"] != "media"]
        )
        if boundary is None:
            for r in rows:
                r["column"] = 1
        else:
            for r in rows:
                r["column"] = 1 if (r["x"] + r["w"] / 2.0) < boundary else 2
        # operator.itemgetter builds the sort key in C — measurably cheaper
        # than a lambda tuple on this per-document hot path (same ordering)
        rows.sort(key=_READING_ORDER_KEY)
        out.extend(rows)
    for i, r in enumerate(out):
        r["row_id"] = i
    return out


# ---------------------------------------------------------------------------
# Per-format page-1 band segmentation (SURVEY §2.2 P7 / §2.3 J2)
# ---------------------------------------------------------------------------
# The reference assigns page-1 regions to named bands by coordinate
# intervals per publisher format (Elsevier v10.R:246-255, Nature :294-306,
# JAC :344-358, JSM :392-406, generic :443-449) — semantically a range/
# interval join of regions against a per-format band table.
# Band spec rows: (band, x_lo, x_hi, y_lo, y_hi); None = unbounded.

BAND_SPECS: dict[str, list[tuple[str, float | None, float | None, float | None, float | None]]] = {
    "elsevier": [
        ("header", None, None, None, 300.0),
        ("title", None, None, 400.0, 700.0),
        ("authors", None, None, 700.0, 1000.0),
        ("article_info", None, 800.0, 1000.0, 1600.0),
        ("abstract", 800.0, None, 1000.0, 1600.0),
        ("body", None, None, 1600.0, None),
    ],
    "nature": [
        ("header", None, None, None, 200.0),
        ("title", None, None, 200.0, 450.0),
        ("authors", None, None, 450.0, 550.0),
        ("abstract", None, None, 550.0, 850.0),
        ("body", None, None, 850.0, None),
    ],
    "jac": [
        ("header", None, None, None, 300.0),
        ("title", None, None, 300.0, 650.0),
        ("authors", None, None, 650.0, 900.0),
        ("abstract", None, None, 900.0, 1800.0),
        ("body", None, None, 1800.0, None),
    ],
    "jsm": [
        ("header", None, None, None, 250.0),
        ("title", None, None, 250.0, 600.0),
        ("authors", None, None, 600.0, 850.0),
        ("abstract", None, None, 850.0, 1500.0),
        ("body", None, None, 1500.0, None),
    ],
}

# Nature requires a boxed abstract (area > 30000, v10.R:312-318);
# JSM area > 20000 (v10.R:410-416)
BOXED_ABSTRACT_MIN_AREA = {"nature": 30000, "jsm": 20000}

JAC_STRUCTURED_RE = re.compile(
    r"^(objectives?|methods?|results?|conclusions?)\s*:", re.IGNORECASE
)


def assign_bands(ordered: list[dict], doc_format: str) -> None:
    """Label page-1 regions with their format band (mutates ``band`` key).

    The interval membership test *is* the reference's y/x predicate chain
    (P7); regions matching no band get band=None, pages > 1 get 'body'.
    """
    spec = BAND_SPECS.get(doc_format)
    for r in ordered:
        if r["page"] > 1 or spec is None:
            r["band"] = "body"
            continue
        xc = r["x"] + r["w"] / 2.0
        y = r["y"]
        r["band"] = None
        for band, x_lo, x_hi, y_lo, y_hi in spec:
            if (
                (x_lo is None or xc >= x_lo)
                and (x_hi is None or xc < x_hi)
                and (y_lo is None or y >= y_lo)
                and (y_hi is None or y < y_hi)
            ):
                r["band"] = band
                break


def extract_abstract_banded(ordered: list[dict], doc_format: str) -> tuple[str, int]:
    """Per-format abstract extraction from the band segmentation.

    nature/jsm: the boxed abstract region (area over the format threshold)
    in the abstract band (v10.R:312-318, 410-416); jac: the structured
    Objectives:/Methods:/Results:/Conclusions: blocks concatenated in
    reading order (v10.R:344-386, 1439-1475); elsevier: right-column
    abstract-band text (x >= 800 split, v10.R:246-255, 2248-2263).
    Returns ("", -1) when the banded path finds nothing (caller falls back
    to the generic scorer).
    """
    cands = [r for r in ordered
             if r.get("band") == "abstract" and r["element_type"] in BODY_TYPES]
    if not cands:
        return "", -1
    if doc_format in BOXED_ABSTRACT_MIN_AREA:
        min_area = BOXED_ABSTRACT_MIN_AREA[doc_format]
        boxed = [r for r in cands if r["w"] * r["h"] > min_area]
        if boxed:
            best = max(boxed, key=lambda r: (r["w"] * r["h"], -r["row_id"]))
            return ABSTRACT_HEADER_RE.sub("", best["text"], count=1).strip(), best["row_id"]
        return "", -1
    if doc_format == "jac":
        structured = [r for r in cands if JAC_STRUCTURED_RE.match(r["text"])]
        if structured:
            return " ".join(r["text"] for r in structured), structured[-1]["row_id"]
        return "", -1
    if doc_format == "elsevier":
        text = " ".join(
            ABSTRACT_HEADER_RE.sub("", r["text"], count=1).strip() for r in cands
        ).strip()
        return (text, cands[-1]["row_id"]) if text else ("", -1)
    return "", -1


# ---------------------------------------------------------------------------
# MDPI X-zone filter (SURVEY §2.2 P9)
# ---------------------------------------------------------------------------

MDPI_XZONE_MIN_CHARS = 100
MDPI_XZONE_SLACK = 50


def mdpi_xzone_filter(body: list[dict]) -> list[dict]:
    """Drop the MDPI left mini-column (affiliations/badges) from main-text
    candidates: keep regions with x >= mean(x of long blocks) - 50
    (v10.R:2096-2111 via v9.R:1396's simplified X-zone method)."""
    longs = [r for r in body if len(r["text"]) > MDPI_XZONE_MIN_CHARS]
    if not longs:
        return body
    x_min = sum(r["x"] for r in longs) / len(longs)
    return [r for r in body if r["x"] >= x_min - MDPI_XZONE_SLACK]


# ---------------------------------------------------------------------------
# Lookahead end-scan (SURVEY §2.5 W4)
# ---------------------------------------------------------------------------

TRUNCATE_AFTER_RE = re.compile(r"\bclinical trial\b", re.IGNORECASE)
LOOKAHEAD_WINDOW = 5


def lookahead_end_scan(body: list[dict], start: int, end: int) -> int:
    """Bounded-frame lookahead (v10.R:1743-1772): if a row mentions the
    truncation marker and any of the next 5 rows is end-matter, end the
    body at that marker row — the rowsBetween(1, 5) lead-scan pattern."""
    in_range = [r for r in body if start <= r["row_id"] < end]
    for i, r in enumerate(in_range):
        # literal gate on the shared lowered copy: the IGNORECASE regex
        # (word-boundary check) only runs when the substring exists at all
        # — this predicate runs on EVERY body row.  ASCII-only: Unicode
        # case-folding (dotted/dotless I) can satisfy the regex where
        # str.lower() misses the substring (measured: 'clİnical trial'
        # matches re.I but fails both lower and casefold gates), so
        # non-ASCII rows skip the gate and always run the regex (rare)
        low = r.get("_tl")
        if (low is not None and "clinical trial" not in low
                and low.isascii()):
            continue
        if TRUNCATE_AFTER_RE.search(r["text"]):
            window = in_range[i + 1 : i + 1 + LOOKAHEAD_WINDOW]
            if any(END_RE.match(w["text"]) for w in window):
                return r["row_id"] + 1
    return end


# ---------------------------------------------------------------------------
# Format detection (SURVEY §2.4 A5)
# ---------------------------------------------------------------------------


def detect_document_format(records: list[dict]) -> str:
    """Reference-faithful format detector (v10.R:599-675).

    publisher_text = page-1 abandon + plain-text blob (lowercased,
    v10.R:612-620); all_text = every page-1 block (:601); each rule adds its
    points once if its regex hits; layout hints from the first page-1 region
    with y < 600 and > 30 chars (:658-672); generic_academic starts at 1 and
    the winner is the FIRST maximum in the reference's list order
    (R which.max, :672) — so a class that merely ties generic at 1 via a
    layout hint wins, exactly as the reference behaves.
    """
    p1 = [r for r in records if r["page"] <= 1 and r["element_type"] != "media"]
    all_text = " ".join(r.get("_tl") or (r["text"] or "").lower() for r in p1)
    publisher_text = " ".join(
        r.get("_tl") or (r["text"] or "").lower()
        for r in p1 if r["element_type"] in ("abandon", "plain text")
    )
    scores = {c: 0.0 for c in FORMAT_CLASS_ORDER}
    scores["generic_academic"] = 1.0
    for cls, pts, pat, gates in _FMT_PUB_RULES:
        if any(g in publisher_text for g in gates) and pat.search(
                publisher_text):
            scores[cls] += pts
    cls, pts, pat = _FMT_ALLTEXT_RULE
    if pat.search(all_text):
        scores[cls] += pts
    title_regions = sorted(
        (r for r in p1 if r["y"] < 600 and len(r["text"]) > 30),
        key=lambda r: (r["y"], r["offset"]),
    )
    if title_regions:
        title_y = title_regions[0]["y"]
        if title_y < 300:
            scores["nature_communications"] += 1.0
        if 200 < title_y < 400:
            scores["rsc"] += 1.0
    best = FORMAT_CLASS_ORDER[0]
    for c in FORMAT_CLASS_ORDER[1:]:
        if scores[c] > scores[best]:
            best = c
    return best


def detect_band_format(records: list[dict]) -> str | None:
    """Banded-path selector (v10.R:1363-1366): first matching flag regex
    over the page-1 text blob picks the per-format band/abstract path
    (nature/jac/jsm/elsevier); None -> generic scorer only."""
    blob = " ".join(
        r.get("_tl") or (r["text"] or "").lower() for r in records
        if r["page"] <= 1 and r["element_type"] != "media"
    )
    for name, pat in BAND_FLAG_RES:
        if pat.search(blob):
            return name
    return None


# ---------------------------------------------------------------------------
# Title / authors / abstract (SURVEY §2.10 U6 scoring heuristics)
# ---------------------------------------------------------------------------


def extract_title(ordered: list[dict]) -> tuple[str, int]:
    """Score-argmax title pick on page 1 — REFERENCE-VERBATIM weights
    (extract_title_universal, v10.R:1912-1957).

    Candidate filter: page 1, element_type in (plain text, title)
    (:1917-1919); exclude bare journal-header words (:1921) and
    DOI/url prefixes (:1922).  Score is the reference's first-match
    case_when (:1925-1931): YOLO title & nchar>30 -> 10; y<400 &
    40<nchar<300 -> 8; y<600 & nchar>30 & has [A-Z].*[a-z] -> 6; else 0.
    Penalty case_when (:1934-1939): metadata words -> -5; year/@/.edu/.com
    -> -3; nchar<20 -> -2.  Keep score > 3 (:1941), order desc(score) then
    y (:1942), row_id tiebreak.  The winner gets the reference's final
    clean (:1952-1954): collapse runs of whitespace to one space + trim.
    Returns (title, row_id); ("", -1) when no candidate survives (the
    reference's "Title not found", :1949).
    """
    best_key, best = None, None
    for r in ordered:
        if r["page"] != 1 or r["element_type"] not in ("plain text", "title"):
            continue
        t = r["text"]
        tl = r.get("_tl") or t.lower()
        if TITLE_HEADER_WORD_RE.match(tl) or TITLE_URL_PREFIX_RE.match(t):
            continue
        n = len(t)
        if r["element_type"] == "title" and n > 30:
            score = 10.0
        elif r["y"] < 400 and 40 < n < 300:
            score = 8.0
        elif r["y"] < 600 and n > 30 and TITLE_CASE_SHAPE_RE.search(t):
            score = 6.0
        else:
            # penalties only subtract: a 0-score row can never clear the >3
            # gate, so skip the (full-text) penalty regexes — hot-path save
            continue
        if TITLE_META_WORD_RE.search(tl):
            score -= 5.0
        elif TITLE_META_CHAR_RE.search(t):
            score -= 3.0
        elif n < 20:
            score -= 2.0
        if score <= 3.0:
            continue
        key = (-score, r["y"], r["row_id"])
        if best_key is None or key < best_key:
            best_key, best = key, r
    if best is None:
        return "", -1
    return _WS_RE.sub(" ", best["text"]).strip(), best["row_id"]


def extract_authors(ordered: list[dict], title_row: int) -> str:
    """Author-line pick by name-count score (v10.R:1085-1115).

    author_score = #"First Last" matches + #commas + digit-superscript bonus,
    penalized for section-header words; argmax desc(score), asc(y)
    (v10.R:1102-1115).
    """
    best_key, best = None, None
    for r in ordered:
        if r["page"] > 1 or r["element_type"] == "media" or r["row_id"] <= title_row:
            continue
        t = r["text"]
        low = r.get("_tl") or t.lower()
        # the penalty alternation is four plain literals — a substring scan
        # on the shared lowered copy beats re.IGNORECASE on the raw text
        # (case folding disables re's fast literal scan); same result as
        # AUTHOR_PENALTY_RE.search(t)
        penalized = ("abstract" in low or "introduction" in low
                     or "keywords" in low or "received" in low)
        score = (
            2.0 * len(NAME_RE.findall(t))
            + 0.5 * t.count(",")
            + (0.5 if _DIGIT_RE.search(t) else 0.0)
            - (5.0 if penalized else 0.0)
            - (5.0 if len(t) > 300 else 0.0)
        )
        if score < 2.0:
            continue
        key = (-score, r["y"], r["row_id"])
        if best_key is None or key < best_key:
            best_key, best = key, r
    return best["text"] if best is not None else ""


# author canonicalization (v10.R:3552-3575 split rules; :769-770 strip)
_AUTHOR_SUPERSCRIPT_RE = re.compile("[°*†‡§¶#¹²³⁴⁵⁶⁷⁸⁹⁰'\"?]")
_AUTHOR_AFFIL_DIGIT_RE = re.compile(r"\s*\b\d+(,\d+)*\b")
# LLM-artifact lines to drop.  TIGHTENED from the reference's bare prefix
# match `^(Here|The|Authors)` (v10.R:3560), which silently deletes real
# names like "Theodore Roosevelt" or "Theresa May" — the artifacts it
# targets are phrases ("Here are the authors", "The authors are"), so the
# drop requires the phrase shape; it also runs AFTER the comma split so a
# comma-separated line starting with such a name cannot vanish wholesale.
_AUTHOR_DROP_RE = re.compile(
    r"^(Here\s+(are|is)\b|The\s+(authors?|list|following)\b"
    r"|Authors?\b\s*($|:|are\b))"
)


def clean_author_list(authors: str) -> str:
    """Raw author line -> canonical ``"A; B; C"`` form.

    The reference's author post-processing (v10.R:3552-3575): split on
    ``;`` or newlines, trim, drop empty and LLM-artifact lines (see
    _AUTHOR_DROP_RE — tightened from the reference's bare Here/The/Authors
    prefix, and applied after the comma split); if a single comma-bearing
    element remains, split on commas; per name, strip superscript/
    affiliation marks (v10.R:769-770's character class) and affiliation
    digits, collapse whitespace.  Returns "" when nothing name-like
    (> 3 chars) survives — cf. golden
    "Lauren L. Prister; Shaohui Yin; Laty A. Cahoon" (v10_ALTAIR.R:3746).
    """
    if not authors:
        return ""
    parts = [p.strip() for p in re.split(r";|\n", authors)]
    parts = [p for p in parts if p]
    if len(parts) == 1 and "," in parts[0]:
        parts = [p.strip() for p in parts[0].split(",") if p.strip()]
    parts = [p for p in parts if not _AUTHOR_DROP_RE.match(p)]
    cleaned = []
    for p in parts:
        p = _AUTHOR_SUPERSCRIPT_RE.sub("", p)
        p = _AUTHOR_AFFIL_DIGIT_RE.sub("", p)
        p = _WS_RE.sub(" ", p).strip()
        if p:
            cleaned.append(p)
    if not any(len(p) > 3 for p in cleaned):
        return ""
    return "; ".join(cleaned)


def extract_abstract(ordered: list[dict]) -> tuple[str, int]:
    """Abstract pick — REFERENCE-VERBATIM weights (the aggressive manual
    search of extract_abstract_with_llm, v10.R:1281-1302, plus the
    largest-block fallback :1307-1315 and header strip :1330).

    could_be_abstract case_when (first match, :1285-1297): text starting
    abstract/summary (lowercased) -> 10; nchar>200 with the reference's
    domain-content words -> 8; nchar>150 & >=2 dots -> 6; nchar>100 &
    >=1 dot -> 4; else 0.  Keep >= 4 (:1299), order desc(score) then
    desc(nchar) (:1300), row_id tiebreak.  Fallback: largest page-1 block
    with nchar>50 (:1307-1311).  The 'Abstract:'/'Summary:' header is
    stripped from the winner (:1330).  The reference's candidate set is
    position-filtered only: it does not anchor on the title (v10.R:1281).
    Returns (abstract, row_id); ("", -1) when nothing qualifies ("Abstract
    not found", :1313).
    """
    p1 = [
        r for r in ordered
        if r["page"] == 1 and r["element_type"] != "media" and r["text"]
    ]
    best_key, best = None, None
    for r in p1:
        t = r["text"]
        tl = r.get("_tl") or t.lower()
        n = len(t)
        if ABSTRACT_MARKER_RE.match(tl):
            score = 10
        elif n > 200 and ABSTRACT_CONTENT_RE.search(t):
            score = 8
        else:
            dots = t.count(".") if n > 100 else 0
            if n > 150 and dots >= 2:
                score = 6
            elif n > 100 and dots >= 1:
                score = 4
            else:
                continue
        key = (-score, -n, r["y"], r["x"], r["row_id"])
        if best_key is None or key < best_key:
            best_key, best = key, r
    if best is None:  # final fallback: just the largest page-1 text block
        for r in p1:
            if len(r["text"]) > 50:
                key = (-len(r["text"]), r["y"], r["x"], r["row_id"])
                if best_key is None or key < best_key:
                    best_key, best = key, r
    if best is None:
        return "", -1
    # header strip (:1330) then the reference's whitespace collapse (:1331)
    out = ABSTRACT_STRIP_RE.sub("", best["text"], count=1)
    return _WS_RE.sub(" ", out).strip(), best["row_id"]


# ---------------------------------------------------------------------------
# Boilerplate strip + boundary scan (SURVEY §2.2 P8, §2.5 W5)
# ---------------------------------------------------------------------------


def strip_boilerplate(ordered: list[dict]) -> list[dict]:
    """Drop front-matter boilerplate rows (v10.R:1661-1685) and renumber
    (W2, v10.R:1685)."""
    out = [
        r for r in ordered
        if r["element_type"] == "media"
        or not _maybe_boilerplate(r["text"], r.get("_tl"))
    ]
    for i, r in enumerate(out):
        r["row_id"] = i
    return out


# Elsevier-specific boundary rules (v10.R:2342-2481; the reference marks
# its own Elsevier path "STILL NOT WORKING" at v10.R:3732 — these are its
# stated semantics with the broken parts omitted)
ELSEVIER_INFO_RE = re.compile(r"article info|keywords")
ELSEVIER_INTRO_RE = re.compile(r"^1\.\s+Introduction|^Introduction$")
ELSEVIER_END_RE = re.compile(
    r"^References\s*$|^Acknowledgments?|^Author\s+statement"
    r"|^CRediT\s+authorship|^Declaration\s+of\s+Competing"
    r"|^Compliance\s+with\s+ethics"
)
ELSEVIER_LEAK_RE = re.compile(r"^keywords:|^article info|^abbreviations",
                              re.IGNORECASE)


def scan_boundaries_elsevier(clean: list[dict]) -> tuple[int, int]:
    """Elsevier boundary scan (v10.R:2414-2447).

    start: first anchored Introduction heading outside the article-info
    box; fallback = the 3rd substantial (>100 chars) non-info page-1 row
    (v10.R:2425-2433).  end: first of the extended end-marker set
    (References/Acknowledgments/Author statement/CRediT/Declaration of
    Competing/Compliance with ethics, v10.R:2436-2441) — no page
    constraint, marker row excluded ([start, end) slice).
    """
    body = [r for r in clean if r["element_type"] in BODY_TYPES]
    if not body:
        return (0, 0)
    start = None
    for r in body:
        if ELSEVIER_INFO_RE.search(r["text"].lower()):
            continue
        if ELSEVIER_INTRO_RE.match(r["text"]):
            start = r["row_id"]
            break
    if start is None:
        substantial = [
            r for r in body
            if r["page"] <= 1 and len(r["text"]) > 100
            and not ELSEVIER_INFO_RE.search(r["text"].lower())
        ]
        if len(substantial) >= 3:
            start = substantial[2]["row_id"]
        else:
            start = body[min(10, len(body)) - 1]["row_id"]  # v10.R:2458 slice(10:..)
    end = None
    for r in body:
        if r["row_id"] > start and ELSEVIER_END_RE.match(r["text"]):
            end = r["row_id"]
            break
    if end is None:
        end = body[-1]["row_id"] + 1
    return (start, end)


def intro_score(text: str, is_mdpi: bool = False, low: str | None = None) -> int:
    """The reference's weighted intro score for one row (v10.R:1697-1709):
    has_mdpi_intro*10 + has_general_intro*5 + has_numbered_start*3 +
    is_substantial*1 + starts_properly*1.  ``low`` is the row's pre-lowered
    text (computed once per record in extract_from_records)."""
    low = text.lower() if low is None else low
    return (
        (10 if (is_mdpi and INTRO_MDPI_RE.match(text)) else 0)
        + (5 if INTRO_GENERAL_TOKEN in low else 0)
        + (3 if INTRO_NUMBERED_RE.match(text) else 0)
        + (1 if len(text) > 100 else 0)
        + (1 if INTRO_STARTS_PROPERLY_RE.match(text) else 0)
    )


def scan_boundaries(clean: list[dict], is_mdpi: bool = False) -> tuple[int, int]:
    """Boundary extraction with the reference's weighted scoring.

    start: argmax of :func:`intro_score` over rows scoring >= 3, ordered
    desc(intro_score) then row_id (v10.R:1697-1714); fallback = the
    min(15, nrow)-th text row (:1716-1718) — NOT the first intro-word match,
    so an abstract that merely *mentions* "introduction" loses to the real
    numbered heading.  end: first row passing the conservative end-score
    (exact References/Acknowledgments header x short x page>=6 x no-doi —
    v10.R:1866-1878); fallback: first end-matter heading after start (repo
    extension for short docs, simplified from v10.R:1743-1772); else one
    past the last row.  Returns (start_row_id, end_row_id), slice semantics
    [start, end) — cf. golden boundaries start=15 end=88
    (v10_ALTAIR.R:3764-3769).
    """
    body = [r for r in clean if r["element_type"] in BODY_TYPES]
    if not body:
        return (0, 0)
    best_key, start = None, None
    for r in body:
        s = intro_score(r["text"], is_mdpi, r.get("_tl"))
        if s >= INTRO_SCORE_THRESHOLD:
            key = (-s, r["row_id"])
            if best_key is None or key < best_key:
                best_key, start = key, r["row_id"]
    if start is None:
        start = body[min(INTRO_FALLBACK_ROWS, len(body)) - 1]["row_id"]
    end = None
    for r in body:  # primary: reference conservative end-score
        if r["row_id"] <= start:
            continue
        t = r["text"]
        if (
            (END_HEADER_RE.match(t) or END_ACK_RE.match(t))
            and len(t.strip()) < END_SHORT_CHARS
            and r["page"] >= END_LATE_PAGE
            and not END_NOT_DOI_RE.search(t.lower())
        ):
            end = r["row_id"]
            break
    if end is None:  # fallback: end-matter heading scan
        for r in body:
            if r["row_id"] > start and END_RE.match(r["text"]):
                end = r["row_id"]
                break
    if end is None:
        end = body[-1]["row_id"] + 1
    return (start, end)


# ---------------------------------------------------------------------------
# Cleaning (SURVEY §2.8) + sentence dedup (A10)
# ---------------------------------------------------------------------------


def dedupe_sentences(text: str) -> str:
    """Order-preserving sentence distinct (v10.R:1808-1814): split '. ',
    unique keeping first occurrence, rejoin."""
    parts = text.split(". ")
    seen: set[str] = set()
    out = []
    for p in parts:
        if p not in seen:
            seen.add(p)
            out.append(p)
    return ". ".join(out)


def clean_text(text: str, method: str = "hybrid") -> str:
    """Regex cleaning pipelines (v10.R:3431-3498, dispatch :3518-3525).

    'aggressive': whitespace collapse + citation strip + superscript strip.
    'academic' : adds dehyphenation + unit normalization (pH, nm).
    'hybrid'   : aggressive then academic (default, v10.R:3474-3498).
    """
    if not text:
        return ""
    s = text
    # literal gates: each sub-pattern needs the gated char/substring, so
    # the regex only runs when it could possibly match (same output)
    if method in ("aggressive", "hybrid"):
        if "[" in s:
            s = _CITATION_RE.sub("", s)
        if "*" in s or "†" in s or "‡" in s or "§" in s:
            s = _SUPERSCRIPT_RE.sub("", s)
    if method in ("academic", "hybrid"):
        if "-" in s:
            s = _DEHYPHEN_RE.sub(r"\1\2", s)
        if "H" in s:
            s = _PH_RE.sub("pH", s)
        if "nm" in s:
            s = _NM_RE.sub(r"\1 nm", s)
    # gate: every char [^\S ] can match is in a Separator/Other category,
    # so printable strings without a double space can't need the collapse
    # (str.isprintable is one C scan vs the regex's per-char machinery);
    # over-firing is harmless — collapsing single spaces is a no-op
    if "  " in s or (not s.isprintable() and _WS_ODD_RE.search(s)):
        s = _WS_RE.sub(" ", s)
    return s.strip()


# ---------------------------------------------------------------------------
# Whole-document extraction
# ---------------------------------------------------------------------------

EXTRACT_RESULT_COLUMNS = [
    "doc_id",
    "spans",
    "title",
    "authors",
    "abstract",
    "main_text",
    "boundary_start",
    "boundary_end",
    "document_format",
    "total_pages",
    "total_text_regions",
    "parse_failures",
]


def analyze_document(records: list[dict]) -> dict:
    """Shared analysis prelude: parsed records -> ordered/clean rows,
    title/authors/abstract picks, extraction boundaries.

    The per-document reference: used by :func:`extract_from_records` and the
    boundary-debug relation (:func:`boundary_debug_records`).  Production
    extraction runs the batch kernel (:func:`extract_batch`), a separate
    implementation that tests pin equal to this one.  The caller's records
    are left as they were: the stages below write into copies.
    """
    parse_failures = sum(r["parse_failure"] for r in records)
    live = [dict(r) for r in records if not r["parse_failure"]]
    if any(r["element_type"] == "media" for r in live):
        live = reanchor_media(live)
    kept = filter_regions(live)
    ordered = reading_order(kept)
    # ONE lowered copy per record, shared by every case-insensitive
    # predicate downstream (boilerplate gate, is_mdpi scan, intro score) —
    # re-lowering per predicate measurably halved kernel throughput
    for r in ordered:
        r["_tl"] = (r["text"] or "").lower()
    doc_format = detect_document_format(ordered)
    # banded paths trigger on the reference's flag regexes (v10.R:1363-1366),
    # independent of the 5-class detector
    band_format = detect_band_format(ordered)
    assign_bands(ordered, band_format)
    # is_mdpi per v10.R:1600-1601: detector class OR 'mdpi' anywhere in text
    is_mdpi = doc_format == "mdpi" or any("mdpi" in r["_tl"] for r in ordered)
    title, title_row = extract_title(ordered)
    authors = extract_authors(ordered, title_row)
    clean = strip_boilerplate(ordered)
    # per-format banded abstract first (P7/J2), generic scorer as fallback
    abstract, abstract_row = extract_abstract_banded(clean, band_format)
    if abstract_row < 0:
        abstract, abstract_row = extract_abstract(clean)
    if band_format == "elsevier":
        start, end = scan_boundaries_elsevier(clean)
    else:
        start, end = scan_boundaries(clean, is_mdpi=is_mdpi)
    body_rows = [r for r in clean if r["element_type"] in BODY_TYPES]
    end = lookahead_end_scan(body_rows, start, end)
    return {
        "parse_failures": int(parse_failures),
        "kept": kept,
        "ordered": ordered,
        "clean": clean,
        "body_rows": body_rows,
        "title": title,
        "authors": authors,
        "abstract": abstract,
        "start": start,
        "end": end,
        "doc_format": doc_format,
        "band_format": band_format,
        "is_mdpi": is_mdpi,
    }


def extract_from_records(doc_id: str, records: list[dict]) -> dict:
    """Run the full extraction given parsed region records."""
    a = analyze_document(records)
    kept, clean, body_rows = a["kept"], a["clean"], a["body_rows"]
    band_format, is_mdpi = a["band_format"], a["is_mdpi"]
    title, authors, abstract = a["title"], a["authors"], a["abstract"]
    start, end = a["start"], a["end"]
    doc_format, parse_failures = a["doc_format"], a["parse_failures"]
    main_rows = [r for r in body_rows if start <= r["row_id"] < end]
    if band_format == "elsevier":
        # drop article-info rows that leaked into the slice (v10.R:2452-2455)
        main_rows = [r for r in main_rows if not ELSEVIER_LEAK_RE.match(r["text"])]
    if is_mdpi:
        main_rows = mdpi_xzone_filter(main_rows)
    main_raw = " ".join(r["text"] for r in main_rows)
    main_text = clean_text(dedupe_sentences(main_raw))

    # span emission: every surviving non-abandon block in reading order,
    # media interleaved at its position; order = 0..n-1
    spans = []
    order = 0
    for r in clean:
        et = r["element_type"]
        if et == "media":
            spans.append({"kind": "media", "text": "", "media_ref": r["media_ref"],
                          "order": order})
        elif et in BODY_TYPES:
            spans.append({
                "kind": "title" if et == "title" else "text",
                "text": clean_text(r["text"]),
                "media_ref": None,
                "order": order,
            })
        else:
            continue
        order += 1
    n_text_regions = sum(1 for r in kept if r["element_type"] in BODY_TYPES)
    pages = [r["page"] for r in kept if r["element_type"] != "media"]
    return {
        "doc_id": doc_id,
        "spans": spans,
        "title": clean_text(title),
        "authors": clean_author_list(clean_text(authors)),
        "abstract": clean_text(abstract),
        "main_text": main_text,
        "boundary_start": start,
        "boundary_end": end,
        "document_format": doc_format,
        "total_pages": max(pages) if pages else 0,
        "total_text_regions": n_text_regions,
        "parse_failures": int(parse_failures),
    }


# ---------------------------------------------------------------------------
# Boundary-debug relation — the reference's manual-QA inspectors
# (debug_reading_order / debug_content_extraction, v10.R:3237-3428) as a
# QUERYABLE relation instead of console printout: the rows around each
# extraction boundary, flagged with whether they made the slice.
# ---------------------------------------------------------------------------

DEBUG_BOUNDARY_COLUMNS = [
    "doc_id", "row_id", "page", "y", "element_type", "text_preview",
    "near", "in_slice", "boundary_start", "boundary_end",
]
# rows this close to a boundary are shown: the reference inspector's width
# (v10.R:3258-3268)
DEBUG_CONTEXT = 3


def boundary_debug_records(doc_id: str, records: list[dict]) -> list[dict]:
    """Rows within :data:`DEBUG_CONTEXT` of the start/end boundary, per
    document.

    Runs :func:`analyze_document`, the per-document reference; its
    boundaries match what ``extract_docs`` emits because tests pin the batch
    kernel equal to that reference.  The str_trunc(text, 80) preview width
    mirrors the reference inspector (v10.R:3258-3268).
    """
    a = analyze_document(records)
    start, end = a["start"], a["end"]
    out: list[dict] = []
    for r in a["clean"]:
        if r["element_type"] == "media":
            continue
        rid = r["row_id"]
        near_start = abs(rid - start) <= DEBUG_CONTEXT
        near_end = abs(rid - end) <= DEBUG_CONTEXT
        if not (near_start or near_end):
            continue
        t = r["text"] or ""
        out.append({
            "doc_id": doc_id,
            "row_id": rid,
            "page": r["page"],
            "y": r["y"],
            "element_type": r["element_type"],
            "text_preview": t[:77] + "..." if len(t) > 80 else t,
            "near": "both" if near_start and near_end
                    else ("start" if near_start else "end"),
            "in_slice": start <= rid < end,
            "boundary_start": start,
            "boundary_end": end,
        })
    return out


# ---------------------------------------------------------------------------
# Simple universal extractor — the reference's SECOND extraction path.
# The reference ships two extractors and compares them on the same document
# (v8.R:3017-3033; process_document v10.R:678-743 vs process_document_simple
# v10.R:745-811 -> extract_content_simple_universal v10.R:1959-2068).
# Semantics: single arrange(page, y, x) reading order (no column detection,
# no banding, no element-class filtering), candidate picks by length/name
# heuristics, intro-heading start with a row-25 fallback, NO end trim.
# Document-specific content regexes in the reference's candidate filters
# (e.g. "Selection.*Silver") are generalized to their structural parts.
# ---------------------------------------------------------------------------

SIMPLE_MIN_CHARS = 5                      # v10.R:1964
SIMPLE_TITLE_EXCLUDE_RE = re.compile(r"journal|doi|university|department")
SIMPLE_AUTHOR_EXCLUDE_RE = re.compile(r"Department|University|Abstract")
SIMPLE_ABSTRACT_EXCLUDE_RE = re.compile(r"Department|University|Institute")
SIMPLE_INTRO_RE = re.compile(r"^(\d+[\.\)]?\s*)?Introduction\s*$")  # :2008
SIMPLE_INTRO_FALLBACK = 25                # v10.R:2038


def extract_simple_from_records(doc_id: str, records: list[dict]) -> dict:
    """The simple/universal extraction path over parsed region records.

    Returns the same record shape as :func:`extract_from_records` so the
    two paths are directly comparable (the reference's cross-extractor
    differential).  ``document_format`` is the literal 'auto_detected'
    (v10.R:799).  The caller's records are left as they were.
    """
    parse_failures = sum(r["parse_failure"] for r in records)
    live = [dict(r) for r in records if not r["parse_failure"]]
    if any(r["element_type"] == "media" for r in live):
        live = reanchor_media(live)
    rows = [
        r for r in live
        if r["element_type"] == "media"
        or len((r["text"] or "").strip()) > SIMPLE_MIN_CHARS
    ]
    rows.sort(key=lambda r: (r["page"], r["y"], r["x"], r["offset"]))
    for i, r in enumerate(rows):
        r["row_id"] = i
    text_rows = [r for r in rows if r["element_type"] != "media"]

    title = ""
    for r in text_rows:
        t = r["text"]
        if (r["page"] <= 1 and 20 < len(t) < 300
                and not SIMPLE_TITLE_EXCLUDE_RE.search(t.lower())):
            title = t
            break
    authors = ""
    for r in text_rows:
        t = r["text"]
        if (r["page"] <= 1 and len(NAME_RE.findall(t)) >= 3 and len(t) > 50
                and not SIMPLE_AUTHOR_EXCLUDE_RE.search(t)):
            authors = t
            break
    abstract, best_len = "", 0
    for r in text_rows:
        t = r["text"]
        if (r["page"] <= 1 and len(t) > 150 and t != title
                and not SIMPLE_ABSTRACT_EXCLUDE_RE.search(t)
                and len(t) > best_len):
            abstract, best_len = t, len(t)

    start = None
    for r in text_rows:
        if SIMPLE_INTRO_RE.match(r["text"]):
            start = r["row_id"]
            break
    if start is None and text_rows:
        start = text_rows[min(SIMPLE_INTRO_FALLBACK, len(text_rows)) - 1]["row_id"]
    if start is None:
        start = 0
    end = (text_rows[-1]["row_id"] + 1) if text_rows else 0  # no end trim

    main_raw = " ".join(
        r["text"] for r in text_rows if start <= r["row_id"] < end
    )
    main_text = clean_text(dedupe_sentences(main_raw))

    spans = []
    order = 0
    for r in rows:
        if r["element_type"] == "media":
            spans.append({"kind": "media", "text": "", "media_ref": r["media_ref"],
                          "order": order})
        else:
            spans.append({
                "kind": "title" if r["element_type"] == "title" else "text",
                "text": clean_text(r["text"]),
                "media_ref": None,
                "order": order,
            })
        order += 1
    pages = [r["page"] for r in text_rows]
    return {
        "doc_id": doc_id,
        "spans": spans,
        "title": clean_text(title),
        "authors": clean_author_list(clean_text(authors)),
        "abstract": clean_text(abstract),
        "main_text": main_text,
        "boundary_start": start,
        "boundary_end": end,
        "document_format": "auto_detected",
        "total_pages": max(pages) if pages else 0,
        "total_text_regions": len(text_rows),
        "parse_failures": int(parse_failures),
    }


def extract_simple_document(doc_id: str, spans: Iterable[dict]) -> dict:
    """spans-in -> simple-path extraction (dual-extractor differential)."""
    return extract_simple_from_records(doc_id, spans_to_regions(spans))


def extract_document(doc_id: str, spans: Iterable[dict]) -> dict:
    """spans-in -> extracted-doc-out; the per-document unit of work."""
    return extract_from_records(doc_id, spans_to_regions(spans))


def extract_docs_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Extract every document in a nested (doc_id, spans) pandas frame.

    The single-process local oracle for differential tests, running the
    per-document reference :func:`extract_document`; the Spark stage runs
    :func:`extract_batch`, which tests/test_batch_kernel.py pins equal to
    it.
    """
    results = [
        extract_document(row.doc_id, row.spans if row.spans is not None else [])
        for row in pdf.itertuples(index=False)
    ]
    if not results:
        return pd.DataFrame(columns=EXTRACT_RESULT_COLUMNS)
    return pd.DataFrame(results, columns=EXTRACT_RESULT_COLUMNS)


# ---------------------------------------------------------------------------
# Dual-extractor differential — BOTH paths in one pass (v8.R:3017-3033)
# ---------------------------------------------------------------------------

DUAL_RESULT_COLUMNS = [
    "doc_id", "title_match", "n_spans_smart", "n_spans_simple",
    "main_len_ratio",
]


def extract_dual_document(doc_id: str, spans: Iterable[dict]) -> dict:
    """Run the smart AND simple extractors over ONE parse of the document
    and emit the agreement record the reference's cross-extractor check
    compares (v8.R:3017-3033: both paths on the same PDF, then diff).

    Single-pass by construction: the spans are parsed to region records
    once (the expensive step — for PDF/HTML documents this is the byte
    decode), then both extractors read the same records (each works on
    its own copies).
    Distributed, this replaces two full pipelines + an equi-join with one
    mapInPandas stage — no shuffle at all.
    """
    recs = spans_to_regions(spans)
    smart = extract_from_records(doc_id, recs)
    simple = extract_simple_from_records(doc_id, recs)
    return {
        "doc_id": doc_id,
        "title_match": smart["title"] == simple["title"],
        "n_spans_smart": len(smart["spans"]),
        "n_spans_simple": len(simple["spans"]),
        "main_len_ratio": round(
            len(smart["main_text"]) / max(len(simple["main_text"]), 1), 4
        ),
    }


def extract_dual_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Dual-path analog of :func:`extract_docs_frame`."""
    results = [
        extract_dual_document(
            row.doc_id, row.spans if row.spans is not None else [])
        for row in pdf.itertuples(index=False)
    ]
    if not results:
        return pd.DataFrame(columns=DUAL_RESULT_COLUMNS)
    return pd.DataFrame(results, columns=DUAL_RESULT_COLUMNS)



# ---------------------------------------------------------------------------
# Batch kernel: each stage runs once per Arrow batch over one region table
# ---------------------------------------------------------------------------
# extract_batch returns, for a whole Arrow batch, what extract_document
# returns per doc, with the loop turned inside out: each stage runs once over
# one table of numpy columns holding every region of the batch, keyed by the
# doc's ROW POSITION in the batch (a repeated doc_id stays two docs).
# Reading order is one lexsort; per-doc scores are argmins over a sort; text
# predicates are single passes over the column sharing one lowered copy per
# region, and a literal that every match of a pattern needs is looked up
# once in the whole batch's text before the pattern runs on the rows that
# hold it.  Python loops over documents remain only where the rule is really
# per doc, and they index the precomputed columns: the column k-means
# fallback, the banded abstract, the lookahead scan, the main-text join and
# sentence dedupe, and the author list.  The per-document functions above
# stay the reference (extract_docs_frame, the span differentials and the
# per-stage trace run them).

# the flat crossing's span columns, in and out: kind, text, media_ref and
# offset (in) or order (out), one array per document
FLAT_SPAN_COLUMNS = ["_kinds", "_texts", "_refs", "_orders"]
EXTRACT_FLAT_COLUMNS = (
    [c for c in EXTRACT_RESULT_COLUMNS if c != "spans"] + FLAT_SPAN_COLUMNS)

# Literal gates for the page-1 blob patterns the reference runs ungated:
# every alternative of each pattern contains one of its gate strings, so a
# blob holding none of them cannot match
# (tests/test_batch_kernel.py::test_blob_gates_are_necessary).
_FMT_ALLTEXT_GATES = ("article", "keywords")
_BAND_FLAG_GATES = {
    "nature": ("nanotechnology", "communications"),
    "jac": ("antimicrobial",),
    "jsm": ("jsm nanotechnology", "scimed"),
    "elsevier": ("elsevier", "sciencedirect", "biotechnology"),
}


def _concat(col, dtype) -> np.ndarray:
    parts = [np.asarray(v, dtype=dtype) for v in col if v is not None]
    return np.concatenate(parts) if parts else np.empty(0, dtype)


def _flags(values) -> np.ndarray:
    return np.array(values, dtype=bool).reshape(-1)


def _objects(values) -> np.ndarray:
    out = np.empty(len(values), object)
    out[:] = values
    return out


def _first_per_doc(doc: np.ndarray, idx: np.ndarray, n_docs: int) -> np.ndarray:
    """Per doc, the first of the rows ``idx`` that belongs to it; -1 for a
    doc with none.  ``doc[idx]`` must be sorted."""
    out = np.full(n_docs, -1, np.int64)
    d = doc[idx]
    first = np.ones(len(d), bool)
    first[1:] = d[1:] != d[:-1]
    out[d[first]] = idx[first]
    return out


def _argmin_per_doc(doc, idx, keys, n_docs) -> np.ndarray:
    """Per doc, the row of ``idx`` with the smallest ``keys`` tuple (most
    significant first); -1 for a doc with none."""
    if len(idx):
        idx = idx[np.lexsort([k[idx] for k in reversed(keys)] + [doc[idx]])]
    return _first_per_doc(doc, idx, n_docs)


def _pick(values: np.ndarray, idx: np.ndarray, default) -> np.ndarray:
    """``values[idx]`` per doc, ``default`` where ``idx`` is -1."""
    if not len(values):
        return np.full(len(idx), default)
    return np.where(idx >= 0, values[np.maximum(idx, 0)], default)


def _doc_bounds(doc: np.ndarray, n_docs: int) -> np.ndarray:
    """Rows sorted by doc: doc ``d`` holds rows ``[b[d], b[d + 1])``."""
    return np.searchsorted(doc, np.arange(n_docs + 1))


def _rank_in_doc(doc: np.ndarray, n_docs: int) -> np.ndarray:
    """0-based position of each row within its doc (rows sorted by doc)."""
    return np.arange(len(doc)) - _doc_bounds(doc, n_docs)[doc]


def _arrow_strings(values: list[str]) -> pa.Array:
    """The strings as one Arrow array for literal gates.  A string with a
    lone surrogate (no UTF-8 form) makes them go in as surrogatepass bytes,
    where a UTF-8 literal is found exactly where it is found in the str."""
    try:
        return pa.array(values, pa.string())
    except UnicodeEncodeError:
        return pa.array([v.encode("utf-8", "surrogatepass") for v in values],
                        pa.binary())


def _contains_any(arr: pa.Array, tokens) -> np.ndarray:
    """Which strings hold one of the literal ``tokens`` as a substring: one
    RE2 pass over the batch, of an alternation of the escaped literals."""
    pattern = "|".join(re.sub(r"([\\.^$|?*+()\[\]{}])", r"\\\1", t)
                       for t in tokens)
    return pc.match_substring_regex(arr, pattern).to_numpy(zero_copy_only=False)


def _lens(texts: list) -> np.ndarray:
    return np.fromiter(map(len, texts), np.int64, len(texts))


# a payload whose five header fields are plain ASCII integers (up to 18
# digits, so inside +-GEOMETRY_LIMIT): int() reads each such field as its
# digits, so these payloads are found in one Arrow pass and split without a
# fallback
_STRICT_HEADER = r"^(?:-?[0-9]{1,18},){5}[^|]*\|"


def _parse_payloads(payloads: list[str]):
    """parse_region_payload over many payloads.  Returns (ok, geometry rows,
    element types, texts), with zeros and None where a payload fails.
    Strict payloads are read in one Arrow pass; the others go through
    parse_region_payload itself."""
    n = len(payloads)
    ok = np.zeros(n, bool)
    geo = np.zeros((n, 5), np.int64)
    etype, body = np.full(n, None, object), np.full(n, None, object)
    try:
        ok = _flags(pc.match_substring_regex(pa.array(payloads, pa.string()),
                                             _STRICT_HEADER))
    except UnicodeEncodeError:  # a lone surrogate: all go the reference way
        pass
    si = np.flatnonzero(ok)
    parts = [payloads[i].partition("|") for i in si.tolist()]
    fields = [head.split(",", 5) for head, _, _ in parts]
    geo[si] = np.array([f[:5] for f in fields], dtype=np.int64).reshape(-1, 5)
    etype[si] = [f[5] for f in fields]
    body[si] = [p[2] for p in parts]
    rest = np.flatnonzero(~ok)
    parsed = [parse_region_payload(payloads[i]) for i in rest.tolist()]
    rest = rest[_flags([p is not None for p in parsed])]
    parsed = [p for p in parsed if p is not None]
    if parsed:
        geo[rest] = np.array([p[:5] for p in parsed], dtype=np.int64)
        ok[rest] = True
        etype[rest] = [p[5] for p in parsed]
        body[rest] = [p[6] for p in parsed]
    return ok, geo, etype, body


def _batch_regions(pdf: pd.DataFrame) -> dict:
    """spans_to_regions for the whole batch, as one table of columns.  A
    NULL offset (None, or NaN once Arrow has made the int array float) is
    the number of regions the doc's earlier spans produced, as the
    reference numbers it over the assembled doc."""
    n_docs = len(pdf)
    lens = np.fromiter((0 if k is None else len(k) for k in pdf["_kinds"]),
                       np.int64, n_docs)
    kind = _concat(pdf["_kinds"], object)
    raw = _concat(pdf["_texts"], object)
    refs = _concat(pdf["_refs"], object)
    offs = _concat(pdf["_orders"], np.float64)
    n = len(kind)
    span_doc = np.repeat(np.arange(n_docs), lens)
    is_region, is_media, is_html = kind == "region", kind == "media", kind == "html"

    texts = [s or "" for s in raw.tolist()]
    text = _objects(texts)
    page, x, y = np.ones(n, np.int64), np.zeros(n, np.int64), np.zeros(n, np.int64)
    w, h = np.full(n, 1000, np.int64), np.full(n, 10, np.int64)
    etype = np.full(n, "plain text", object)
    ref = np.full(n, None, object)
    failed = np.zeros(n, bool)
    for col in (page, w, h):
        col[is_media] = 0
    etype[is_media], text[is_media], ref[is_media] = "media", "", refs[is_media]

    ridx = np.flatnonzero(is_region)
    ok, g, et, body = _parse_payloads([texts[i] for i in ridx.tolist()])
    good, bad = ridx[ok], ridx[~ok]
    for col in (page, x, w, h):
        col[bad] = 0
    etype[bad], text[bad], failed[bad] = "parse_failure", "", True
    page[good], x[good], y[good], w[good], h[good] = g[ok].T
    etype[good], text[good] = et[ok], body[ok]

    hidx = np.flatnonzero(is_html)
    blocks = [strip_html_blocks(raw[i]) for i in hidx.tolist()]
    per_span = np.ones(n, np.int64)
    per_span[hidx] = [len(b) for b in blocks]
    before = np.concatenate(([0], np.cumsum(per_span)))  # regions before span
    doc_base = before[np.cumsum(lens) - lens]  # regions before each doc
    null = np.isnan(offs)
    if null.any():
        offs = np.where(null, before[:-1] - doc_base[span_doc], offs)
    off = offs.astype(np.int64)
    plain = ~(is_region | is_media)
    y[plain] = off[plain] * 1000

    rs = np.repeat(np.arange(n), per_span)  # span of each region
    block = np.arange(len(rs)) - before[:-1][rs]  # html block index
    reg = {"doc": span_doc[rs], "page": page[rs], "x": x[rs],
           "y": y[rs] + 10 * block, "w": w[rs], "h": h[rs],
           "etype": etype[rs], "text": text[rs], "ref": ref[rs],
           "off": off[rs], "failed": failed[rs]}
    hrows = np.flatnonzero(is_html[rs])
    reg["etype"][hrows] = [e for b in blocks for e, _ in b]
    reg["text"][hrows] = [s for b in blocks for _, s in b]
    return reg


def _reanchor_media(reg: dict, n_docs: int) -> np.ndarray:
    """reanchor_media for every doc at once, as a forward fill: in (offset,
    position) order a live media region takes (page, x, y) from the doc's
    last earlier live region that is neither media nor a declared
    parse_failure, else (1, 0, -1).  Returns which docs hold live media."""
    doc, med, live = reg["doc"], reg["etype"] == "media", ~reg["failed"]
    has_media = np.bincount(doc[live & med], minlength=n_docs) > 0
    if not has_media.any():
        return has_media
    li = np.flatnonzero(live)
    o = li[np.lexsort((reg["off"][li], doc[li]))]  # stable: ties by position
    anchor = ~med[o] & (reg["etype"][o] != "parse_failure")
    last = np.maximum.accumulate(np.where(anchor, np.arange(len(o)), -1))
    first = np.searchsorted(doc[o], doc[o])
    mk = np.flatnonzero(med[o])
    src, found = o[last[mk]], last[mk] >= first[mk]
    for col, default in (("page", 1), ("x", 0), ("y", -1)):
        reg[col][o[mk]] = np.where(found, reg[col][src], default)
    return has_media


def _filter_regions(reg: dict) -> dict:
    """filter_regions over the table: the kept regions, in input order."""
    et = reg["etype"]
    blank = _flags([not s or s.isspace() for s in reg["text"].tolist()])
    keep = ~reg["failed"] & ((et == "media") | (
        ((et == "plain text") | (et == "title") | (et == "abandon")) & ~blank
        & ~((et == "abandon") & (reg["page"] > 1))))
    idx = np.flatnonzero(keep)
    return {k: v[idx] for k, v in reg.items()}


def _column_boundaries(t: dict, has_media: np.ndarray) -> np.ndarray:
    """detect_column_boundary for every (doc, page) of the kept regions at
    once; returns each region's page boundary, NaN where there is none."""
    doc, page, x, w, h = t["doc"], t["page"], t["x"], t["w"], t["h"]
    go = np.lexsort((page, doc))
    new = np.ones(len(doc), bool)
    new[1:] = (doc[go][1:] != doc[go][:-1]) | (page[go][1:] != page[go][:-1])
    gid = np.empty(len(doc), np.int64)
    gid[go] = np.cumsum(new) - 1
    n_groups = int(new.sum())
    nm = t["etype"] != "media"
    page_right = np.zeros(n_groups, np.int64)
    np.maximum.at(page_right, gid[nm], (x + w)[nm])
    ci = np.flatnonzero(nm & (_lens(t["text"].tolist()) > SUBSTANTIAL_MIN_CHARS)
                        & (w.astype(np.float64) * h > SUBSTANTIAL_MIN_AREA))
    skip = _flags([SUBSTANTIAL_SKIP_RE.search(s) is not None
                   for s in t["text"][ci].tolist()])
    si = ci[~skip]
    # the page's regions in the reference's order: input order, or (offset,
    # input order) in a doc with media; the k-means means depend on it.  The
    # table is in input order and lexsort is stable, so ties keep it.
    pre = np.where(has_media[doc[si]], t["off"][si], 0)
    si = si[np.lexsort((pre, gid[si]))]
    gs, centers = gid[si], x[si] + w[si] / 2.0
    n_sub = np.bincount(gs, minlength=n_groups)
    # sorted distinct rounded centers per group, and each group's first
    # widest gap between neighbours
    rounded = np.round(centers / 10.0) * 10.0 + 0.0
    uo = np.lexsort((rounded, gs))
    gu, xu = gs[uo], rounded[uo]
    uniq = np.ones(len(uo), bool)
    uniq[1:] = (gu[1:] != gu[:-1]) | (xu[1:] != xu[:-1])
    gu, xu = gu[uniq], xu[uniq]
    j = np.flatnonzero(gu[1:] == gu[:-1])  # gap xu[j] -> xu[j + 1]
    gj = _argmin_per_doc(gu, j, (-np.diff(xu),), n_groups)
    has_gap = gj >= 0
    gmax, mid = np.zeros(n_groups), np.full(n_groups, np.nan)
    gmax[has_gap] = xu[gj[has_gap] + 1] - xu[gj[has_gap]]
    mid[has_gap] = (xu[gj[has_gap]] + xu[gj[has_gap] + 1]) / 2.0
    eligible = ((n_sub >= COLUMN_MIN_SUBSTANTIAL) & (page_right > 0)
                & (np.bincount(gu, minlength=n_groups) >= 2))
    narrow = eligible & (gmax <= COLUMN_GAP_FRACTION * page_right)
    left = np.bincount(gs, weights=centers < mid[gs], minlength=n_groups)
    bound = np.full(n_groups, np.nan)
    split = eligible & ~narrow & (left > 0) & (left < n_sub)
    bound[split] = mid[split]
    starts = _doc_bounds(gs, n_groups)
    for gi in np.flatnonzero(narrow).tolist():
        b = kmeans_1d_boundary(centers[starts[gi]:starts[gi + 1]].tolist(),
                               int(page_right[gi]))
        if b is not None:
            bound[gi] = b
    return bound[gid]


def _gated_hits(blobs: list[str], rules) -> list[np.ndarray]:
    """Per (pattern, gate strings) rule, which blobs the pattern matches;
    it runs only on the blobs that hold one of its gate strings."""
    arr = _arrow_strings(blobs)
    out = []
    for pat, gates in rules:
        hit = np.zeros(len(blobs), bool)
        for i in np.flatnonzero(_contains_any(arr, gates)).tolist():
            hit[i] = pat.search(blobs[i]) is not None
        out.append(hit)
    return out


def _title_points(t: str, tl: str, n: int, base: float) -> float:
    """extract_title's score for a row whose layout score is ``base``."""
    if TITLE_HEADER_WORD_RE.match(tl) or TITLE_URL_PREFIX_RE.match(t):
        return 0.0
    if base == 6.0 and not TITLE_CASE_SHAPE_RE.search(t):
        return 0.0
    if TITLE_META_WORD_RE.search(tl):
        return base - 5.0
    if TITLE_META_CHAR_RE.search(t):
        return base - 3.0
    if n < 20:
        return base - 2.0
    return base


def _author_points(t: str, penalized: bool) -> float:
    """extract_authors' score for one row, term by term in its order."""
    return (
        2.0 * len(NAME_RE.findall(t))
        + 0.5 * t.count(",")
        + (0.5 if _DIGIT_RE.search(t) else 0.0)
        - (5.0 if penalized else 0.0)
        - (5.0 if len(t) > 300 else 0.0)
    )


def _abstract_points(t: str, tl: str, n: int) -> int:
    """extract_abstract's could_be_abstract score for one row (0: none)."""
    if ABSTRACT_MARKER_RE.match(tl):
        return 10
    if n > 200 and ABSTRACT_CONTENT_RE.search(t):
        return 8
    dots = t.count(".") if n > 100 else 0
    if n > 150 and dots >= 2:
        return 6
    if n > 100 and dots >= 1:
        return 4
    return 0


def _end_primary(t: str, tl: str) -> bool:
    """scan_boundaries' conservative end-score, bar the page test."""
    return bool((END_HEADER_RE.match(t) or END_ACK_RE.match(t))
                and len(t.strip()) < END_SHORT_CHARS
                and not END_NOT_DOI_RE.search(tl))


def _doc_formats(t: dict, lows: list[str], lows_arr: pa.Array, n_docs: int):
    """detect_document_format and detect_band_format per doc, from page-1
    blobs joined once per doc, and is_mdpi."""
    doc, page, y, et = t["doc"], t["page"], t["y"], t["etype"]
    p1 = np.flatnonzero((page <= 1) & (et != "media"))
    pub = p1[(et[p1] == "abandon") | (et[p1] == "plain text")]
    p1b, pubb = _doc_bounds(doc[p1], n_docs), _doc_bounds(doc[pub], n_docs)
    p1_low = [lows[i] for i in p1.tolist()]
    pub_low = [lows[i] for i in pub.tolist()]
    # the layout hint reads the lowest y of a page-1 region under 600 with
    # more than 30 characters
    top = _argmin_per_doc(doc, p1[(y[p1] < 600) & (t["len"][p1] > 30)], (y,),
                          n_docs)
    blobs = [" ".join(p1_low[p1b[d]:p1b[d + 1]]) for d in range(n_docs)]
    pubs = [" ".join(pub_low[pubb[d]:pubb[d + 1]]) for d in range(n_docs)]
    # detect_document_format: rule points, layout hints, first max wins
    scores = np.zeros((len(FORMAT_CLASS_ORDER), n_docs))
    scores[FORMAT_CLASS_ORDER.index("generic_academic")] = 1.0
    hits = _gated_hits(pubs, [(pat, gates) for _, _, pat, gates in _FMT_PUB_RULES])
    for (cls, pts, _, _), hit in zip(_FMT_PUB_RULES, hits):
        scores[FORMAT_CLASS_ORDER.index(cls)] += pts * hit
    cls, pts, pat = _FMT_ALLTEXT_RULE
    (hit,) = _gated_hits(blobs, [(pat, _FMT_ALLTEXT_GATES)])
    scores[FORMAT_CLASS_ORDER.index(cls)] += pts * hit
    title_y = _pick(y, top, 10**9)
    scores[FORMAT_CLASS_ORDER.index("nature_communications")] += title_y < 300
    scores[FORMAT_CLASS_ORDER.index("rsc")] += (title_y > 200) & (title_y < 400)
    formats = [FORMAT_CLASS_ORDER[k] for k in np.argmax(scores, axis=0).tolist()]
    # detect_band_format: the first flag pattern that matches
    bands = [None] * n_docs
    hits = _gated_hits(blobs, [(pat, _BAND_FLAG_GATES[name])
                               for name, pat in BAND_FLAG_RES])
    for (name, _), hit in reversed(list(zip(BAND_FLAG_RES, hits))):
        for d in np.flatnonzero(hit).tolist():
            bands[d] = name
    is_mdpi = (np.array(formats, dtype=object) == "mdpi") | (np.bincount(
        doc[_contains_any(lows_arr, ("mdpi",))], minlength=n_docs) > 0)
    return formats, bands, is_mdpi


def _abstract_band(t: dict, bands: list) -> np.ndarray:
    """assign_bands, for the one band read downstream: which regions fall
    in their doc's abstract band."""
    fmt = np.array(bands, dtype=object)[t["doc"]]
    xc = t["x"] + t["w"] / 2.0
    y = t["y"]
    out = np.zeros(len(y), bool)
    for name, spec in BAND_SPECS.items():
        free = (fmt == name) & (t["page"] <= 1)
        for band, x_lo, x_hi, y_lo, y_hi in spec:
            hit = free.copy()
            if x_lo is not None:
                hit &= xc >= x_lo
            if x_hi is not None:
                hit &= xc < x_hi
            if y_lo is not None:
                hit &= y >= y_lo
            if y_hi is not None:
                hit &= y < y_hi
            if band == "abstract":
                out |= hit
            free &= ~hit
    return out


def _abstracts(t, texts, lows, c, crid, bands, n_docs) -> list[str]:
    """extract_abstract_banded, then extract_abstract where it finds
    nothing, over the clean rows ``c`` (row ids ``crid``)."""
    doc, et, page, n = t["doc"], t["etype"], t["page"], t["len"]
    cdoc, med = doc[c], et[c] == "media"
    out = [""] * n_docs
    found = np.zeros(n_docs, bool)
    bc = c[_abstract_band(t, bands)[c] & ((et[c] == "plain text") | (et[c] == "title"))]
    bcb = _doc_bounds(doc[bc], n_docs)
    for d in np.flatnonzero(np.diff(bcb)).tolist():
        rows = [{"band": "abstract", "element_type": et[i], "text": texts[i],
                 "w": int(t["w"][i]), "h": int(t["h"][i]), "row_id": k}
                for k, i in enumerate(bc[bcb[d]:bcb[d + 1]].tolist())]
        text, k = extract_abstract_banded(rows, bands[d])
        if k >= 0:
            out[d], found[d] = text, True
    ap = np.flatnonzero((page[c] == 1) & ~med & ~found[cdoc])
    score = np.zeros(len(c))
    score[ap] = [_abstract_points(texts[i], lows[i], n[i]) for i in c[ap].tolist()]
    cn, cy, cx = n[c], t["y"][c], t["x"][c]
    pick = _argmin_per_doc(cdoc, ap[score[ap] > 0], (-score, -cn, cy, cx, crid),
                           n_docs)
    # fallback: the largest page-1 block over 50 characters
    fb = ap[(cn[ap] > 50) & (pick[cdoc[ap]] < 0)]
    pick = np.where(pick >= 0, pick,
                    _argmin_per_doc(cdoc, fb, (-cn, cy, cx, crid), n_docs))
    for d in np.flatnonzero(pick >= 0).tolist():
        s = ABSTRACT_STRIP_RE.sub("", texts[c[pick[d]]], count=1)
        out[d] = _WS_RE.sub(" ", s).strip()
    return out


def _boundaries(t, texts, lows, lows_arr, b, brid, elsevier, is_mdpi, n_docs):
    """scan_boundaries (or scan_boundaries_elsevier) then
    lookahead_end_scan, over the clean body rows ``b`` (row ids
    ``brid``).  Returns (start, end) per doc."""
    bdoc, page = t["doc"][b], t["page"][b]
    bt = [texts[i] for i in b.tolist()]
    bl = [lows[i] for i in b.tolist()]
    bn = t["len"][b]
    n_body = np.bincount(bdoc, minlength=n_docs)
    bb = _doc_bounds(bdoc, n_docs)
    has_body = n_body > 0

    def nth(k):  # the doc's min(k, n)-th body row
        return np.where(has_body, bb[:-1] + np.minimum(k, n_body) - 1, -1)

    els = elsevier[bdoc]
    ei = np.flatnonzero(els)
    # start: the best intro score >= 3, else the min(15, n)-th body row.
    # The score term by term; each anchored pattern runs on the rows that
    # can match it.
    intro = (5 * _contains_any(lows_arr, (INTRO_GENERAL_TOKEN,))[b] + (bn > 100)
             + _flags([INTRO_STARTS_PROPERLY_RE.match(s) is not None for s in bt]))
    num = np.flatnonzero(_flags([s.startswith("1.") for s in bt]))
    intro[num] += 3 * _flags([INTRO_NUMBERED_RE.match(bt[i]) is not None
                              for i in num.tolist()])
    mi = np.flatnonzero(is_mdpi[bdoc])
    intro[mi] += 10 * _flags([INTRO_MDPI_RE.match(bt[i]) is not None
                              for i in mi.tolist()])
    best = _argmin_per_doc(
        bdoc, np.flatnonzero((intro >= INTRO_SCORE_THRESHOLD) & ~els),
        (-intro, brid), n_docs)
    start = _pick(brid, np.where(best >= 0, best, nth(INTRO_FALLBACK_ROWS)), 0)
    # Elsevier start: the first anchored Introduction outside the article-
    # info box, else the 3rd substantial page-1 row, else the 10th body row
    info = np.zeros(len(b), bool)
    info[ei] = [ELSEVIER_INFO_RE.search(bl[i]) is not None for i in ei.tolist()]
    e_intro = np.zeros(len(b), bool)
    e_intro[ei] = [ELSEVIER_INTRO_RE.match(bt[i]) is not None for i in ei.tolist()]
    first = _first_per_doc(bdoc, np.flatnonzero(e_intro & ~info), n_docs)
    sub = np.flatnonzero(els & (page <= 1) & (bn > 100) & ~info)
    third = _first_per_doc(bdoc, sub[_rank_in_doc(bdoc[sub], n_docs) == 2], n_docs)
    e_start = np.where(first >= 0, first, np.where(third >= 0, third, nth(10)))
    start = np.where(elsevier, _pick(brid, e_start, 0), start)

    # end: the conservative end-score, else the first end-matter heading
    # (Elsevier: its own end markers), after start; else one past the last
    after = brid > start[bdoc]
    late = np.flatnonzero(~els & (page >= END_LATE_PAGE) & after)
    primary = late[_flags([_end_primary(bt[i], bl[i]) for i in late.tolist()])]
    end_re = np.zeros(len(b), bool)  # read after start only
    ai = np.flatnonzero(after)
    end_re[ai] = [END_RE.match(bt[i]) is not None for i in ai.tolist()]
    e_end = np.zeros(len(b), bool)
    e_end[ei] = [ELSEVIER_END_RE.match(bt[i]) is not None for i in ei.tolist()]
    end_at = _first_per_doc(bdoc, primary, n_docs)
    for rows in (np.flatnonzero(~els & end_re & after),
                 np.flatnonzero(els & e_end & after)):
        end_at = np.where(end_at >= 0, end_at, _first_per_doc(bdoc, rows, n_docs))
    end = np.where(end_at >= 0, _pick(brid, end_at, 0),
                   _pick(brid, np.where(has_body, bb[1:] - 1, -1), -1) + 1)

    # lookahead: a truncation marker with end matter in the next
    # LOOKAHEAD_WINDOW in-range rows ends the body after the marker; the
    # pattern runs where the lowered row holds "clinical trial" or is not
    # ASCII (lookahead_end_scan's gate)
    in_range = (brid >= start[bdoc]) & (brid < end[bdoc])
    ir = np.flatnonzero(in_range & (
        _contains_any(lows_arr, ("clinical trial",))[b]
        | ~_flags([s.isascii() for s in bl])))
    trunc = np.zeros(len(b), bool)
    trunc[ir] = [TRUNCATE_AFTER_RE.search(bt[i]) is not None for i in ir.tolist()]
    for d in np.unique(bdoc[trunc]).tolist():
        rows = np.flatnonzero(in_range[bb[d]:bb[d + 1]]) + bb[d]
        for k, i in enumerate(rows.tolist()):
            if trunc[i] and end_re[rows[k + 1:k + 1 + LOOKAHEAD_WINDOW]].any():
                end[d] = brid[i] + 1
                break
    return start, end


def _main_texts(t, texts, b, brid, start, end, elsevier, is_mdpi,
                n_docs) -> list[str]:
    """The body slice [start, end) joined per doc, less Elsevier
    article-info leaks and the MDPI x-zone, deduped and cleaned."""
    bdoc = t["doc"][b]
    main = np.flatnonzero((brid >= start[bdoc]) & (brid < end[bdoc]))
    em = main[elsevier[bdoc[main]]]
    leak = np.zeros(len(b), bool)
    leak[em] = [ELSEVIER_LEAK_RE.match(texts[i]) is not None
                for i in b[em].tolist()]
    main = b[main[~leak[main]]]
    mb = _doc_bounds(t["doc"][main], n_docs)
    x, n = t["x"], t["len"]
    out = []
    for d in range(n_docs):
        rows = main[mb[d]:mb[d + 1]].tolist()
        if is_mdpi[d]:  # mdpi_xzone_filter, on Python ints
            longs = [int(x[i]) for i in rows if n[i] > MDPI_XZONE_MIN_CHARS]
            if longs:
                x_min = sum(longs) / len(longs)
                rows = [i for i in rows if int(x[i]) >= x_min - MDPI_XZONE_SLACK]
        out.append(clean_text(dedupe_sentences(" ".join(texts[i] for i in rows))))
    return out


def extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Extract every document of one flat Arrow batch.

    ``pdf`` has ``doc_id`` and the :data:`FLAT_SPAN_COLUMNS` (one array per
    doc, or None for a NULL spans array).  The result has one row per input
    row, in order, with the :data:`EXTRACT_FLAT_COLUMNS`: row ``i`` is
    ``extract_document(doc_id[i], spans[i])`` with its
    spans split into the four flat arrays.
    """
    n_docs = len(pdf)
    reg = _batch_regions(pdf)
    parse_failures = np.bincount(reg["doc"], weights=reg["failed"],
                                 minlength=n_docs).astype(np.int64)
    has_media = _reanchor_media(reg, n_docs)
    t = _filter_regions(reg)

    # reading_order: a column per (doc, page), then one sort for the batch
    bound = _column_boundaries(t, has_media)
    col = np.where(np.isnan(bound) | (t["x"] + t["w"] / 2.0 < bound), 1, 2)
    # the table is in input order and lexsort is stable: input position is
    # the last tiebreak
    o = np.lexsort((t["off"], t["x"], t["y"], col, t["page"], t["doc"]))
    t = {k: v[o] for k, v in t.items()}
    doc, page, et = t["doc"], t["page"], t["etype"]
    texts = t["text"].tolist()
    lows = [s.lower() for s in texts]  # the one lowered copy per region
    t["len"] = _lens(texts)
    rid = _rank_in_doc(doc, n_docs)
    med = et == "media"
    body = (et == "plain text") | (et == "title")
    n_text_regions = np.bincount(doc[body], minlength=n_docs)
    total_pages = _pick(page, _argmin_per_doc(doc, np.flatnonzero(~med),
                                              (-page,), n_docs), 0)

    lows_arr = _arrow_strings(lows)
    formats, bands, is_mdpi = _doc_formats(t, lows, lows_arr, n_docs)

    # extract_title: layout score first, the pattern gates on its candidates
    n, y = t["len"], t["y"]
    base = np.where((et == "title") & (n > 30), 10.0,
                    np.where((y < 400) & (n > 40) & (n < 300), 8.0,
                             np.where((y < 600) & (n > 30), 6.0, 0.0)))
    ci = np.flatnonzero((page == 1) & body & (base > 0))
    score = np.zeros(len(doc))
    score[ci] = [_title_points(texts[i], lows[i], n[i], base[i])
                 for i in ci.tolist()]
    title_at = _argmin_per_doc(doc, ci[score[ci] > 3.0], (-score, y, rid), n_docs)
    title_rid = _pick(rid, title_at, -1)

    # extract_authors: page-1 rows after the title
    ai = np.flatnonzero((page <= 1) & ~med & (rid > title_rid[doc]))
    score = np.zeros(len(doc))
    penalized = _contains_any(lows_arr, ("abstract", "introduction", "keywords",
                                         "received")).tolist()
    score[ai] = [_author_points(texts[i], penalized[i]) for i in ai.tolist()]
    author_at = _argmin_per_doc(doc, ai[score[ai] >= 2.0], (-score, y, rid),
                                n_docs)

    # strip_boilerplate: the pattern runs on rows holding a gate token
    gi = np.flatnonzero(_contains_any(lows_arr, _BOILER_TOKENS) & ~med)
    boiler = np.zeros(len(doc), bool)
    boiler[gi] = [BOILERPLATE_RE.search(texts[i]) is not None for i in gi.tolist()]
    c = np.flatnonzero(~boiler)
    crid = _rank_in_doc(doc[c], n_docs)

    abstract = _abstracts(t, texts, lows, c, crid, bands, n_docs)
    b, brid = c[body[c]], crid[body[c]]
    elsevier = np.array([f == "elsevier" for f in bands], dtype=bool)
    start, end = _boundaries(t, texts, lows, lows_arr, b, brid, elsevier,
                             is_mdpi, n_docs)
    main_text = _main_texts(t, texts, b, brid, start, end, elsevier, is_mdpi,
                            n_docs)

    # span emission: every clean media or body row, in reading order
    e = c[med[c] | body[c]]
    emed = med[e]
    kinds = _objects(np.where(emed, "media", np.where(
        et[e] == "title", "title", "text")).tolist())
    out_text = _objects([
        "" if m else clean_text(texts[i])
        for i, m in zip(e.tolist(), emed.tolist())])
    refs = np.where(emed, t["ref"][e], None)
    orders = _rank_in_doc(doc[e], n_docs).astype(np.int32)
    eb = _doc_bounds(doc[e], n_docs)

    out = pd.DataFrame({
        "doc_id": pdf["doc_id"].to_numpy(),
        "title": [clean_text(_WS_RE.sub(" ", texts[i]).strip())
                  if i >= 0 else "" for i in title_at.tolist()],
        "authors": [clean_author_list(clean_text(texts[i]))
                    if i >= 0 else "" for i in author_at.tolist()],
        "abstract": [clean_text(a) for a in abstract],
        "main_text": main_text,
        "boundary_start": start,
        "boundary_end": end,
        "document_format": formats,
        "total_pages": total_pages,
        "total_text_regions": n_text_regions,
        "parse_failures": parse_failures,
    })
    for name, col in zip(FLAT_SPAN_COLUMNS, (kinds, out_text, refs, orders)):
        out[name] = [col[eb[d]:eb[d + 1]] for d in range(n_docs)]
    return out


def layout_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """The layout rows of one flat Arrow batch, read off its region table:
    row for row what :func:`spans_to_regions` gives per doc, docs in batch
    order, as the LAYOUT columns (geometry and class, no text)."""
    reg = _batch_regions(pdf)
    return pd.DataFrame({
        "doc_id": pdf["doc_id"].to_numpy()[reg["doc"]],
        "page": reg["page"], "x": reg["x"], "y": reg["y"],
        "w": reg["w"], "h": reg["h"], "element_type": reg["etype"],
        "media_ref": reg["ref"], "offset": reg["off"],
        "parse_failure": reg["failed"].astype(np.int64),
    })
