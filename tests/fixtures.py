"""Hand-crafted fixture documents with hand-computed golden outputs.

Mirrors the reference's captured golden output methodology
(Document_Processor_DocLayout_YOLO_Code_v10_ALTAIR.R:3739-3798): each fixture
is a small interleaved document plus the exact expected span sequence
(kind, text, media_ref, order) and section-level values.  Also the
byte-level fixture writers the source tests decode: :func:`write_minimal_pdf`
(a valid minimal-profile PDF) and :func:`write_spdf` (an SPDF container);
and :func:`canned_chat_fn`, the deterministic responder the LLM-hook tests
plug in.
"""

from __future__ import annotations

import zlib

from pdf_extraction_tests_spark.sources.binary_docs import SPDF_MAGIC


def span(kind, text="", media_ref=None, offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def region(page, x, y, w, h, etype, text, offset):
    return span("region", f"{page},{x},{y},{w},{h},{etype}|{text}", None, offset)


# --- fixture 1: generic single-column academic doc -------------------------
ABS1 = "This synthetic paper demonstrates deterministic extraction of ordered spans from an interleaved document model with enough characters to pass the abstract length threshold used by the simple path."
BODY1A = "The first body paragraph describes the experimental setup in detail."
BODY1B = "The second body paragraph reports results [1] and discusses p H ranges."

# geometry note: the title sits at y=420 (>= 400) so neither reference
# layout hint fires (title_y < 300 -> nature_communications+1,
# 200 < title_y < 400 -> rsc+1, v10.R:658-672) and the detector's
# generic_academic baseline of 1 wins — the typical unmarked-paper case.
GENERIC_DOC = {
    "doc_id": "fix_generic",
    "spans": [
        region(1, 200, 420, 2000, 90, "title", "Deterministic Extraction Of Ordered Spans", 0),
        region(1, 200, 480, 1800, 60, "plain text", "Alice Example, Bob Sample 1,2", 1),
        region(1, 200, 540, 2000, 200, "plain text", f"Abstract {ABS1}", 2),
        region(1, 200, 700, 2000, 50, "title", "1. Introduction", 3),
        region(1, 200, 800, 2000, 180, "plain text", BODY1A, 4),
        span("media", "", "img://fix/0", 5),
        region(2, 100, 60, 800, 30, "abandon", "Page 2 running header", 6),
        region(2, 200, 200, 2000, 180, "plain text", BODY1B, 7),
        region(2, 200, 3200, 1000, 60, "title", "References", 8),
        region(2, 200, 3300, 1000, 120, "plain text", "1. Example A. 2024.", 9),
    ],
}
GENERIC_GOLDEN = {
    "title": "Deterministic Extraction Of Ordered Spans",
    # canonical "A; B; C" author form (clean_author_list, v10.R:3552-3575)
    "authors": "Alice Example; Bob Sample",
    "abstract": ABS1,
    # main text: rows [start=3(intro title), end=6(References)) minus media,
    # citation [1] stripped, "p H" -> not matched (pH rule needs p\s*H token) —
    # actually "p H" matches \bp\s*H\b -> "pH"
    "main_text": "1. Introduction " + BODY1A + " " +
                 BODY1B.replace(" [1]", "").replace("p H", "pH"),
    "document_format": "generic_academic",
    "total_pages": 2,
    "boundary_start": 3,
    "boundary_end": 7,  # References is row 7 after media row at 6? see test
    "spans": [
        ("title", "Deterministic Extraction Of Ordered Spans", None, 0),
        ("text", "Alice Example, Bob Sample 1,2", None, 1),
        ("text", f"Abstract {ABS1}", None, 2),
        ("title", "1. Introduction", None, 3),
        ("text", BODY1A, None, 4),
        ("media", "", "img://fix/0", 5),
        ("text", BODY1B.replace(" [1]", "").replace("p H", "pH"), None, 6),
        ("title", "References", None, 7),
        ("text", "1. Example A. 2024.", None, 8),
    ],
}

# --- fixture 2: two-column page (column-aware reading order) ---------------
# Two clear x-clusters: left ~150..1150 (centers ~650), right 1350..2350
# (centers ~1850); page width 2480 -> gap 1200 > 0.15*2480=372 -> two columns.
TWO_COL_DOC = {
    "doc_id": "fix_twocol",
    "spans": [
        # interleaved detection order: right column block arrives first
        region(1, 1350, 300, 1000, 180, "plain text",
               "Right column first paragraph with sufficient characters here.", 0),
        region(1, 150, 300, 1000, 180, "plain text",
               "Left column first paragraph with sufficient characters here.", 1),
        region(1, 150, 600, 1000, 180, "plain text",
               "Left column second paragraph with sufficient characters here.", 2),
        region(1, 1350, 600, 1000, 180, "plain text",
               "Right column second paragraph with sufficient characters too.", 3),
    ],
}
TWO_COL_EXPECTED_ORDER = [
    "Left column first paragraph with sufficient characters here.",
    "Left column second paragraph with sufficient characters here.",
    "Right column first paragraph with sufficient characters here.",
    "Right column second paragraph with sufficient characters too.",
]

# --- fixture 3: MDPI boilerplate-heavy ---------------------------------------
MDPI_DOC = {
    "doc_id": "fix_mdpi",
    "spans": [
        region(1, 120, 40, 600, 30, "abandon", "mdpi Journal of Synthetic Results, MDPI, Basel", 0),
        region(1, 200, 150, 2000, 90, "title", "A Boilerplate Heavy Synthetic Article", 1),
        region(1, 120, 860, 600, 30, "plain text", "Academic Editor: Rosa Example", 2),
        region(1, 120, 900, 600, 30, "plain text", "Received: 2 Jan 2024; Accepted: 9 Jan 2024", 3),
        region(1, 120, 940, 600, 30, "plain text", "Citation: Example, A. MDPI 2024", 4),
        region(1, 120, 980, 600, 30, "plain text", "* Correspondence: author@example.org", 5),
        region(1, 200, 700, 2000, 50, "title", "1. Introduction", 6),
        region(1, 200, 1100, 2000, 180, "plain text", "Body paragraph of the mdpi fixture.", 7),
    ],
}
# boilerplate rows 2-5 must be stripped; format must be detected as mdpi
MDPI_EXPECTED_TEXTS = [
    "A Boilerplate Heavy Synthetic Article",
    "1. Introduction",
    "Body paragraph of the mdpi fixture.",
]

# --- fixture 4: HTML fragment doc -------------------------------------------
HTML_DOC = {
    "doc_id": "fix_html",
    "spans": [
        span(
            "html",
            "<nav><a href='/'>home</a> <a href='/b'>browse all topics</a></nav>"
            "<h1>Synthetic Page Heading</h1>"
            "<p>The main article content paragraph is long enough to keep.</p>"
            "<div><a href='/ad'>sponsored link farm click here for prizes today</a></div>"
            "<p>A second content paragraph that should also be kept intact.</p>"
            "<footer>copyright footer junk</footer>",
            None,
            0,
        ),
        span("media", "", "img://html/0", 1),
    ],
}
HTML_EXPECTED = [
    ("title", "Synthetic Page Heading", None, 0),
    ("text", "The main article content paragraph is long enough to keep.", None, 1),
    ("text", "A second content paragraph that should also be kept intact.", None, 2),
    ("media", "", "img://html/0", 3),
]

# --- fixture 5: parse failure isolation --------------------------------------
BROKEN_DOC = {
    "doc_id": "fix_broken",
    "spans": [
        region(1, 200, 150, 2000, 90, "title", "Valid Title Region Here", 0),
        span("region", "garbage-without-separator", None, 1),
        region(1, 200, 800, 2000, 180, "plain text",
               "Valid body paragraph that survives the broken sibling span.", 2),
    ],
}

# --- fixture 6: Nature boxed-abstract banding (v10.R:290-338) ----------------
NATURE_ABS = "A boxed abstract body without any header prefix that the nature band rule must find by area."
NATURE_DOC = {
    "doc_id": "fix_nature",
    "spans": [
        region(1, 200, 40, 1200, 30, "abandon",
               "nature communications | springer nature synthetic edition", 0),
        region(1, 200, 250, 2000, 90, "title", "A Nature Banded Synthetic Article", 1),
        region(1, 200, 470, 1800, 60, "plain text", "Alice Example, Bob Sample 1,2", 2),
        # y=600 in abstract band [550, 850); area 2000*220 > 30000 => boxed
        region(1, 200, 600, 2000, 220, "plain text", NATURE_ABS, 3),
        region(1, 200, 900, 2000, 50, "title", "1. Introduction", 4),
        region(1, 200, 1000, 2000, 180, "plain text", "Nature fixture body paragraph.", 5),
    ],
}

# --- fixture 7: JAC structured abstract (v10.R:340-386, 1439-1475) ------------
# JAC is a FLAG-selected band path (v10.R:1364), not a detector class —
# the 5-class detector labels this doc generic_academic (title y=450 fires
# no layout hint) while the structured-abstract extraction still runs.
JAC_DOC = {
    "doc_id": "fix_jac",
    "spans": [
        region(1, 120, 40, 1200, 30, "abandon",
               "Journal of Antimicrobial Chemotherapy synthetic issue", 0),
        region(1, 200, 450, 2000, 90, "title", "A JAC Structured Abstract Article", 1),
        region(1, 200, 700, 1800, 60, "plain text", "Alice Example, Bob Sample 1,2", 2),
        region(1, 200, 950, 2000, 160, "plain text", "Objectives: test the band rule.", 3),
        region(1, 200, 1150, 2000, 160, "plain text", "Methods: synthetic regions.", 4),
        region(1, 200, 1350, 2000, 160, "plain text", "Results: bands detected.", 5),
        region(1, 200, 1550, 2000, 160, "plain text", "Conclusions: parity held.", 6),
        region(1, 200, 1900, 2000, 50, "title", "1. Introduction", 7),
        region(1, 200, 2000, 2000, 180, "plain text", "JAC fixture body paragraph.", 8),
    ],
}
JAC_EXPECTED_ABSTRACT = (
    "Objectives: test the band rule. Methods: synthetic regions. "
    "Results: bands detected. Conclusions: parity held."
)

# --- fixture 8: Elsevier left-info / right-abstract split (v10.R:246-255) -----
ELSEVIER_DOC = {
    "doc_id": "fix_elsevier",
    "spans": [
        region(1, 120, 40, 900, 30, "abandon",
               "Contents lists available at ScienceDirect - Elsevier", 0),
        region(1, 200, 450, 2000, 90, "title", "An Elsevier Banded Synthetic Article", 1),
        region(1, 200, 750, 1800, 60, "plain text", "Alice Example, Bob Sample 1,2", 2),
        # left column x_center 425 < 800 => article_info band (dropped from abstract)
        region(1, 150, 1050, 550, 400, "plain text",
               "Article history: synthetic keywords list and info", 3),
        # right column x_center 1600 >= 800 => abstract band
        region(1, 900, 1050, 1400, 400, "plain text",
               "Abstract The elsevier right column abstract body text.", 4),
        region(1, 200, 1700, 2000, 50, "title", "1. Introduction", 5),
        region(1, 200, 1800, 2000, 180, "plain text", "Elsevier fixture body paragraph.", 6),
    ],
}
ELSEVIER_EXPECTED_ABSTRACT = "The elsevier right column abstract body text."

ALL_FIXTURES = [GENERIC_DOC, TWO_COL_DOC, MDPI_DOC, HTML_DOC, BROKEN_DOC,
                NATURE_DOC, JAC_DOC, ELSEVIER_DOC]


# ---------------------------------------------------------------------------
# Deterministic minimal-PDF writer: text + image XObjects,
# FlateDecode content streams — valid per ISO 32000 minimal profile.
# ---------------------------------------------------------------------------


def write_minimal_pdf(pages: list[list[tuple]], compress: bool = True,
                      page_height: float = 792.0,
                      objstm: bool = False,
                      font_encoding: bytes | None = None) -> bytes:
    """Build a valid one-font PDF.

    ``pages`` is a list of pages; each page a list of items:
    ``("text", x, y_top, size, text)``, ``("image", name)`` (draws the
    shared 2x2 gray image), or ``("xobject", name, filter_name, payload)``
    — an image XObject of its own whose stream is ``payload`` verbatim
    under ``/Filter /<filter_name>`` (the text path never decodes it).
    y is given TOP-left (engine convention) and converted to PDF user space.
    ``objstm=True`` packs the page-tree dict objects into a FlateDecode
    ``/ObjStm`` (the PDF 1.5+ layout) — the reader-side fixture for
    ``pdf_min._expand_objstm``; content streams stay top-level per spec.
    ``font_encoding`` injects a verbatim /Encoding value into the font
    dict (a name like ``b"/WinAnsiEncoding"`` or an inline
    ``<< /Differences [...] >>`` dict) — the simple-font-encoding fixture.
    """
    objs: list[bytes] = []

    def esc(s: str) -> bytes:
        return (s.replace("\\", r"\\").replace("(", r"\(")
                 .replace(")", r"\)")).encode("latin-1", "replace")

    # layout: 1 catalog, 2 pages-root, 3 font, then per page: page obj,
    # then all content streams, then image xobjects (one shared gray +
    # one per distinct "xobject" item name)
    page_ids = [4 + i for i in range(len(pages))]
    content_ids = [4 + len(pages) + i for i in range(len(pages))]
    xobj_id = 4 + 2 * len(pages)
    own_items: dict[str, tuple] = {}
    for pg in pages:
        for it in pg:
            if it[0] == "xobject":
                own_items.setdefault(it[1], it)
    own_ids = {name: xobj_id + 1 + i for i, name in enumerate(own_items)}

    body = {}
    body[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    body[2] = (b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>"
               % len(pages))
    body[3] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
               + (b" /Encoding " + font_encoding if font_encoding else b"")
               + b" >>")
    needs_xobj = any(it[0] == "image" for pg in pages for it in pg)
    for i, pg in enumerate(pages):
        res = b"/Font << /F1 3 0 R >>"
        if needs_xobj or own_ids:
            ents = b""
            if needs_xobj:
                ents += b" /Im0 %d 0 R" % xobj_id
            for name, oid in own_ids.items():
                ents += b" /%s %d 0 R" % (name.encode(), oid)
            res += b" /XObject <<" + ents + b" >>"
        body[page_ids[i]] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 %d] "
            b"/Resources << %s >> /Contents %d 0 R >>"
            % (int(page_height), res, content_ids[i])
        )
        ops = [b"BT"]
        for item in pg:
            if item[0] == "text":
                _, x, y_top, size, text = item
                y_pdf = page_height - y_top - size
                ops.append(b"/F1 %g Tf" % size)
                ops.append(b"1 0 0 1 %g %g Tm" % (x, y_pdf))
                ops.append(b"(" + esc(text) + b") Tj")
            else:
                ops.append(b"ET /%s Do BT" % item[1].encode())
        ops.append(b"ET")
        stream = b"\n".join(ops)
        if compress:
            z = zlib.compress(stream)
            body[content_ids[i]] = (
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(z)
                + z + b"\nendstream"
            )
        else:
            body[content_ids[i]] = (
                b"<< /Length %d >>\nstream\n" % len(stream)
                + stream + b"\nendstream"
            )
    if needs_xobj:
        img = bytes([0, 0, 0, 255] * 4)
        body[xobj_id] = (
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length %d >>"
            b"\nstream\n" % len(img) + img + b"\nendstream"
        )
    for name, (_, _, filter_name, payload) in own_items.items():
        body[own_ids[name]] = (
            b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /%s "
            b"/Length %d >>\nstream\n" % (filter_name.encode(), len(payload))
            + payload + b"\nendstream"
        )

    if objstm:
        # move the dict-only page tree (pages root + page dicts) into one
        # compressed object stream; streams (contents, xobjects) stay out
        members = [2, *page_ids]
        parts, offs, pos = [], [], 0
        for n in members:
            b = body.pop(n) + b"\n"
            offs.append((n, pos))
            parts.append(b)
            pos += len(b)
        header = " ".join(f"{n} {o}" for n, o in offs).encode() + b"\n"
        z = zlib.compress(header + b"".join(parts))
        body[max(max(body), xobj_id) + 1] = (
            b"<< /Type /ObjStm /N %d /First %d /Length %d "
            b"/Filter /FlateDecode >>\nstream\n" % (len(members), len(header), len(z))
            + z + b"\nendstream"
        )

    out = bytearray(b"%PDF-1.5\n" if objstm else b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(body):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + body[num] + b"\nendobj\n"
    xref_at = len(out)
    maxn = max(body)
    out += b"xref\n0 %d\n" % (maxn + 1)
    out += b"0000000000 65535 f \n"
    for n in range(1, maxn + 1):
        if n in offsets:
            out += b"%010d 00000 n \n" % offsets[n]
        else:
            # objects living inside the /ObjStm: FREE rows, not offset-0
            # in-use rows (the xref-first reader would reject those)
            out += b"0000000000 65535 f \n"
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (maxn + 1, xref_at))
    return bytes(out)


def write_spdf(path: str, regions: list[str]) -> None:
    """Write an SPDF fixture file."""
    with open(path, "wb") as f:
        f.write(SPDF_MAGIC)
        f.write("\n".join(regions).encode("utf-8"))


def canned_chat_fn(prompts: list[str]) -> list[str]:
    """Deterministic test responder: echoes a fixed structure, with the
    noisy formats real models produce (prose around JSON)."""
    return [
        'Sure! Here is the analysis:\n{"title_region": 1, '
        '"author_regions": [2], "abstract_regions": [3]}\nHope that helps.'
        for _ in prompts
    ]
