"""Binary-file source: directory of raw docs -> extraction, end to end."""

from __future__ import annotations

import pytest

from pdf_extraction_tests_spark.pipeline import extract_docs
from pdf_extraction_tests_spark.sources.binary_docs import (
    bytes_to_spans,
    parse_pdf_bytes,
    read_binary_docs,
)
from pdf_extraction_tests_spark.sources.pdf_min import (
    UnsupportedPdfError,
    extract_pdf_text,
)
from tests.fixtures import write_minimal_pdf, write_spdf

REAL_PDF_PAGES = [
    [("text", 72, 100, 18, "A Real Decoded Pdf Title Line Of Length"),
     ("text", 72, 200, 11, "Alice Example, Bob Sample 1,2"),
     ("text", 72, 300, 11, "Abstract " + "genuine pdf body text " * 12),
     ("image", "Im0"),
     ("text", 72, 560, 14, "1. Introduction"),
     ("text", 72, 620, 11, "Body paragraph decoded from true pdf bytes.")],
    [("text", 72, 100, 11, "Second page body paragraph from the pdf."),
     ("text", 72, 300, 14, "References")],
]

# text interleaved with image XObjects under the codecs the text path
# never decodes; the payloads are garbage
XOBJECT_PAGE = [
    ("text", 72, 100, 11, "text before the fax image"),
    ("xobject", "Fax0", "CCITTFaxDecode", b"\x00\x01\x00\x01 not fax"),
    ("text", 72, 200, 11, "text between fax and jbig2"),
    ("xobject", "Jb0", "JBIG2Decode", b"\x97JB2 garbage"),
    ("xobject", "Jp0", "DCTDecode", b"\xff\xd8 not a decodable jpeg"),
    ("text", 72, 400, 11, "text after the images"),
]


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rawdocs")
    write_spdf(
        str(d / "a.spdf"),
        [
            "1,200,150,2000,90,title|A Binary Sourced Title Document",
            "1,200,420,2000,200,plain text|Abstract " + "body text " * 30,
            "1,200,700,2000,50,title|1. Introduction",
            "MEDIA:img://bin/0",
            "1,200,900,2000,180,plain text|First body paragraph from binary.",
        ],
    )
    (d / "b.html").write_text(
        "<h1>Html Sourced Heading With Enough Length</h1><p>A paragraph long enough to keep here.</p>"
        "<footer>junk footer</footer>"
    )
    (d / "c.pdf").write_bytes(b"%PDF-1.4 fake binary content")
    (d / "d.pdf").write_bytes(write_minimal_pdf(REAL_PDF_PAGES))
    return str(d)


def test_binary_source_roundtrip(spark, doc_dir):
    docs = read_binary_docs(spark, doc_dir)
    out = {r.doc_id.split("/")[-1]: r
           for r in extract_docs(docs, num_parts=4).collect()}
    assert set(out) == {"a.spdf", "b.html", "c.pdf", "d.pdf"}
    a = out["a.spdf"]
    assert a.title == "A Binary Sourced Title Document"
    assert [s.kind for s in a.spans] == ["title", "text", "title", "media", "text"]
    b = out["b.html"]
    assert b.title == "Html Sourced Heading With Enough Length"
    # truncated/garbage PDF: parse-failure isolated, not a crash
    c = out["c.pdf"]
    assert c.parse_failures == 1
    assert c.spans == []
    # REAL pdf bytes: decoded end to end (title, media anchor, both pages)
    d = out["d.pdf"]
    assert d.parse_failures == 0
    assert d.title == "A Real Decoded Pdf Title Line Of Length"
    assert d.total_pages == 2
    assert any(s.kind == "media" and s.media_ref == "pdf:xobj:Im0"
               for s in d.spans)


class TestMinimalPdfDecoder:
    def test_roundtrip_compressed_and_plain(self):
        for compress in (True, False):
            data = write_minimal_pdf(REAL_PDF_PAGES, compress=compress)
            blocks = extract_pdf_text(data)
            texts = [b["text"] for b in blocks if b["kind"] == "text_block"]
            assert texts[0] == "A Real Decoded Pdf Title Line Of Length"
            assert any(b["kind"] == "media" for b in blocks)
            # geometry round-trips through the top-left conversion
            title = blocks[0]
            assert (title["page"], title["x"], title["y"]) == (1, 72, 100)
            assert title["etype"] == "title"  # display-size text

    def test_string_escapes(self):
        data = write_minimal_pdf(
            [[("text", 10, 10, 11, r"parens () and backslash \ inside")]])
        blocks = extract_pdf_text(data)
        assert blocks[0]["text"] == r"parens () and backslash \ inside"

    def test_literal_backslash_eol_continuation(self):
        """ISO 32000-1 s7.3.4.2: backslash-EOL inside a literal string is
        a line continuation — BOTH bytes vanish (CRLF after the backslash
        counts as one EOL); an unknown escape keeps only the char."""
        from pdf_extraction_tests_spark.sources.pdf_min import _literal_bytes

        assert _literal_bytes(b"(wrap\\\nped)") == b"wrapped"
        assert _literal_bytes(b"(wrap\\\rped)") == b"wrapped"
        assert _literal_bytes(b"(wrap\\\r\nped)") == b"wrapped"
        assert _literal_bytes(b"(a\\zb)") == b"azb"      # unknown escape
        assert _literal_bytes(b"(a\nb)") == b"a\nb"       # bare EOL kept

    def test_unsupported_raises(self):
        with pytest.raises(UnsupportedPdfError):
            extract_pdf_text(b"not a pdf")
        with pytest.raises(UnsupportedPdfError):
            extract_pdf_text(b"%PDF-1.7\n/Encrypt 5 0 R\n")
        with pytest.raises(NotImplementedError):
            parse_pdf_bytes(b"%PDF-1.5\nno pages here")

    def test_page_order_follows_kids_not_object_numbers(self):
        """Page ORDER must come from the page tree's /Kids array — object
        numbers need not be in page order (incremental updates)."""
        data = write_minimal_pdf(
            [[("text", 10, 10, 11, "first page body text")],
             [("text", 10, 10, 11, "second page body text")]])
        assert b"/Kids [4 0 R 5 0 R]" in data
        # reverse the Kids array only: the document's page order is now
        # (obj5, obj4) while object-number order still says (obj4, obj5)
        swapped = data.replace(b"/Kids [4 0 R 5 0 R]", b"/Kids [5 0 R 4 0 R]")
        blocks = extract_pdf_text(swapped)
        by_page = {b["page"]: b["text"] for b in blocks}
        assert by_page[1] == "second page body text"  # Kids order wins
        assert by_page[2] == "first page body text"

    def test_image_xobjects_are_media_refs_in_reading_order(self):
        """Each ``Do`` of an image XObject is one media span whose ref is
        ``pdf:xobj:<name>``, at its place among the text regions; the
        image stream is never decoded (pdf_min reaches no image decoder)."""
        import inspect

        from pdf_extraction_tests_spark.sources import pdf_min

        spans = bytes_to_spans(write_minimal_pdf([XOBJECT_PAGE]))
        assert [(s["kind"], s["media_ref"]) for s in spans] == [
            ("region", None), ("media", "pdf:xobj:Fax0"), ("region", None),
            ("media", "pdf:xobj:Jb0"), ("media", "pdf:xobj:Jp0"),
            ("region", None)]
        assert [s["offset"] for s in spans] == list(range(6))
        assert [s["text"].split("|", 1)[1] for s in spans
                if s["kind"] == "region"] == [
            "text before the fax image", "text between fax and jbig2",
            "text after the images"]
        assert all(s["text"] == "" for s in spans if s["kind"] == "media")
        src = inspect.getsource(pdf_min)
        for decoder in ("_ccitt", "_jbig2", "_jpeg"):
            assert decoder not in src

    def test_corrupt_flate_is_isolated(self):
        good = write_minimal_pdf([[("text", 10, 10, 11, "hello world ok")]])
        corrupt = good.replace(b"stream\n", b"stream\n\x00\x00", 1)
        with pytest.raises((UnsupportedPdfError, NotImplementedError)):
            extract_pdf_text(corrupt)


def test_glob_filter(spark, doc_dir):
    docs = read_binary_docs(spark, doc_dir, glob="*.spdf")
    assert docs.count() == 1


def test_bytes_dispatch():
    assert bytes_to_spans(None) == []
    assert bytes_to_spans(b"  <html><p>x</p></html>")[0]["kind"] == "html"
    assert bytes_to_spans(b"\x00\x01binary")[0]["text"] == "UNSUPPORTED_BINARY"


class TestObjStm:
    def test_objstm_page_tree_decodes_identically(self):
        """PDF 1.5 layout (page tree inside a /ObjStm) must extract the
        exact same blocks as the flat 1.4 layout."""
        flat = extract_pdf_text(write_minimal_pdf(REAL_PDF_PAGES))
        packed_bytes = write_minimal_pdf(REAL_PDF_PAGES, objstm=True)
        assert b"/ObjStm" in packed_bytes
        packed = extract_pdf_text(packed_bytes)
        assert packed == flat

    def test_objstm_multipage_order(self):
        data = write_minimal_pdf(
            [[("text", 10, 10, 11, "first page body text")],
             [("text", 10, 10, 11, "second page body text")]],
            objstm=True)
        by_page = {b["page"]: b["text"] for b in extract_pdf_text(data)}
        assert by_page == {1: "first page body text",
                           2: "second page body text"}

    def test_corrupt_objstm_fails_loud(self):
        data = write_minimal_pdf([[("text", 10, 10, 11, "hello ok")]],
                                 objstm=True)
        # truncate the ObjStm header declaration: /N without a count
        broken = data.replace(b"/Type /ObjStm /N", b"/Type /ObjStm /Q")
        with pytest.raises(UnsupportedPdfError):
            extract_pdf_text(broken)


class TestPhantomHeaders:
    def test_fake_obj_header_inside_stream_skipped(self):
        """Bytes that LOOK like 'N M obj' inside Flate data must not
        shadow real objects or truncate the enclosing stream."""
        base = write_minimal_pdf([[("text", 10, 10, 11,
                                    "phantom header probe body")]])
        blocks = extract_pdf_text(base)
        # craft: append a junk object whose UNCOMPRESSED stream data embeds
        # a fake header for object 1 (the catalog) — with /Length literal
        fake = (b"9 0 obj\n<< /Length 26 >>\nstream\n"
                b"xx 1 0 obj << /Junk >> yy\n"
                b"endstream\nendobj\n")
        spliced = base.replace(b"xref", fake + b"xref", 1)
        assert extract_pdf_text(spliced) == blocks


def _fake_rasterize(data: bytes):
    """Deterministic 2-page 'render': gray gradients seeded by content."""
    import hashlib

    import numpy as np

    seed = int.from_bytes(hashlib.md5(data).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(600, 400), dtype=np.uint8)
            for _ in range(2)]


def _fake_layout(img):
    # (x, y, w, h, cls, conf): one title, one body, one figure, one
    # below-threshold reject (conf gate v10.R:41)
    return [
        (40, 30, 320, 40, "title", 0.93),
        (40, 120, 320, 200, "plain text", 0.81),
        (40, 360, 200, 150, "figure", 0.95),
        (10, 10, 50, 20, "plain text", 0.1),
    ]


def _fake_ocr(crop):
    # pixel-deterministic text (stands in for tesseract)
    return f"ocr text {int(crop.sum()) % 997} recovered from this region box"


class TestScannedStack:
    def test_blocks_conf_gate_and_media(self):
        from pdf_extraction_tests_spark.sources.scanned import (
            extract_scanned_pdf,
        )

        data = write_minimal_pdf([[("image", "Im0")]])  # image-only pdf
        blocks = extract_scanned_pdf(
            data, _fake_rasterize, _fake_layout, _fake_ocr)
        texts = [b for b in blocks if b["kind"] == "text_block"]
        media = [b for b in blocks if b["kind"] == "media"]
        assert len(texts) == 4          # 2 pages x (title + body); reject gated
        assert len(media) == 2          # one figure placeholder per page
        assert {b["etype"] for b in texts} == {"title", "plain text"}
        assert all(b["text"].startswith("ocr text ") for b in texts)
        # deterministic: same bytes -> same blocks
        again = extract_scanned_pdf(
            data, _fake_rasterize, _fake_layout, _fake_ocr)
        assert again == blocks

    def test_page_fault_isolated(self):
        from pdf_extraction_tests_spark.sources.scanned import (
            extract_scanned_pdf,
        )

        calls = {"n": 0}

        def flaky_layout(img):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("page 1 model crash")
            return _fake_layout(img)

        blocks = extract_scanned_pdf(
            b"%PDF-fake", _fake_rasterize, flaky_layout, _fake_ocr)
        # page 1 yields a failure MARKER (not silence), page 2 extracts
        assert [b["page"] for b in blocks if b["kind"] == "page_failure"] == [1]
        content = [b for b in blocks if b["kind"] != "page_failure"]
        assert {b["page"] for b in content} == {2}

    def test_default_stack_raises_on_unsupported_bytes(self):
        """The default stack must never silently succeed on bytes it can't
        rasterize: the in-band rasterizer raises (UnsupportedPdfError for
        out-of-profile PDFs, NotImplementedError when no pages come back),
        and binary_docs maps either to a parse-failure span."""
        from pdf_extraction_tests_spark.sources.pdf_min import (
            UnsupportedPdfError,
        )
        from pdf_extraction_tests_spark.sources.scanned import (
            extract_scanned_pdf,
        )

        with pytest.raises((NotImplementedError, UnsupportedPdfError)):
            extract_scanned_pdf(b"%PDF-fake")

    def test_end_to_end_distributed_with_stack(self, spark, tmp_path):
        """An image-only (scanned) PDF routes through the injected stack
        inside the distributed binary source and extracts normally."""
        from pdf_extraction_tests_spark.pipeline import extract_docs

        d = tmp_path / "scandocs"
        d.mkdir()
        (d / "scan.pdf").write_bytes(write_minimal_pdf([[("image", "Im0")]]))
        docs = read_binary_docs(
            spark, str(d),
            scanned_stack=(_fake_rasterize, _fake_layout, _fake_ocr))
        out = extract_docs(docs, num_parts=2).collect()
        assert len(out) == 1
        row = out[0]
        assert row.parse_failures == 0
        assert row.total_pages == 2
        kinds = [s.kind for s in row.spans]
        assert kinds.count("media") == 2
        assert any(s.kind == "title" for s in row.spans)

    def test_without_stack_behavior_unchanged(self, spark, tmp_path):
        """No stack injected: an image-only PDF still decodes to its media
        placeholder (NOT a failure), an encrypted one is a parse failure."""
        from pdf_extraction_tests_spark.pipeline import extract_docs

        d = tmp_path / "plaindocs"
        d.mkdir()
        (d / "imgonly.pdf").write_bytes(write_minimal_pdf([[("image", "Im0")]]))
        (d / "enc.pdf").write_bytes(b"%PDF-1.7\n/Encrypt 5 0 R\n")
        out = {r.doc_id.split("/")[-1]: r
               for r in extract_docs(read_binary_docs(spark, str(d)),
                                     num_parts=2).collect()}
        assert out["imgonly.pdf"].parse_failures == 0
        assert [s.kind for s in out["imgonly.pdf"].spans] == ["media"]
        assert out["enc.pdf"].parse_failures == 1


class TestReviewRegressions:
    def test_indirect_length_does_not_defeat_phantom_guard(self):
        """'/Length 12 0 R' must NOT match as a literal length 1 (regex
        backtracking); the guard falls back to the endstream scan."""
        from pdf_extraction_tests_spark.sources.pdf_min import _LENGTH_LIT_RE

        assert _LENGTH_LIT_RE.search(b"<< /Length 12 0 R >>") is None
        assert _LENGTH_LIT_RE.search(b"<< /Length 51 0 R >>") is None
        m = _LENGTH_LIT_RE.search(b"<< /Length 123 >>")
        assert m and m.group(1) == b"123"

    def test_huge_tj_string_stack_linear(self):
        """>512 string operands in one TJ: all text kept, and the parse
        stays fast (the old length-triggered compaction rescanned the
        whole stack per token — O(n^2))."""
        import time

        from pdf_extraction_tests_spark.sources.pdf_min import (
            _extract_page_blocks,
        )

        n = 8000
        tj = b"BT /F1 12 Tf 1 0 0 1 10 700 Tm [" + b" ".join(
            b"(w%d)" % i for i in range(n)) + b"] TJ ET"
        t0 = time.time()
        blocks = _extract_page_blocks(tj, 792.0, 1)
        took = time.time() - t0
        assert len(blocks) == 1
        text = blocks[0]["text"]
        assert text.startswith("w0w1") and text.endswith(f"w{n - 1}")
        assert took < 2.0, f"TJ parse took {took:.1f}s — quadratic again?"

    def test_injected_stack_crash_is_parse_failure_not_task_death(
            self, spark, tmp_path):
        from pdf_extraction_tests_spark.pipeline import extract_docs

        def exploding_rasterize(data):
            raise OSError("poppler exploded on this file")

        d = tmp_path / "crashdocs"
        d.mkdir()
        (d / "scan.pdf").write_bytes(write_minimal_pdf([[("image", "Im0")]]))
        from pdf_extraction_tests_spark.sources.binary_docs import (
            SPDF_MAGIC,
        )

        (d / "ok.spdf").write_bytes(
            SPDF_MAGIC + b"1,10,10,100,40,plain text|survives the neighbor")
        docs = read_binary_docs(
            spark, str(d),
            scanned_stack=(exploding_rasterize, _fake_layout, _fake_ocr))
        out = {r.doc_id.split("/")[-1]: r
               for r in extract_docs(docs, num_parts=2).collect()}
        assert out["scan.pdf"].parse_failures == 1     # isolated
        assert out["ok.spdf"].parse_failures == 0      # neighbor unharmed

    def test_partial_page_failure_counted_not_silent(self, spark, tmp_path):
        """A doc whose page 1 crashes but page 2 extracts must surface
        parse_failures == 1 WITH the surviving content (not report clean)."""
        from pdf_extraction_tests_spark.pipeline import extract_docs

        state = {"n": 0}

        def flaky_layout(img):
            state["n"] += 1
            if state["n"] % 2 == 1:
                raise RuntimeError("model crash on odd pages")
            return _fake_layout(img)

        d = tmp_path / "partial"
        d.mkdir()
        (d / "scan.pdf").write_bytes(write_minimal_pdf([[("image", "Im0")]]))
        docs = read_binary_docs(
            spark, str(d),
            scanned_stack=(_fake_rasterize, flaky_layout, _fake_ocr))
        row = extract_docs(docs, num_parts=1).collect()[0]
        assert row.parse_failures == 1       # the failed page is visible
        assert len(row.spans) > 0            # the surviving page extracted

    def test_objstm_out_of_order_offsets(self):
        """Spec-valid ObjStm headers may list members out of offset order;
        each body must still be bounded by the NEXT offset, not list
        position (the old slicing yielded empty bodies)."""
        import zlib

        from pdf_extraction_tests_spark.sources.pdf_min import _expand_objstm

        header = b"10 11 11 0\n"          # obj 10 @ off 11, obj 11 @ off 0
        payload = b"<< /B 2 >>\n<< /A 1 >>\n"
        z = zlib.compress(header + payload)
        objstm = (b"<< /Type /ObjStm /N 2 /First %d /Length %d "
                  b"/Filter /FlateDecode >>\nstream\n" % (len(header), len(z))
                  + z + b"\nendstream")
        out = _expand_objstm({5: objstm})
        assert out[11].rstrip() == b"<< /B 2 >>"
        assert out[10].rstrip() == b"<< /A 1 >>"


class TestInbandRasterStack:
    """Round-3 verdict item 7: the full scanned stack — rasterize ->
    projection-profile layout -> per-box OCR — runs end to end with ZERO
    binaries via the in-band raster defaults (sources/raster.py)."""

    PAGES = [
        [("text", 50, 40, 16.0, "A Real Title For The Scanned Page"),
         ("text", 50, 120, 12.0, "body paragraph one with enough words"),
         ("text", 50, 200, 12.0, "second body paragraph, distinct text"),
         ("image", "Im0")],
        [("text", 60, 80, 12.0, "page two content rendered as pixels")],
    ]

    def test_scanned_spans_match_pdf_min_spans(self):
        """write_minimal_pdf -> DEFAULT scanned stack == pdf_min decode:
        same (page, etype, text) sequence and same geometry, with media
        draws surviving as placeholders."""
        from pdf_extraction_tests_spark.sources.scanned import (
            extract_scanned_pdf)

        data = write_minimal_pdf(self.PAGES)
        direct = extract_pdf_text(data)
        scanned = extract_scanned_pdf(data)  # default = in-band raster stack

        def canon(blocks):
            return sorted(
                (b["page"], b["etype"], b["text"], b["x"], b["y"],
                 b["w"], b["h"])
                for b in blocks if b["kind"] == "text_block"
            )

        assert canon(scanned) == canon(direct)
        assert not [b for b in scanned if b["kind"] == "page_failure"]
        # the XObject draw survives as a figure placeholder
        assert [b for b in scanned if b["kind"] == "media"]

    def test_rasterizer_pages_are_real_pixels(self):
        from pdf_extraction_tests_spark.sources.raster import (
            rasterize_minimal)

        pages = rasterize_minimal(write_minimal_pdf(self.PAGES))
        assert len(pages) == 2
        assert pages[0].dtype.name == "uint8"
        assert (pages[0] < 255).any() and (pages[0] == 255).any()

    def test_projection_layout_finds_tight_boxes(self):
        import numpy as np

        from pdf_extraction_tests_spark.sources.raster import (
            layout_model_projection)

        img = np.full((100, 100), 255, dtype=np.uint8)
        img[10:20, 10:60] = 160   # two stacked rects, one offset
        img[40:50, 30:90] = 160
        boxes = sorted((x, y, w, h) for x, y, w, h, _c, _conf
                       in layout_model_projection(img))
        assert boxes == [(10, 10, 50, 10), (30, 40, 60, 10)]

    def test_out_of_profile_pdf_still_fault_isolates(self, spark, tmp_path):
        """A PDF the pure-Python rasterizer cannot handle must still land
        as a parse-failure span through the distributed source, same as
        the old missing-binary defaults."""
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)
        from pdf_extraction_tests_spark.sources.raster import INBAND_STACK

        spans = bytes_to_spans(b"%PDF-1.4\ngarbage, no objects at all",
                               scanned_stack=INBAND_STACK)
        assert [s["text"] for s in spans] == ["UNSUPPORTED_BINARY"]


class TestXrefFirst:
    """Round-3 verdict item 8: object offsets come from a valid classic
    xref table; the whole-file header scan (and its phantom ambiguity)
    only runs when the table is absent or damaged."""

    @staticmethod
    def _build_trap_pdf(damage_xref: bool = False) -> bytes:
        """A valid one-page PDF plus a trap object (9): its stream has an
        INDIRECT /Length and embeds 'endstream\\n99 0 obj...' — the scan
        path's extent guard stops at the first 'endstream' and accepts the
        phantom object 99; the xref table knows better."""
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
            5: (b"<< /Length 64 >>\nstream\n"
                b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (xref first wins) Tj ET"
                b"\nendstream"),
            9: (b"<< /Subtype /Image /Length 10 0 R >>\nstream\n"
                b"AB\nendstream\n99 0 obj\n<< /Type /Page >>\nendobj\nCD"
                b"\nendstream"),
            10: b"44",
        }
        out = bytearray(b"%PDF-1.4\n")
        offsets = {}
        for n in sorted(objs):
            offsets[n] = len(out)
            out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
        xref_at = len(out)
        maxn = max(objs)
        out += b"xref\n0 %d\n" % (maxn + 1)
        out += b"0000000000 65535 f \n"
        for n in range(1, maxn + 1):
            if n in offsets:
                out += b"%010d 00000 n \n" % offsets[n]
            else:
                out += b"0000000000 65535 f \n"
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
                % (maxn + 1, xref_at))
        data = bytes(out)
        if damage_xref:
            # corrupt object 5's offset row (first entry char -> 9):
            # the validator sees a header mismatch and rejects the table
            row = b"%010d 00000 n " % offsets[5]
            data = data.replace(row, b"9" + row[1:], 1)
        return data

    def test_valid_xref_defeats_in_stream_phantom(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _objects, _objects_via_xref, extract_pdf_text)

        data = self._build_trap_pdf()
        via = _objects_via_xref(data)
        assert via is not None and 99 not in via          # xref path used
        assert set(via) == {1, 2, 3, 4, 5, 9, 10}
        assert 99 not in _objects(data)
        blocks = extract_pdf_text(data)
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["xref first wins"]
        assert {b["page"] for b in blocks} == {1}          # no phantom page

    def test_scan_alone_would_accept_the_phantom(self):
        """Meta-check: the trap really is a trap — without the xref the
        scan path accepts object 99 (this is the ambiguity class the
        xref-first path removes)."""
        from pdf_extraction_tests_spark.sources import pdf_min

        data = self._build_trap_pdf()
        # sever the xref path only
        data_no_xref = data.replace(b"startxref", b"startxxxx")
        assert pdf_min._objects_via_xref(data_no_xref) is None
        assert 99 in pdf_min._objects(data_no_xref)

    def test_damaged_xref_falls_back_to_scan_and_decodes(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _objects_via_xref, extract_pdf_text)

        data = self._build_trap_pdf(damage_xref=True)
        assert _objects_via_xref(data) is None             # rejected as damaged
        blocks = extract_pdf_text(data)                    # scan still decodes
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["xref first wins"]

    def test_writer_output_takes_the_xref_path(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _objects_via_xref)

        plain = write_minimal_pdf([[("text", 10, 10, 12, "hello")]])
        assert _objects_via_xref(plain) is not None
        packed = write_minimal_pdf([[("text", 10, 10, 12, "hello")]],
                                   objstm=True)
        via = _objects_via_xref(packed)
        assert via is not None          # ObjStm members are free rows now


def _assemble_pdf(objs: dict, damage_xref: bool = False) -> bytes:
    """Assemble a spec-valid PDF (objects + classic xref + trailer)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for n in sorted(objs):
        offsets[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref_at = len(out)
    maxn = max(objs)
    out += b"xref\n0 %d\n" % (maxn + 1) + b"0000000000 65535 f \n"
    for n in range(1, maxn + 1):
        out += (b"%010d 00000 n \n" % offsets[n] if n in objs
                else b"0000000000 65535 f \n")
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (maxn + 1, xref_at))
    return bytes(out)


def _one_page_objs(content_obj: bytes) -> dict:
    return {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
        5: content_obj,
    }


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Known-good naive LZW encoder (test-side twin of _lzw_decode)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    codes = [(256, width)]
    w = b""
    n_emitted = 0

    def bump(wd: int, emitted: int) -> int:
        # decoder table length after `emitted` data codes = 258+(emitted-1)
        if emitted >= 1 and (258 + emitted - 1) + early - 1 >= (1 << wd) - 1 \
                and wd < 12:
            return wd + 1
        return wd

    for b in data:
        c = bytes([b])
        if w + c in table:
            w += c
            continue
        codes.append((table[w], width))
        n_emitted += 1
        width = bump(width, n_emitted)
        table[w + c] = next_code
        next_code += 1
        w = c
    if w:
        codes.append((table[w], width))
        n_emitted += 1
        width = bump(width, n_emitted)
    codes.append((257, width))
    bits = "".join(format(code, f"0{wd}b") for code, wd in codes)
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))


class TestStreamFilters:
    """ISO 32000-1 §7.4 filters beyond Flate (round-3 'What's missing' #3):
    ASCIIHex / ASCII85 / RunLength / LZW content streams and filter
    chains decode; image codecs stay fault-isolated."""

    OPS = b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (filter works) Tj ET"

    def _extract(self, content_obj: bytes):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        blocks = extract_pdf_text(_assemble_pdf(_one_page_objs(content_obj)))
        return [b["text"] for b in blocks if b["kind"] == "text_block"]

    def test_ascii_hex(self):
        enc = self.OPS.hex().encode() + b">"
        obj = (b"<< /Length %d /Filter /ASCIIHexDecode >>\nstream\n" % len(enc)
               + enc + b"\nendstream")
        assert self._extract(obj) == ["filter works"]

    def test_ascii85(self):
        import base64

        enc = base64.a85encode(self.OPS) + b"~>"
        obj = (b"<< /Length %d /Filter /ASCII85Decode >>\nstream\n" % len(enc)
               + enc + b"\nendstream")
        assert self._extract(obj) == ["filter works"]

    def test_run_length(self):
        # encode: literal runs of <=128 bytes + EOD
        enc = bytearray()
        for i in range(0, len(self.OPS), 96):
            chunk = self.OPS[i:i + 96]
            enc += bytes([len(chunk) - 1]) + chunk
        enc.append(128)
        obj = (b"<< /Length %d /Filter /RunLengthDecode >>\nstream\n"
               % len(enc) + bytes(enc) + b"\nendstream")
        assert self._extract(obj) == ["filter works"]

    def test_run_length_repeats(self):
        from pdf_extraction_tests_spark.sources.pdf_min import _rle_decode

        assert _rle_decode(bytes([254, 65, 0, 66, 128])) == b"AAAB"

    def test_lzw_content_stream(self):
        enc = _lzw_encode(self.OPS)
        obj = (b"<< /Length %d /Filter /LZWDecode >>\nstream\n" % len(enc)
               + enc + b"\nendstream")
        assert self._extract(obj) == ["filter works"]

    def test_lzw_roundtrip_with_width_growth(self):
        from pdf_extraction_tests_spark.sources.pdf_min import _lzw_decode

        # ~6 KB of semi-repetitive text forces the table past 512 and 1024
        payload = (b"the quick brown fox jumps over the lazy dog 0123456789 "
                   * 120)
        assert _lzw_decode(_lzw_encode(payload)) == payload
        # spec example: b'-----A---B' (ISO 32000-1 §7.4.4.2 sample data)
        sample = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
        assert _lzw_decode(_lzw_encode(sample)) == sample

    def test_filter_chain_hex_then_flate(self):
        import zlib

        enc = zlib.compress(self.OPS).hex().encode() + b">"
        obj = (b"<< /Length %d /Filter [/ASCIIHexDecode /FlateDecode] >>"
               b"\nstream\n" % len(enc) + enc + b"\nendstream")
        assert self._extract(obj) == ["filter works"]

    def test_flate_with_png_predictor(self):
        import zlib

        # predictor 12 (PNG Up), columns 8: forward-transform then inflate
        cols = 8
        data = self.OPS + b" " * (-len(self.OPS) % cols)
        rows = [data[i:i + cols] for i in range(0, len(data), cols)]
        enc_rows = bytearray()
        prior = bytes(cols)
        for r in rows:
            enc_rows += bytes([2]) + bytes((r[j] - prior[j]) & 0xFF
                                           for j in range(cols))
            prior = r
        z = zlib.compress(bytes(enc_rows))
        obj = (b"<< /Length %d /Filter /FlateDecode /DecodeParms "
               b"<< /Predictor 12 /Columns 8 >> >>\nstream\n" % len(z)
               + z + b"\nendstream")
        assert self._extract(obj) == ["filter works"]

    def test_image_codec_filter_fault_isolates(self):
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)

        obj = (b"<< /Length 4 /Filter /DCTDecode >>\nstream\n\xff\xd8\xff\xe0"
               b"\nendstream")
        data = _assemble_pdf(_one_page_objs(obj))
        spans = bytes_to_spans(data)
        assert [s["text"] for s in spans] == ["UNSUPPORTED_BINARY"]

    def test_paeth_and_sub_predictors_roundtrip(self):
        import numpy as np

        from pdf_extraction_tests_spark.sources.pdf_min import _png_unpredict

        rng = np.random.default_rng(7)
        cols = 5
        raw = rng.integers(0, 256, size=30, dtype=np.uint8).tobytes()
        rows = [bytearray(raw[i:i + cols]) for i in range(0, 30, cols)]
        enc = bytearray()
        prior = bytearray(cols)
        for ft, row in zip([1, 4, 0, 2, 3, 4], rows):
            e = bytearray(row)
            for j in reversed(range(cols)):
                a = row[j - 1] if j >= 1 else 0
                b = prior[j]
                c = prior[j - 1] if j >= 1 else 0
                if ft == 1:
                    e[j] = (row[j] - a) & 0xFF
                elif ft == 2:
                    e[j] = (row[j] - b) & 0xFF
                elif ft == 3:
                    e[j] = (row[j] - ((a + b) >> 1)) & 0xFF
                elif ft == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    e[j] = (row[j] - pred) & 0xFF
            enc += bytes([ft]) + bytes(e)
            prior = row
        assert _png_unpredict(bytes(enc), columns=cols) == raw


class TestXrefStream:
    """PDF 1.5 cross-reference STREAMS (/Type /XRef, W-packed binary rows,
    optionally Flate + PNG predictor) resolve offsets xref-first too."""

    @staticmethod
    def _build(predictor: bool, damage: bool = False) -> bytes:
        import zlib

        objs = _one_page_objs(
            b"<< /Length 66 >>\nstream\n"
            b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (xref stream works) Tj ET"
            b"\nendstream")
        out = bytearray(b"%PDF-1.5\n")
        offsets = {}
        for n in sorted(objs):
            offsets[n] = len(out)
            out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
        xref_at = len(out)
        offsets[6] = xref_at
        rows = bytearray()
        rows += bytes([0]) + (0).to_bytes(2, "big") + bytes([255])  # obj 0 free
        for n in range(1, 7):
            off = offsets[n]
            if damage and n == 5:
                off += 3  # lie about the content stream's position
            rows += bytes([1]) + off.to_bytes(2, "big") + bytes([0])
        if predictor:
            cols = 4
            enc = bytearray()
            prior = bytes(cols)
            for i in range(0, len(rows), cols):
                r = rows[i:i + cols]
                enc += bytes([2]) + bytes((r[j] - prior[j]) & 0xFF
                                          for j in range(cols))
                prior = r
            payload = zlib.compress(bytes(enc))
            extra = b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 4 >>"
        else:
            payload = bytes(rows)
            extra = b""
        out += (b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 2 1] /Index [0 7] "
                b"/Root 1 0 R /Length %d%s >>\nstream\n" % (len(payload), extra)
                + payload + b"\nendstream\nendobj\n")
        out += b"startxref\n%d\n%%%%EOF\n" % xref_at
        return bytes(out)

    @pytest.mark.parametrize("predictor", [False, True])
    def test_decodes_via_xref_stream(self, predictor):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _objects_via_xref, extract_pdf_text)

        data = self._build(predictor)
        via = _objects_via_xref(data)
        assert via is not None and set(via) >= {1, 2, 3, 4, 5}
        blocks = extract_pdf_text(data)
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["xref stream works"]

    def test_damaged_stream_falls_back_to_scan(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _objects_via_xref, extract_pdf_text)

        data = self._build(predictor=True, damage=True)
        assert _objects_via_xref(data) is None
        blocks = extract_pdf_text(data)
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["xref stream works"]


class TestType0ToUnicode:
    """CID/Type0 composite-font text (round-3 'What's missing' #3): 2-byte
    glyph codes decode through the embedded /ToUnicode CMap — bfchar,
    both bfrange forms, and the simple-font ToUnicode case."""

    CMAP = (b"/CIDInit /ProcSet findresource begin\n"
            b"begincmap\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"2 beginbfchar\n"
            b"<0003> <0043>\n"          # 3 -> 'C'
            b"<0004> <0049>\n"          # 4 -> 'I'
            b"endbfchar\n"
            b"1 beginbfrange\n"
            b"<0010> <0012> <0044>\n"   # 16,17,18 -> 'D','E','F'
            b"endbfrange\n"
            b"1 beginbfrange\n"
            b"<0020> <0021> [<0074006500780074> <0021>]\n"  # 32->'text' 33->'!'
            b"endbfrange\n"
            b"endcmap end\n")

    def _pdf(self) -> bytes:
        # shows <0003 0004 0010 0020 0021> = 'C' 'I' 'D' 'text' '!'
        ops = (b"BT /F1 12 Tf 1 0 0 1 50 700 Tm "
               b"<00030004001000200021> Tj ET")
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: (b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-Identity-H "
                b"/Encoding /Identity-H /ToUnicode 6 0 R >>"),
            4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
            5: (b"<< /Length %d >>\nstream\n" % len(ops) + ops
                + b"\nendstream"),
            6: (b"<< /Length %d >>\nstream\n" % len(self.CMAP) + self.CMAP
                + b"\nendstream"),
        }
        return _assemble_pdf(objs)

    def test_cid_text_decodes_via_tounicode(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        blocks = extract_pdf_text(self._pdf())
        texts = [b["text"] for b in blocks if b["kind"] == "text_block"]
        assert texts == ["CIDtext!"]

    def test_unmapped_code_falls_back_to_chr(self):
        from pdf_extraction_tests_spark.sources.pdf_min import _text_of_bytes

        font = {"two_byte": True, "map": {3: "C"}}
        assert _text_of_bytes(b"\x00\x03\x00\x41", font) == "CA"

    def test_simple_font_with_tounicode_maps_per_byte(self):
        from pdf_extraction_tests_spark.sources.pdf_min import _text_of_bytes

        font = {"two_byte": False, "map": {0x41: "Α"}}  # A -> Alpha
        assert _text_of_bytes(b"AB", font) == "ΑB"

    def test_parse_tounicode_bfrange_increment(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _parse_tounicode)

        m = _parse_tounicode(self.CMAP)
        assert m[0x10] == "D" and m[0x11] == "E" and m[0x12] == "F"
        assert m[0x20] == "text" and m[0x21] == "!"

    def test_fonts_do_not_disturb_simple_pages(self):

        data = write_minimal_pdf([[("text", 10, 10, 12, "plain ok")]])
        assert [b["text"] for b in extract_pdf_text(data)
                if b["kind"] == "text_block"] == ["plain ok"]


class TestRc4Encryption:
    """RC4 standard-security-handler PDFs (V1/R2 40-bit and V2/R3 128-bit)
    with an empty user password decode end to end; AES revisions and real
    passwords fault-isolate as parse failures."""

    @staticmethod
    def _encrypt_build(r: int = 3, keybits: int = 128,
                       user_pw: bytes = b"", aes: bool = False,
                       cf_first: bool = False,
                       owner_pw: bytes = b"") -> bytes:
        """Spec-faithful test-side encryptor (ISO 32000-1 §7.6.3): builds
        a one-page PDF whose streams are RC4- (V1/V2) or AES-128-CBC-
        (V4 /AESV2) encrypted per object."""
        import hashlib
        import struct

        from pdf_extraction_tests_spark.sources.pdf_min import (
            _PW_PAD, _rc4)

        def pad(pw: bytes) -> bytes:
            return (pw + _PW_PAD)[:32]

        if aes:
            r, keybits = 4, 128
        nbytes = keybits // 8 if r >= 3 else 5
        id0 = bytes(range(16))
        p = -44

        # /O from the owner password (default empty); Algorithm 3(c)
        # iterates over the FIRST nbytes of each digest (matches the
        # decoder — full-digest iteration diverges for keybits < 128)
        h = hashlib.md5(pad(owner_pw)).digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h[:nbytes]).digest()
        okey = h[:nbytes]
        o = _rc4(okey, pad(user_pw))
        if r >= 3:
            for i in range(1, 20):
                o = _rc4(bytes(b ^ i for b in okey), o)

        key = hashlib.md5(
            pad(user_pw) + o + struct.pack("<i", p) + id0).digest()
        if r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:nbytes]).digest()
        key = key[:nbytes]

        if r == 2:
            u = _rc4(key, _PW_PAD)
        else:
            u = hashlib.md5(_PW_PAD + id0).digest()
            u = _rc4(key, u)
            for i in range(1, 20):
                u = _rc4(bytes(b ^ i for b in key), u)
            u += b"\x00" * 16

        def objkey(num: int) -> bytes:
            salt = b"sAlT" if aes else b""
            return hashlib.md5(
                key + num.to_bytes(3, "little") + (0).to_bytes(2, "little")
                + salt
            ).digest()[:min(nbytes + 5, 16)]

        import zlib
        ops = (b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (rc4 secret text) Tj ET")
        z = zlib.compress(ops)
        if aes:
            from pdf_extraction_tests_spark.sources._aes import (
                aes128_cbc_encrypt)

            enc_stream = aes128_cbc_encrypt(objkey(5), bytes(range(16)), z)
        else:
            enc_stream = _rc4(objkey(5), z)
        esc = lambda b: (b.replace(b"\\", rb"\\").replace(b"(", rb"\(")  # noqa: E731
                         .replace(b")", rb"\)").replace(b"\r", rb"\r"))
        v = 4 if aes else (2 if r == 3 else 1)
        length_entry = b" /Length %d" % keybits if r >= 3 else b""
        if aes:
            # cf_first models writers that emit the /CF dict (with its
            # own BYTE-count /Length) BEFORE the top-level bit /Length
            cf = (b" /CF << /StdCF << /CFM /AESV2 /Length 16"
                  b" /AuthEvent /DocOpen >> >>"
                  b" /StmF /StdCF /StrF /StdCF") if cf_first else \
                 (b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >>"
                  b" /StmF /StdCF /StrF /StdCF")
        else:
            cf = b""
        enc_head = (cf + length_entry) if cf_first else (length_entry + cf)
        objs = _one_page_objs(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(enc_stream)
            + enc_stream + b"\nendstream")
        objs[7] = (b"<< /Filter /Standard /V %d /R %d%s /O (%s) /U (%s) "
                   b"/P %d >>" % (v, r, enc_head, esc(o), esc(u), p))
        out = bytearray(b"%PDF-1.4\n")
        offsets = {}
        for n in sorted(objs):
            offsets[n] = len(out)
            out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
        xref_at = len(out)
        maxn = max(objs)
        out += b"xref\n0 %d\n" % (maxn + 1) + b"0000000000 65535 f \n"
        for n in range(1, maxn + 1):
            out += (b"%010d 00000 n \n" % offsets[n] if n in offsets
                    else b"0000000000 65535 f \n")
        out += (b"trailer\n<< /Size %d /Root 1 0 R /Encrypt 7 0 R "
                b"/ID [<%s> <%s>] >>\nstartxref\n%d\n%%%%EOF\n"
                % (maxn + 1, id0.hex().encode(), id0.hex().encode(), xref_at))
        return bytes(out)

    @pytest.mark.parametrize("r,bits", [(2, 40), (3, 128)])
    def test_empty_password_rc4_decodes(self, r, bits):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        blocks = extract_pdf_text(self._encrypt_build(r=r, keybits=bits))
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]

    def test_real_password_fault_isolates(self):
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)

        # owner pw set too: an EMPTY owner password would let the empty-
        # password owner fallback (Algorithm 7) open the file legitimately
        data = self._encrypt_build(r=3, keybits=128, user_pw=b"hunter2",
                                   owner_pw=b"hunter2")
        spans = bytes_to_spans(data)
        assert [s["text"] for s in spans] == ["UNSUPPORTED_BINARY"]

    def test_v4_with_unknown_crypt_filter_fault_isolates(self):
        """V4 is supported for /AESV2 (and the RC4-style /V2 CFM); any
        OTHER crypt-filter method must fault-isolate, not mis-decrypt."""
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)

        data = self._encrypt_build(aes=True)
        data = data.replace(b"/CFM /AESV2", b"/CFM /IDENTITY8")
        spans = bytes_to_spans(data)
        assert [s["text"] for s in spans] == ["UNSUPPORTED_BINARY"]


class TestCtmAndInlineImages:
    """Graphics-state fidelity: cm/q/Q transform text geometry (many real
    generators position blocks with cm, and y-band predicates depend on
    y); BI..ID..EI inline images must never reach the text tokenizer."""

    @staticmethod
    def _blocks(content: bytes):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _extract_page_blocks)

        return _extract_page_blocks(content, 792.0, 1)

    def test_translation_cm_shifts_text_geometry(self):
        base = self._blocks(b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (t) Tj ET")[0]
        moved = self._blocks(
            b"1 0 0 1 100 50 cm BT /F1 12 Tf 1 0 0 1 50 700 Tm (t) Tj ET")[0]
        assert (moved["x"], moved["y"]) == (base["x"] + 100, base["y"] - 50)

    def test_q_restores_ctm(self):
        blocks = self._blocks(
            b"q 1 0 0 1 100 0 cm BT /F1 12 Tf 1 0 0 1 50 700 Tm (in) Tj ET Q "
            b"BT /F1 12 Tf 1 0 0 1 50 600 Tm (out) Tj ET")
        assert [(b["text"], b["x"]) for b in blocks] \
            == [("in", 150), ("out", 50)]

    def test_scale_cm_scales_effective_font_size(self):
        blocks = self._blocks(
            b"2 0 0 2 0 0 cm BT /F1 8 Tf 1 0 0 1 50 350 Tm "
            b"(Scaled Up Header) Tj ET")
        assert blocks[0]["etype"] == "title"  # 8pt x2 = 16 >= 14

    def test_unbalanced_Q_is_harmless(self):
        blocks = self._blocks(
            b"Q Q BT /F1 12 Tf 1 0 0 1 50 700 Tm (still fine) Tj ET")
        assert blocks[0]["text"] == "still fine"

    def test_inline_image_binary_never_reaches_tokenizer(self):
        blocks = self._blocks(
            b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (real) Tj ET\n"
            b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00(fake) Tj BT\xff\x01 EI\n"
            b"BT /F1 12 Tf 1 0 0 1 50 600 Tm (after) Tj ET")
        assert [b["text"] for b in blocks if b["kind"] == "text_block"] \
            == ["real", "after"]
        assert [b["ref"] for b in blocks if b["kind"] == "media"] \
            == ["pdf:xobj:InlineImg"]

    def test_unterminated_inline_image_drops_tail_only(self):
        blocks = self._blocks(
            b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (kept) Tj ET\n"
            b"BI /W 2 /H 2 ID \x00\x01(junk) Tj")
        assert [b["text"] for b in blocks if b["kind"] == "text_block"] \
            == ["kept"]


class TestAesEncryption:
    """AES-128 (/V 4 /AESV2, R 4) with an empty user password: the AES
    core is pinned to the FIPS-197 known-answer vector, the PDF layer to
    a spec-faithful test-side encryptor."""

    def test_fips_197_known_answer(self):
        from pdf_extraction_tests_spark.sources._aes import (
            aes128_decrypt_block, aes128_encrypt_block)

        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct = aes128_encrypt_block(key, pt)
        assert ct == bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
        assert aes128_decrypt_block(key, ct) == pt

    def test_cbc_roundtrip_and_damage_leniency(self):
        from pdf_extraction_tests_spark.sources._aes import (
            aes128_cbc_decrypt, aes128_cbc_encrypt)

        key = bytes(range(16))
        data = b"arbitrary-length pdf stream payload" * 3
        assert aes128_cbc_decrypt(key, aes128_cbc_encrypt(
            key, bytes(16), data)) == data
        assert aes128_cbc_decrypt(key, b"short") == b""  # hostile: no raise

    def test_empty_password_aesv2_decodes(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestRc4Encryption._encrypt_build(aes=True)
        blocks = extract_pdf_text(data)
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]

    def test_cf_dict_before_toplevel_length_decodes(self):
        """Key order in the /Encrypt dict is arbitrary: a writer that
        emits /CF << /StdCF << /Length 16 >> >> (BYTES) before the
        top-level /Length 128 (BITS) must not mis-derive a 2-byte key
        (advice round 4: first-/Length match grabbed the nested one)."""
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestRc4Encryption._encrypt_build(aes=True, cf_first=True)
        assert data.index(b"/CF") < data.index(b"/Length 128")
        blocks = extract_pdf_text(data)
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]

    def test_malformed_v5_dict_fault_isolates(self):
        """A V5 label on a dict without proper 48-byte /U + /UE (here: a
        relabeled V4 dict) must fault-isolate, never mis-decrypt."""
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)

        data = TestRc4Encryption._encrypt_build(aes=True)
        data = data.replace(b"/V 4 /R 4", b"/V 5 /R 6").replace(
            b"/AESV2", b"/AESV3")
        assert [s["text"] for s in bytes_to_spans(data)] \
            == ["UNSUPPORTED_BINARY"]


class TestAes256V5Encryption:
    """AES-256 (/V 5 /AESV3, R5 and R6) with an empty user password:
    Algorithm 2.B hash, /U validation, /UE file-key unwrap, file-key CBC
    streams.  FIPS-197 C.3 pins the 256-bit core."""

    @staticmethod
    def _build(r: int = 6, user_pw: bytes = b"",
               owner_pw: bytes = b"") -> bytes:
        import hashlib
        import zlib

        from pdf_extraction_tests_spark.sources._aes import (
            aes_cbc_encrypt, cbc_encrypt_nopad, hash_2b)

        file_key = bytes(range(32))
        vsalt, ksalt = b"VSALTvs!", b"KSALTks!"
        if r == 6:
            uhash = hash_2b(user_pw, vsalt)
            inter = hash_2b(user_pw, ksalt)
        else:
            uhash = hashlib.sha256(user_pw + vsalt).digest()
            inter = hashlib.sha256(user_pw + ksalt).digest()
        u = uhash + vsalt + ksalt
        ue = cbc_encrypt_nopad(inter, bytes(16), file_key)
        # owner entries (computed over U per spec; parser doesn't need them
        # but real files carry them)
        ovs, oks = b"OVSALTo!", b"OKSALTo!"
        if r == 6:
            o = hash_2b(owner_pw, ovs, u) + ovs + oks
            oe = cbc_encrypt_nopad(hash_2b(owner_pw, oks, u), bytes(16),
                                   file_key)
        else:
            o = hashlib.sha256(owner_pw + ovs + u).digest() + ovs + oks
            oe = cbc_encrypt_nopad(
                hashlib.sha256(owner_pw + oks + u).digest(),
                bytes(16), file_key)

        esc = lambda b: (b.replace(b"\\", rb"\\").replace(b"(", rb"\(")  # noqa: E731
                         .replace(b")", rb"\)").replace(b"\r", rb"\r"))
        ops = b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (aes256 secret) Tj ET"
        enc_stream = aes_cbc_encrypt(file_key, bytes(range(16)),
                                     zlib.compress(ops))
        objs = _one_page_objs(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n"
            % len(enc_stream) + enc_stream + b"\nendstream")
        objs[7] = (b"<< /Filter /Standard /V 5 /R %d /Length 256"
                   b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
                   b" /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
                   b" /U (%s) /UE (%s) /O (%s) /OE (%s) /P -44 >>"
                   % (r, esc(u), esc(ue), esc(o), esc(oe)))
        out = bytearray(b"%PDF-1.7\n")
        offsets = {}
        for n in sorted(objs):
            offsets[n] = len(out)
            out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
        xref_at = len(out)
        maxn = max(objs)
        out += b"xref\n0 %d\n" % (maxn + 1) + b"0000000000 65535 f \n"
        for n in range(1, maxn + 1):
            out += (b"%010d 00000 n \n" % offsets[n] if n in offsets
                    else b"0000000000 65535 f \n")
        out += (b"trailer\n<< /Size %d /Root 1 0 R /Encrypt 7 0 R "
                b"/ID [<11223344> <11223344>] >>\nstartxref\n%d\n%%%%EOF\n"
                % (maxn + 1, xref_at))
        return bytes(out)

    def test_fips_197_aes256_known_answer(self):
        from pdf_extraction_tests_spark.sources._aes import (
            aes_decrypt_block, aes_encrypt_block)

        key = bytes(range(32))
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct = aes_encrypt_block(key, pt)
        assert ct == bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
        assert aes_decrypt_block(key, ct) == pt

    def test_hash_2b_independent_spec_implementation(self):
        """Pin Algorithm 2.B against a second implementation written
        directly from ISO 32000-2 §7.6.4.3.4 — different loop structure
        (round counter checked BEFORE each round), different mod-3 pick
        (big-endian integer, not the byte-sum congruence), CBC chaining
        hand-rolled over the FIPS-197-pinned block primitive.  The V5
        fixture alone is self-referential: it builds /U//UE with the
        same hash_2b under test, so a termination off-by-one would pass
        the round-trip while failing every real-world R6 PDF."""
        import hashlib

        from pdf_extraction_tests_spark.sources._aes import (
            aes_encrypt_block, hash_2b)

        def spec_2b(pw, salt, udata=b""):
            k = hashlib.sha256(pw + salt + udata).digest()
            rnd, e = 0, b"\xff"
            while rnd < 64 or e[-1] > rnd - 32:
                k1 = (pw + k + udata) * 64
                # AES-128-CBC, no padding, key=K[:16], iv=K[16:32]
                key, prev, out = k[:16], k[16:32], bytearray()
                for off in range(0, len(k1), 16):
                    blk = bytes(a ^ b
                                for a, b in zip(k1[off:off + 16], prev))
                    prev = aes_encrypt_block(key, blk)
                    out += prev
                e = bytes(out)
                pick = int.from_bytes(e[:16], "big") % 3
                k = (hashlib.sha256, hashlib.sha384,
                     hashlib.sha512)[pick](e).digest()
                rnd += 1
            return k[:32]

        for pw, salt, udata in [
            (b"", b"\x01" * 8, b""),
            (b"", b"saltsalt", b"U" * 48),
            (b"hunter2", b"\xde\xad\xbe\xef\x00\x11\x22\x33", b""),
            (b"long password " * 8, b"12345678", b"\x00" * 48),
        ]:
            assert hash_2b(pw, salt, udata) == spec_2b(pw, salt, udata)

    def test_hash_2b_frozen_digest(self):
        """Regression literal for a fixed input (computed once from the
        independent spec implementation above) — catches any future
        drift in either implementation."""
        from pdf_extraction_tests_spark.sources._aes import hash_2b

        got = hash_2b(b"", b"\x01\x02\x03\x04\x05\x06\x07\x08")
        assert got.hex() == ("8d1efb4f1bdbb651341704c2139de4f6"
                             "be05d6d4609af56916b21646ed74825c")

    @pytest.mark.parametrize("r", [5, 6])
    def test_empty_password_v5_decodes(self, r):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        blocks = extract_pdf_text(self._build(r=r))
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["aes256 secret"]

    def test_real_password_v5_fault_isolates(self):
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)

        # non-empty owner pw: an empty one would legitimately open via
        # the Algorithm 12 owner fallback
        data = self._build(r=6, user_pw=b"hunter2", owner_pw=b"hunter2")
        assert [s["text"] for s in bytes_to_spans(data)] \
            == ["UNSUPPORTED_BINARY"]


class TestTJKernSpacing:
    def test_large_negative_kern_is_a_word_gap(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _extract_page_blocks)

        c = (b"BT /F1 12 Tf 1 0 0 1 50 700 Tm "
             b"[(hello) -250 (world) -40 (!)] TJ ET")
        blocks = _extract_page_blocks(c, 792.0, 1)
        # -250/1000 em = inter-word gap -> space; -40 = kerning -> none
        assert blocks[0]["text"] == "hello world!"

    def test_leading_kern_and_positive_kerns_ignored(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _extract_page_blocks)

        c = (b"BT /F1 12 Tf 1 0 0 1 50 700 Tm "
             b"[-300 (a) 200 (b) -999 (c)] TJ ET")
        blocks = _extract_page_blocks(c, 792.0, 1)
        assert blocks[0]["text"] == "ab c"


class TestRealPasswordDecryption:
    """User-password decryption across all supported revisions: the same
    Algorithm 2/2.B key derivation, seeded with the real padded password
    instead of the bare pad string (ISO 32000-1 §7.6.3.3, 32000-2
    §7.6.4.3.3).  Wrong/missing passwords keep fault-isolating."""

    @pytest.mark.parametrize("r,bits", [(2, 40), (3, 128)])
    def test_rc4_with_password(self, r, bits):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestRc4Encryption._encrypt_build(
            r=r, keybits=bits, user_pw=b"hunter2")
        blocks = extract_pdf_text(data, password=b"hunter2")
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]

    def test_aes128_with_password(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestRc4Encryption._encrypt_build(aes=True, user_pw=b"pw123")
        blocks = extract_pdf_text(data, password=b"pw123")
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]

    @pytest.mark.parametrize("r", [5, 6])
    def test_aes256_with_password(self, r):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestAes256V5Encryption._build(r=r, user_pw=b"s3cret")
        blocks = extract_pdf_text(data, password=b"s3cret")
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["aes256 secret"]

    def test_wrong_password_fault_isolates(self):
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)

        data = TestRc4Encryption._encrypt_build(
            r=3, user_pw=b"hunter2", owner_pw=b"hunter2")
        spans = bytes_to_spans(data, password=b"WRONG")
        assert [s["text"] for s in spans] == ["UNSUPPORTED_BINARY"]
        spans = bytes_to_spans(data)  # no password at all
        assert [s["text"] for s in spans] == ["UNSUPPORTED_BINARY"]


class TestSimpleFontEncodings:
    """Simple-font /Encoding support (ISO 32000-1 Annex D): base-encoding
    names, /Differences dicts (inline + indirect), AGL glyph names.  The
    reference reads pdftools' already-decoded text (v10_ALTAIR.R:56), so
    this pins the decode poppler would have done upstream of it."""

    def test_winansi_name_decodes_cp1252_range(self):
        txt = "\x93Hi\x94 \x97 caf\xe9"     # curly quotes, em-dash, é
        pdf = write_minimal_pdf([[("text", 72, 100, 12, txt)]],
                                font_encoding=b"/WinAnsiEncoding")
        spans = extract_pdf_text(pdf)
        assert spans[0]["text"] == "“Hi” — caf\xe9"

    def test_macroman_name(self):
        pdf = write_minimal_pdf([[("text", 72, 100, 12, "caf\x8e")]],
                                font_encoding=b"/MacRomanEncoding")
        assert extract_pdf_text(pdf)[0]["text"] == "caf\xe9"

    def test_standard_encoding_quotes_and_ligature(self):
        # 0x27 -> quoteright, 0x60 -> quoteleft, 0xAE -> fi
        pdf = write_minimal_pdf([[("text", 72, 100, 12, "\x60a\x27 \xae")]],
                                font_encoding=b"/StandardEncoding")
        assert extract_pdf_text(pdf)[0]["text"] == "‘a’ ﬁ"

    def test_differences_remap_with_base(self):
        pdf = write_minimal_pdf(
            [[("text", 72, 100, 12, "ab \x93")]],
            font_encoding=b"<< /BaseEncoding /WinAnsiEncoding "
                          b"/Differences [ 97 /emdash /eacute ] >>")
        # a->emdash, b (next code) ->eacute; base still maps 0x93
        assert extract_pdf_text(pdf)[0]["text"] == "—\xe9 “"

    def test_differences_restart_codes_and_uni_names(self):
        pdf = write_minimal_pdf(
            [[("text", 72, 100, 12, "az")]],
            font_encoding=b"<< /Differences [ 97 /uni2020 122 /u00E9 ] >>")
        assert extract_pdf_text(pdf)[0]["text"] == "†\xe9"

    def test_unknown_glyph_name_keeps_fallback(self):
        pdf = write_minimal_pdf(
            [[("text", 72, 100, 12, "ab")]],
            font_encoding=b"<< /Differences [ 97 /nosuchglyph /emdash ] >>")
        # unknown name: latin-1 fallback for 'a'; counter still advances
        assert extract_pdf_text(pdf)[0]["text"] == "a—"

    def test_unlisted_base_encoding_name_is_ignored(self):
        pdf = write_minimal_pdf([[("text", 72, 100, 12, "caf\xe9")]],
                                font_encoding=b"/MacExpertEncoding")
        assert extract_pdf_text(pdf)[0]["text"] == "caf\xe9"

    def test_no_encoding_unchanged_latin1(self):
        pdf = write_minimal_pdf([[("text", 72, 100, 12, "caf\xe9")]])
        assert extract_pdf_text(pdf)[0]["text"] == "caf\xe9"

    def test_tounicode_wins_over_encoding(self):
        # simple font with BOTH WinAnsi and a ToUnicode that maps 0x93
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _page_fonts, _simple_encoding)
        import zlib as _z
        cmap = (b"begincmap\nbeginbfchar\n<93> <0058>\nendbfchar\nendcmap")
        objs = {
            3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
               b"/Encoding /WinAnsiEncoding /ToUnicode 9 0 R >>",
            9: b"<< /Length %d >>\nstream\n" % len(cmap) + cmap
               + b"\nendstream",
        }
        head = b"<< /Resources << /Font << /F1 3 0 R >> >> >>"
        fonts = _page_fonts(head, objs)
        m = fonts["F1"]["map"]
        assert m[0x93] == "X"          # ToUnicode wins
        assert m[0x97] == "—"     # encoding still covers the rest

    def test_glyph_name_conventions(self):
        from pdf_extraction_tests_spark.sources.pdf_min import _glyph_uni
        assert _glyph_uni("Agrave") == "\xc0"
        assert _glyph_uni("odieresis") == "\xf6"
        assert _glyph_uni("germandbls") == "\xdf"
        assert _glyph_uni("a") == "a"
        assert _glyph_uni("uniD800") is None     # surrogate guarded
        assert _glyph_uni("u110000") is None     # out of range
        assert _glyph_uni("u1F600") == "\U0001F600"

    def test_hostile_differences_is_total(self):
        # absurd codes, junk tokens, unterminated array: never raises
        pdf = write_minimal_pdf(
            [[("text", 72, 100, 12, "ok")]],
            font_encoding=b"<< /Differences [ 999 /x -3 /y /z 97 /emdash")
        out = extract_pdf_text(pdf)
        assert out and out[0]["text"] == "ok"


class TestOwnerPasswordDecryption:
    """Owner-password opens (ISO 32000-1 Algorithm 7; 32000-2 Algorithm
    12): the owner password RC4-unwraps /O back to the padded user
    password (classic), or hashes with /O's salts + the full /U and
    unwraps /OE (V5).  The same `password=` argument serves both roles —
    user first, owner fallback."""

    @pytest.mark.parametrize("r,bits", [(2, 40), (3, 128)])
    def test_rc4_owner_password_opens(self, r, bits):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestRc4Encryption._encrypt_build(
            r=r, keybits=bits, user_pw=b"userpw", owner_pw=b"ownerpw")
        blocks = extract_pdf_text(data, password=b"ownerpw")
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]
        # the user password still works too
        blocks = extract_pdf_text(data, password=b"userpw")
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]

    def test_aes128_owner_password_opens(self):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestRc4Encryption._encrypt_build(
            aes=True, user_pw=b"u", owner_pw=b"the-owner")
        blocks = extract_pdf_text(data, password=b"the-owner")
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["rc4 secret text"]

    def test_owner_only_encryption_empty_user(self):
        # owner password set, user password EMPTY: opens with no password
        # (the common "permissions-only" encryption) and with the owner pw
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestRc4Encryption._encrypt_build(
            r=3, user_pw=b"", owner_pw=b"admin")
        assert extract_pdf_text(data)[0]["text"] == "rc4 secret text"
        assert extract_pdf_text(
            data, password=b"admin")[0]["text"] == "rc4 secret text"

    @pytest.mark.parametrize("r", [5, 6])
    def test_aes256_owner_password_opens(self, r):
        from pdf_extraction_tests_spark.sources.pdf_min import (
            extract_pdf_text)

        data = TestAes256V5Encryption._build(
            r=r, user_pw=b"userpw", owner_pw=b"own3r")
        blocks = extract_pdf_text(data, password=b"own3r")
        assert [b["text"] for b in blocks
                if b["kind"] == "text_block"] == ["aes256 secret"]

    def test_wrong_owner_password_still_fault_isolates(self):
        from pdf_extraction_tests_spark.sources.binary_docs import (
            bytes_to_spans)

        for data in (
            TestRc4Encryption._encrypt_build(
                r=3, user_pw=b"u", owner_pw=b"o"),
            TestAes256V5Encryption._build(
                r=6, user_pw=b"u", owner_pw=b"o"),
        ):
            spans = bytes_to_spans(data, password=b"NEITHER")
            assert [s["text"] for s in spans] == ["UNSUPPORTED_BINARY"]


class TestEncodingAnnexDFidelity:
    def test_macroman_0xdb_is_currency_not_euro(self):
        # Annex D MacRomanEncoding predates Apple's euro revision
        pdf = write_minimal_pdf([[("text", 72, 100, 12, "x\xdb\xf0")]],
                                font_encoding=b"/MacRomanEncoding")
        assert extract_pdf_text(pdf)[0]["text"] == "x\xa4\xf0"

    def test_indirect_encoding_bare_name(self):
        # '/Encoding 9 0 R' where object 9 is just '/WinAnsiEncoding'
        from pdf_extraction_tests_spark.sources.pdf_min import (
            _simple_encoding)
        fhead = b"<< /Type /Font /Subtype /Type1 /Encoding 9 0 R >>"
        enc = _simple_encoding(fhead, {9: b"/WinAnsiEncoding"})
        assert enc and enc[0x93] == "“"

    def test_salted_weighted_samples_differ(self, spark):
        # the salt must reach the Spark-side key (review fix): different
        # salts give different samples
        from pdf_extraction_tests_spark.operators.sampling import (
            sample_weighted)
        df = spark.range(200).selectExpr("id", "1 as w")
        a = [r.id for r in sample_weighted(df, "cast(id as string)",
                                           "w", 10, salt="a").collect()]
        b = [r.id for r in sample_weighted(df, "cast(id as string)",
                                           "w", 10, salt="b").collect()]
        assert a != b
