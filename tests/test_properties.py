"""Property-based tests (hypothesis) over the extraction kernel.

Random interleaved documents -> structural invariants that must hold for
ANY input, not just fixtures: span orders are a clean permutation, output
is deterministic, parse failures never leak into spans, cleaning is
idempotent, sentence-dedup is idempotent, media refs survive.
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from pdf_extraction_tests_spark import extract_core as ec

_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
                           max_codepoint=0x2FF),
    min_size=0, max_size=80,
)


@st.composite
def span_lists(draw):
    n = draw(st.integers(0, 25))
    spans = []
    for i in range(n):
        kind = draw(st.sampled_from(["region", "media", "text", "html", "junk"]))
        if kind == "region":
            ok = draw(st.booleans())
            if ok:
                page = draw(st.integers(1, 5))
                x = draw(st.integers(0, 2400))
                y = draw(st.integers(0, 3300))
                w = draw(st.integers(1, 2400))
                h = draw(st.integers(1, 400))
                et = draw(st.sampled_from(["plain text", "title", "abandon", "table"]))
                text = f"{page},{x},{y},{w},{h},{et}|" + draw(_text)
            else:
                text = draw(_text)  # likely malformed payload
            spans.append({"kind": "region", "text": text, "media_ref": None,
                          "offset": i})
        elif kind == "media":
            spans.append({"kind": "media", "text": "",
                          "media_ref": f"m://{i}", "offset": i})
        elif kind == "html":
            spans.append({"kind": "html",
                          "text": f"<p>{draw(_text)}</p><h1>{draw(_text)}</h1>",
                          "media_ref": None, "offset": i})
        else:
            spans.append({"kind": kind, "text": draw(_text), "media_ref": None,
                          "offset": i})
    return spans


@settings(max_examples=40, deadline=None)
@given(span_lists())
def test_span_order_is_clean_permutation(spans):
    res = ec.extract_document("p", spans)
    orders = [s["order"] for s in res["spans"]]
    assert orders == list(range(len(orders)))
    for s in res["spans"]:
        assert s["kind"] in ("title", "text", "media")
        if s["kind"] == "media":
            assert s["media_ref"] is not None and s["text"] == ""
        else:
            assert s["media_ref"] is None


@settings(max_examples=25, deadline=None)
@given(span_lists())
def test_deterministic(spans):
    assert ec.extract_document("p", spans) == ec.extract_document("p", spans)


@settings(max_examples=25, deadline=None)
@given(span_lists())
def test_boundaries_well_formed(spans):
    res = ec.extract_document("p", spans)
    assert res["boundary_start"] <= res["boundary_end"]
    assert res["parse_failures"] >= 0
    assert res["total_pages"] >= 0


@settings(max_examples=50, deadline=None)
@given(_text)
def test_clean_text_idempotent(s):
    once = ec.clean_text(s)
    assert ec.clean_text(once) == once


@settings(max_examples=50, deadline=None)
@given(_text)
def test_dedupe_idempotent(s):
    once = ec.dedupe_sentences(s)
    assert ec.dedupe_sentences(once) == once


@settings(max_examples=30, deadline=None)
@given(span_lists())
def test_media_refs_preserved(spans):
    res = ec.extract_document("p", spans)
    in_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
    out_refs = [s["media_ref"] for s in res["spans"] if s["kind"] == "media"]
    assert sorted(out_refs) == sorted(in_refs)


@settings(max_examples=30, deadline=None)
@given(span_lists())
def test_simple_extractor_same_invariants(spans):
    """The dual (simple) path honors the same structural contract."""
    res = ec.extract_simple_document("p", spans)
    orders = [s["order"] for s in res["spans"]]
    assert orders == list(range(len(orders)))
    assert res == ec.extract_simple_document("p", spans)  # deterministic
    in_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
    out_refs = [s["media_ref"] for s in res["spans"] if s["kind"] == "media"]
    assert sorted(out_refs) == sorted(in_refs)


@settings(max_examples=50, deadline=None)
@given(_text)
def test_author_canonicalization_idempotent(s):
    once = ec.clean_author_list(s)
    assert ec.clean_author_list(once) == once


_pdf_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF,
                           blacklist_characters="\x7f"),
    min_size=1, max_size=60,
)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(0, 500), st.integers(0, 700),
                      st.sampled_from([9, 11, 14, 18]), _pdf_text),
            min_size=1, max_size=6,
        ),
        min_size=1, max_size=3,
    ),
    st.booleans(),
    st.booleans(),
)
def test_pdf_writer_decoder_roundtrip(pages, compress, objstm):
    """Any text placed by the writer comes back from the decoder with its
    page/x/y/size intact (strings with parens/backslashes included) — in
    both the flat 1.4 layout and the ObjStm-packed 1.5 layout."""
    from pdf_extraction_tests_spark.sources.pdf_min import extract_pdf_text
    from tests.fixtures import write_minimal_pdf

    spec = [[("text", x, y, size, text) for x, y, size, text in pg]
            for pg in pages]
    data = write_minimal_pdf(spec, compress=compress, objstm=objstm)
    blocks = [b for b in extract_pdf_text(data) if b["kind"] == "text_block"]
    want = []
    for pno, pg in enumerate(pages, 1):
        for x, y, size, text in pg:
            stripped = text.strip()
            if stripped:  # decoder drops whitespace-only shows
                want.append((pno, x, y, stripped))
    got = [(b["page"], b["x"], b["y"], b["text"]) for b in blocks]
    # each written item must appear; consecutive same-position shows may
    # merge, so compare as multisets of (page, x, y) prefixes
    assert sorted(got) == sorted(want)


_row_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
    min_size=0, max_size=400,
)


@st.composite
def scorer_rows(draw):
    n = draw(st.integers(1, 12))
    rows = []
    for i in range(n):
        rows.append({
            "page": draw(st.integers(1, 3)),
            "x": 100, "w": 1000, "h": 50,
            "y": draw(st.integers(0, 3000)),
            "text": draw(_row_text),
            "element_type": draw(st.sampled_from(
                ["title", "plain text", "abandon", "media"])),
            "row_id": i, "offset": i, "parse_failure": 0,
            "media_ref": None,
        })
    return rows


def _scorer_row(text, element_type, y=0):
    return {"page": 1, "x": 100, "w": 1000, "h": 50, "y": y, "text": text,
            "element_type": element_type, "row_id": 0, "offset": 0,
            "parse_failure": 0, "media_ref": None}


@settings(max_examples=60, deadline=None)
@given(scorer_rows())
@example([_scorer_row("0" * 30 + "\xa0", "title")])
def test_title_scorer_total_and_sound(rows):
    """Never crashes on arbitrary text; any pick is a page-1 non-media row's
    own text with whitespace runs collapsed and trimmed (v10.R:1952-1954),
    row_id valid; verbatim gates hold on the raw row (>30 chars for YOLO
    titles)."""
    title, rid = ec.extract_title(rows)
    if rid == -1:
        assert title == ""
        return
    r = rows[rid]
    assert r["page"] == 1 and r["element_type"] in ("plain text", "title")
    assert title == ec._WS_RE.sub(" ", r["text"]).strip()
    assert len(r["text"]) > 30 or (r["y"] < 600)


@settings(max_examples=60, deadline=None)
@given(scorer_rows())
@example([_scorer_row("Abstract: " + "word.  " * 30, "plain text")])
def test_abstract_scorer_total_and_sound(rows):
    """Never crashes; any pick comes from a page-1 non-media row, with the
    reference header strip and whitespace collapse applied; fallback rows
    are > 50 chars."""
    text, rid = ec.extract_abstract(rows)
    if rid == -1:
        assert text == ""
        return
    r = rows[rid]
    assert r["page"] == 1 and r["element_type"] != "media"
    assert text == ec._WS_RE.sub(
        " ", ec.ABSTRACT_STRIP_RE.sub("", r["text"], count=1)).strip()


@settings(max_examples=120, deadline=None)
@given(
    st.integers(0, 2**31 - 1),
    st.integers(1, 16),
    st.booleans(),
    st.booleans(),
)
def test_pdf_decoder_total_under_mutation(seed, n_mut, compress, objstm):
    """Web-scale junk contract: ANY byte mutation of a valid PDF either
    decodes or raises UnsupportedPdfError — never ValueError/IndexError/
    zlib.error out of the decoder (those would kill a whole Arrow batch)."""
    import random

    from pdf_extraction_tests_spark.sources.pdf_min import (
        UnsupportedPdfError,
        extract_pdf_text,
    )
    from tests.fixtures import write_minimal_pdf

    base = write_minimal_pdf(
        [[("text", 10, 10, 12, "hello fuzz world")], [("image", "Im0")]],
        compress=compress, objstm=objstm,
    )
    rng = random.Random(seed)
    data = bytearray(base)
    for _ in range(n_mut):
        data[rng.randrange(len(data))] = rng.randrange(256)
    try:
        blocks = extract_pdf_text(bytes(data))
        assert isinstance(blocks, list)
    except UnsupportedPdfError:
        pass


@settings(max_examples=150, deadline=None)
@given(
    st.binary(min_size=0, max_size=300),
    st.sampled_from([b"", b"%PDF-", b"<", b"SPDF\n"]),
)
def test_bytes_to_spans_total(payload, prefix):
    """The binary source must turn ANY bytes into spans (parse failures
    included) — no exception class may escape into the Arrow batch."""
    from pdf_extraction_tests_spark.sources.binary_docs import bytes_to_spans

    spans = bytes_to_spans(prefix + payload)
    assert isinstance(spans, list)
    for sp in spans:
        assert set(sp) == {"kind", "text", "media_ref", "offset"}


_HARD_PDFS = None


def _hard_profile_pdfs():
    """Valid PDFs exercising the round-4 decoder surface: filter chains,
    an xref stream with PNG predictor, RC4 encryption, and a Type0 font
    with a ToUnicode CMap; plus text interleaved with CCITT, JBIG2 and
    DCT image XObjects (garbage payloads) for the media path."""
    global _HARD_PDFS
    if _HARD_PDFS is None:
        import zlib

        from tests.fixtures import write_minimal_pdf
        from tests.test_sources import (
            XOBJECT_PAGE,
            TestRc4Encryption,
            TestType0ToUnicode,
            TestXrefStream,
            _assemble_pdf,
            _one_page_objs,
        )

        ops = b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (fuzz target) Tj ET"
        enc = zlib.compress(ops).hex().encode() + b">"
        chain = _assemble_pdf(_one_page_objs(
            b"<< /Length %d /Filter [/ASCIIHexDecode /FlateDecode] >>"
            b"\nstream\n" % len(enc) + enc + b"\nendstream"))
        _HARD_PDFS = [
            chain,
            TestXrefStream._build(predictor=True),
            TestRc4Encryption._encrypt_build(),
            TestType0ToUnicode()._pdf(),
            TestRc4Encryption._encrypt_build(aes=True),
            __import__("tests.test_sources", fromlist=["x"])
            .TestAes256V5Encryption._build(r=6),
            write_minimal_pdf([XOBJECT_PAGE]),
        ]
    return _HARD_PDFS


@settings(max_examples=160, deadline=None)
@given(
    st.integers(0, 2**31 - 1),
    st.integers(1, 16),
    st.integers(0, 6),
)
def test_hard_profile_pdfs_total_under_mutation(seed, n_mut, which):
    """Totality over the round-4 surface (filters / xref streams / RC4 /
    Type0 CMaps) and the image-XObject media path: any byte mutation
    either decodes or raises UnsupportedPdfError — never ValueError/
    IndexError/struct.error/zlib.error out of an Arrow batch."""
    import random

    from pdf_extraction_tests_spark.sources.pdf_min import (
        UnsupportedPdfError,
        extract_pdf_text,
    )

    base = _hard_profile_pdfs()[which]
    rng = random.Random(seed)
    data = bytearray(base)
    for _ in range(n_mut):
        data[rng.randrange(len(data))] = rng.randrange(256)
    try:
        blocks = extract_pdf_text(bytes(data))
        assert isinstance(blocks, list)
    except UnsupportedPdfError:
        pass


@settings(max_examples=25, deadline=None)
@given(st.lists(
    # x <= 120: widest block (60 chars x 16pt x 0.5) stays inside the
    # 612px page — a clipped render would differ from the unclipped
    # decode geometry by design
    st.tuples(st.integers(40, 120), st.integers(40, 700),
              st.sampled_from([9.0, 11.0, 16.0]), _pdf_text),
    min_size=1, max_size=5))
def test_inband_raster_loop_matches_direct_decode(items):
    """Property form of the zero-binary scanned loop: for ANY generated
    one-page document, write_minimal_pdf -> default raster stack yields
    the same (etype, text, geometry) blocks as the direct pdf_min decode."""
    from pdf_extraction_tests_spark.sources.pdf_min import extract_pdf_text
    from tests.fixtures import write_minimal_pdf
    from pdf_extraction_tests_spark.sources.scanned import (
        extract_scanned_pdf)

    # lay blocks out on a non-overlapping vertical grid (overlapping rects
    # merge under XY-cut by design — not the property under test)
    page = [("text", x, 40 + i * 120, size, text)
            for i, (x, _y, size, text) in enumerate(items)]
    data = write_minimal_pdf([page])
    direct = sorted(
        (b["page"], b["etype"], b["text"], b["x"], b["y"], b["w"], b["h"])
        for b in extract_pdf_text(data) if b["kind"] == "text_block")
    scanned = sorted(
        (b["page"], b["etype"], b["text"], b["x"], b["y"], b["w"], b["h"])
        for b in extract_scanned_pdf(data) if b["kind"] == "text_block")
    assert scanned == direct


# --- round-5 additions: BPE, JPEG -------------------------------------------


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=590),
               max_size=200))
def test_bpe_pieces_reassemble_and_bound(text):
    """BPE is a partition of the pre-tokenized pieces: concatenating a
    word's pieces yields the word, and counts are bounded by characters."""
    from pdf_extraction_tests_spark.functions import bpe as B

    for w in B._WORD_RE.findall(text.lower()):
        pieces = B.bpe_pieces(w)
        assert "".join(pieces) == w
        assert 1 <= len(pieces) <= len(w)
    assert B.bpe_token_count(text) == len(B.bpe_tokenize(text))


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2 ** 31 - 1))
def test_jpeg_round_trip_random_shapes(w, h, seed):
    """Baseline JPEG with an all-ones quant table reconstructs within DCT
    rounding for any geometry (block padding, edge replication)."""
    import numpy as np

    from pdf_extraction_tests_spark.sources._jpeg import decode_jpeg_gray
    from tests.test_jpeg import encode_jpeg

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w)).astype(np.float64)
    got = decode_jpeg_gray(encode_jpeg(img))
    assert got.shape == (h, w)
    assert float(np.max(np.abs(got - img))) <= 2.0
