"""The batch kernel equals the per-document reference, without Spark.

``extract_core.extract_batch`` runs every stage once over a whole Arrow
batch; ``extract_core.extract_document`` is the reference it must equal,
field for field and span for span, on any batch: fixtures, every corpus
format family, and generated batches wider than tests/test_properties.py's
documents (odd integer headers, commas in element types, NULL kinds, texts
and offsets, repeated doc ids, case-folding and whitespace edge characters).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from pdf_extraction_tests_spark import extract_core as ec
from pdf_extraction_tests_spark import pipeline as pl
from pdf_extraction_tests_spark.corpus import FORMAT_FAMILIES, make_document
from pdf_extraction_tests_spark.schema import LAYOUT
from tests import fixtures as fx


def _flat_batch(docs, nan_offsets=False):
    """The flat crossing batch of (doc_id, spans) docs; spans None is a NULL
    spans array.  ``nan_offsets`` gives offsets as Spark's Arrow crossing
    does when one is NULL: float64 with NaN."""
    def col(spans, key):
        if spans is None:
            return None
        vals = [s[key] for s in spans]
        if key == "offset" and nan_offsets:
            return np.array([np.nan if v is None else v for v in vals], np.float64)
        return vals
    return pd.DataFrame({
        "doc_id": [d for d, _ in docs],
        "part_key": 0, "_chunk": -1, "_n": 0,
        "_kinds": [col(s, "kind") for _, s in docs],
        "_texts": [col(s, "text") for _, s in docs],
        "_refs": [col(s, "media_ref") for _, s in docs],
        "_orders": [col(s, "offset") for _, s in docs],
    })


def _plain(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v.item() if isinstance(v, np.generic) else v


def _reference(docs):
    rows = []
    for doc_id, spans in docs:
        r = ec.extract_document(doc_id, spans or [])
        sp = r.pop("spans")
        for name, key in zip(ec.FLAT_SPAN_COLUMNS,
                             ("kind", "text", "media_ref", "order")):
            r[name] = [s[key] for s in sp]
        rows.append(r)
    return rows


def _layout_reference(docs):
    return [{"doc_id": doc_id, **{f.name: r[f.name] for f in LAYOUT.fields[1:]}}
            for doc_id, spans in docs for r in ec.spans_to_regions(spans or [])]


def _assert_batch_equals_reference(docs, nan_offsets=False):
    """extract_batch equals extract_document per doc, and layout_batch
    equals spans_to_regions per doc, on the batch of ``docs``."""
    batch = _flat_batch(docs, nan_offsets)
    got = ec.extract_batch(batch)
    assert list(got.columns) == ec.EXTRACT_FLAT_COLUMNS
    want = _reference(docs)
    assert len(got) == len(want)
    for i, w in enumerate(want):
        g = {c: _plain(got[c].iloc[i]) for c in ec.EXTRACT_FLAT_COLUMNS}
        assert g == w, (i, docs[i][0])
    layout = ec.layout_batch(batch)
    assert list(layout.columns) == [f.name for f in LAYOUT.fields]
    assert [{c: _plain(v) for c, v in r.items()}
            for r in layout.to_dict("records")] == _layout_reference(docs)


def test_fixtures():
    _assert_batch_equals_reference([(d["doc_id"], d["spans"]) for d in fx.ALL_FIXTURES])


def test_every_format_family():
    docs = [(f"d{i}", make_document(i, "alpha beta gamma delta. " * 40))
            for i in range(3 * len(FORMAT_FAMILIES))]
    _assert_batch_equals_reference(docs)


def test_empty_batch_and_empty_docs():
    assert list(ec.extract_batch(_flat_batch([])).columns) == ec.EXTRACT_FLAT_COLUMNS
    assert ec.layout_batch(_flat_batch([])).empty
    _assert_batch_equals_reference([("a", None), ("b", []), ("a", None)])


def test_null_offsets_number_regions_before():
    """A NULL offset is the count of regions the doc's earlier spans made;
    an HTML span makes one per kept block."""
    html = {"kind": "html", "media_ref": None, "offset": None,
            "text": "<p>first block of text</p><nav>menu</nav><h1>A heading here</h1>"}
    spans = [dict(fx.GENERIC_DOC["spans"][0], offset=None), html,
             {"kind": "media", "text": "", "media_ref": "m://1", "offset": None},
             dict(fx.GENERIC_DOC["spans"][4], offset=None)]
    for nan in (False, True):
        _assert_batch_equals_reference([("a", spans), ("b", spans)], nan)


def test_lone_surrogate_text():
    """A str with no UTF-8 form still goes through the literal gates."""
    spans = [fx.region(1, 100, 100, 900, 40, "plain text", "Received: \ud800 x", 0),
             fx.span("text", "copyright \ud800", None, 1)]
    _assert_batch_equals_reference([("s", spans)])


# -- generated batches ------------------------------------------------------

_WORDS = ["Abstract", "abstract:", "Introduction", "1. Introduction", "References",
          "Acknowledgments", "Received:", "Copyright", "mdpi", "Nature",
          "communications", "nanotechnology", "elsevier", "article info",
          "keywords", "journal", "clinical trial", "doi.org", "a@b.co", "*",
          "Alice Example,", "Bob Sample", "Objectives:", "[1]", "p H", "5 nm",
          "well-\nknown", "www.x.com", "2024", "İntroduction", "ſcimed",
          "Kelvin", "ß", "𝔘", "\x1c", "\x85", "\u2028", "\u3000", "\xa0", "\t",
          "  ", "."]
_CHARS = st.sampled_from(list("aAzZ .,:;|*-[]0129İıßſKé\x1c\x85\u2028\u3000\xa0\t\n𝔘"))
_text = st.one_of(
    st.lists(st.sampled_from(_WORDS), max_size=40).map(" ".join),
    st.text(alphabet=_CHARS, max_size=60),
)
# header fields int() accepts in forms an Arrow cast does not, and values
# on both sides of +-GEOMETRY_LIMIT, past int64 and past 18 digits
_LIMIT = ec.GEOMETRY_LIMIT
_INT_FIELD = st.one_of(
    st.integers(-20, 3300).map(str),
    st.sampled_from([" 7", "+7", "7_0", "٣", "7\n", "-0", "007", "1e3", "", "x"]),
    st.sampled_from([_LIMIT - 1, _LIMIT, 1 - _LIMIT, -_LIMIT, 1 << 63,
                     10 ** 17, 10 ** 18, -10 ** 30]).map(str),
)
_ETYPE = st.sampled_from(["plain text", "title", "abandon", "table", "media",
                          "parse_failure", "plain text,x", "title,", "figure"])


@st.composite
def _span(draw):
    kind = draw(st.sampled_from(["region", "region", "region", "media", "text",
                                 "html", None, "junk"]))
    offset = draw(st.one_of(st.none(), st.integers(-3, 25)))
    if kind == "region" and draw(st.integers(0, 9)):
        page = draw(st.one_of(st.integers(0, 7).map(str), _INT_FIELD))
        geo = [draw(st.integers(0, 2400).map(str)) if draw(st.booleans())
               else draw(_INT_FIELD) for _ in range(4)]
        text = f"{page},{','.join(geo)},{draw(_ETYPE)}|{draw(_text)}"
    elif kind == "html":
        text = (f"<p>{draw(_text)}</p><h2>{draw(_text)}</h2>"
                f"<footer>{draw(_text)}</footer><li><a>{draw(_text)}</a></li>")
    else:
        text = draw(st.one_of(st.none(), _text))
    return {"kind": kind, "text": text, "offset": offset,
            "media_ref": draw(st.one_of(st.none(), st.just("m://x")))}


_doc = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.one_of(st.none(), st.lists(_span(), max_size=18)),
)


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(st.one_of(st.lists(_doc, min_size=1, max_size=2),
                 st.lists(_doc, min_size=3, max_size=12)),
       st.booleans())
@example([("a", [{"kind": "region", "text": " 7,+7,7_0,٣,7\n,title,x|İß ſ\x85",
                  "offset": None, "media_ref": None}])], False)
@example([("a", [{"kind": "region", "offset": k, "media_ref": None,
                  "text": f"1,{x},0,{_LIMIT - 1},10,plain text|" + "word " * 12}
                 for k, x in enumerate((_LIMIT - 1, _LIMIT, 10 ** 19, 5))])], False)
def test_generated_batches_equal_reference(docs, nan_offsets):
    _assert_batch_equals_reference(docs, nan_offsets)


# -- the pieces the batch kernel does not run in Python re -----------------

@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_text, st.text(max_size=40)), max_size=20))
def test_literal_gates_equal_substring_tests(texts):
    lows = [t.lower() for t in texts]
    arr = ec._arrow_strings(lows)
    for tokens in (ec._BOILER_TOKENS, ("mdpi",), (ec.INTRO_GENERAL_TOKEN,),
                   ("a.b", "x|y", "(", "[1]", "\\", "?", "^", "$", "open access")):
        assert ec._contains_any(arr, tokens).tolist() == [
            any(t in low for t in tokens) for low in lows]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.lists(_INT_FIELD, min_size=4, max_size=6),
                          _ETYPE, _text, st.booleans()), max_size=10))
def test_payload_parse_equals_reference(rows):
    payloads = [",".join(f) + ("," + e if sep else "") + ("|" + t if sep else t)
                for f, e, t, sep in rows]
    ok, geo, etype, body = ec._parse_payloads(payloads)
    for i, p in enumerate(payloads):
        want = ec.parse_region_payload(p)
        assert ok[i] == (want is not None), p
        if want is not None:
            assert (tuple(geo[i].tolist()) + (etype[i], body[i])) == want


def test_blob_gates_are_necessary():
    """Every gate string set names, for each alternative of its pattern, a
    literal that alternative needs, so a blob without them cannot match."""
    rules = ([(pat, gates) for _, _, pat, gates in ec._FMT_PUB_RULES]
             + [(ec._FMT_ALLTEXT_RULE[2], ec._FMT_ALLTEXT_GATES)]
             + [(pat, ec._BAND_FLAG_GATES[name]) for name, pat in ec.BAND_FLAG_RES])
    for pat, gates in rules:
        for alt in pat.pattern.split("|"):
            literal = re.sub(r"\\(.)", r"\1", alt.replace(".*", "\0")
                             .replace(r"\s+", " "))
            assert any(g in part for g in gates for part in literal.split("\0")), alt


# -- the stage function ----------------------------------------------------

def test_stage_calls_batch_kernel_once_per_batch(monkeypatch):
    """_extract_batches_flat runs the batch kernel once per non-empty batch,
    chunked docs included, and never the per-document kernel."""
    calls = []
    real = ec.extract_batch
    monkeypatch.setattr(ec, "extract_batch",
                        lambda pdf: calls.append(len(pdf)) or real(pdf))

    def forbidden(*a, **k):
        raise AssertionError("per-document kernel called")
    monkeypatch.setattr(ec, "extract_document", forbidden)
    monkeypatch.setattr(ec, "extract_from_records", forbidden)

    docs = [(d["doc_id"], d["spans"]) for d in fx.ALL_FIXTURES]
    whole = _flat_batch(docs)
    spans = fx.GENERIC_DOC["spans"]
    chunks = [spans[i:i + 4] for i in range(0, len(spans), 4)]
    chunked = [_flat_batch([("g", c)]).assign(_chunk=k, _n=len(chunks))
               for k, c in enumerate(chunks)]
    batches = [whole.iloc[:3], whole.iloc[:0], whole.iloc[3:], *chunked]
    out = list(pl._extract_batches_flat(iter(batches)))
    assert calls == [3, len(docs) - 3, 1]
    assert [len(o) for o in out] == [3, len(docs) - 3, 1]
    assert list(out[0].columns) == [f.name for f in pl._EXTRACT_FLAT_OUT.fields]


@pytest.mark.parametrize("nan_offsets", [False, True])
def test_chunk_rows_assemble_before_the_kernel(nan_offsets):
    """A chunked doc reaches the kernel as its assembled span arrays, so it
    equals the reference over the whole doc."""
    spans = fx.MDPI_DOC["spans"]
    chunks = [spans[i:i + 2] for i in range(0, len(spans), 2)]
    batches = [_flat_batch([("m", c)], nan_offsets).assign(_chunk=k, _n=len(chunks))
               for k, c in enumerate(chunks)]
    (out,) = pl._extract_batches_flat(iter(batches))
    want = _reference([("m", spans)])[0]
    for c in ec.EXTRACT_FLAT_COLUMNS:
        assert _plain(out[c].iloc[0]) == want[c], c


def test_layout_stage_reads_the_region_table(monkeypatch):
    """The layout stage builds each frame of whole docs from the batch
    region table, chunked docs included, and never calls spans_to_regions."""
    docs = [(d["doc_id"], d["spans"]) for d in fx.ALL_FIXTURES]
    spans = fx.GENERIC_DOC["spans"]
    want = _layout_reference(docs + [("g", spans)])
    calls = []
    real = ec.layout_batch
    monkeypatch.setattr(ec, "layout_batch",
                        lambda pdf: calls.append(len(pdf)) or real(pdf))

    def forbidden(*a, **k):
        raise AssertionError("per-document region parse called")
    monkeypatch.setattr(ec, "spans_to_regions", forbidden)

    whole = _flat_batch(docs, nan_offsets=True)
    chunks = [spans[i:i + 4] for i in range(0, len(spans), 4)]
    chunked = [_flat_batch([("g", c)]).assign(_chunk=k, _n=len(chunks))
               for k, c in enumerate(chunks)]
    batches = [whole.iloc[:3], whole.iloc[:0], whole.iloc[3:], *chunked]
    out = pd.concat(pl._layout_batches_flat(iter(batches)), ignore_index=True)
    assert calls == [3, len(docs) - 3, 1]
    assert [{c: _plain(v) for c, v in r.items()}
            for r in out.to_dict("records")] == want
