"""Deterministic synthetic interleaved-document corpus.

Derives a corpus in the north-rule input shape
``docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
from the driver's read-only ``documents.parquet`` tables: each source row
becomes one interleaved document whose layout (format family, pages, columns,
boilerplate, media) is a pure function of ``(seed, doc_id)`` — two runs, any
machine, any parallelism produce byte-identical corpora.

Format families mirror FIXTURES.md §2 / the reference's per-format code paths
(generic single/two-column, MDPI boilerplate-heavy, Nature-banded, HTML
fragment docs, plain-text docs).  A seeded log-normal span count creates the
skew the pipeline's oversized-doc path must handle (BASELINE.json north_star).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FORMAT_FAMILIES = [
    "generic_single",
    "generic_two_col",
    "mdpi_boiler",
    "nature_banded",
    "html_doc",
    "plain_text",
    "jac_structured",
    "elsevier_banded",
    "multilingual",
]

# per-family extra front-matter rows: (element_type, text, y)
_MDPI_FRONT = [
    ("abandon", "mdpi Journal of Synthetic Results, MDPI, Basel", 40),
    ("plain text", "Academic Editor: Rosa Example", 860),
    ("plain text", "Received: 2 Jan 2024; Accepted: 9 Jan 2024", 900),
    ("plain text", "Citation: Example, A. Synthetic Results. MDPI 2024", 940),
    ("plain text", "Copyright: (c) 2024 by the authors. Licensee MDPI", 980),
    ("plain text", "* Correspondence: author@example.org", 1020),
]
_NATURE_FRONT = [
    # marker text matches both the detector rule (v10.R:636 'nature.*
    # communications') and the banded-path flag (v10.R:1363)
    ("abandon", "nature communications | springer nature synthetic edition", 40),
]


def _words_of(text: str) -> list[str]:
    return [w for w in (text or "").split() if w]


def _sentence(words: list[str], rng: np.random.Generator, n: int) -> str:
    picks = rng.integers(0, len(words), size=n)
    s = " ".join(words[i] for i in picks)
    return s[0].upper() + s[1:] + "."


def region_payload(page: int, x: int, y: int, w: int, h: int, etype: str, text: str) -> str:
    return f"{page},{x},{y},{w},{h},{etype}|{text}"


def corpus_lang(doc_id: int) -> str | None:
    """The language a multilingual-family doc's body is written in (None
    for every other family).  Cycles through all 18 classifier languages
    with a stride coprime to the family modulus, so each language gets
    bodies.  Exposed so end-to-end tests can join guessed vs actual."""
    if doc_id % len(FORMAT_FAMILIES) != FORMAT_FAMILIES.index("multilingual"):
        return None
    langs = _multilingual_prose()
    return list(langs)[(doc_id // len(FORMAT_FAMILIES)) % len(langs)]


def _multilingual_prose() -> dict[str, str]:
    """Frozen per-language seed prose from the language-ID operator (the
    classifier's own training text is deliberately reused: the corpus
    family exists to exercise the END-TO-END path — extract -> language
    guess on matching bodies — not to benchmark held-out accuracy, which
    tests/test_langid.py pins on separate sentences)."""
    # function-level import keeps corpus.py importable without pyspark
    from .operators.text_analysis import _LANG_SEEDS, NONLATIN_SAMPLES

    out = dict(_LANG_SEEDS)
    out.update(NONLATIN_SAMPLES)
    return out


def make_document(doc_id: int, text: str, seed: int = 42) -> list[dict]:
    """Build one interleaved document's spans, deterministically."""
    rng = np.random.default_rng([seed, doc_id])
    words = _words_of(text) or ["lorem", "ipsum", "dolor", "sit", "amet"]
    family = FORMAT_FAMILIES[doc_id % len(FORMAT_FAMILIES)]

    if family == "multilingual":
        # real non-English bodies (10 Latin + 8 non-Latin scripts): the
        # end-to-end surface for the language-ID operator — extracted
        # text carries the language, not just a metadata label
        lang = corpus_lang(doc_id)
        lwords = _words_of(_multilingual_prose()[lang])
        n_blocks = int(rng.integers(4, 10))
        spans = [
            {"kind": "text",
             "text": _sentence(lwords, rng, int(rng.integers(12, 45))),
             "media_ref": None, "offset": i}
            for i in range(n_blocks)
        ]
        if rng.random() < 0.3:
            spans.insert(
                int(rng.integers(1, n_blocks)),
                {"kind": "media", "text": "",
                 "media_ref": f"img://doc{doc_id}/0", "offset": n_blocks},
            )
        for i, sp in enumerate(spans):
            sp["offset"] = i
        return spans

    if family == "plain_text":
        n_blocks = int(rng.integers(3, 9))
        spans = [
            {"kind": "text", "text": _sentence(words, rng, int(rng.integers(8, 25))),
             "media_ref": None, "offset": i}
            for i in range(n_blocks)
        ]
        if rng.random() < 0.5:
            spans.insert(
                int(rng.integers(1, n_blocks)),
                {"kind": "media", "text": "", "media_ref": f"img://doc{doc_id}/0",
                 "offset": n_blocks},
            )
        for i, sp in enumerate(spans):
            sp["offset"] = i
        return spans

    if family == "html_doc":
        title = _sentence(words, rng, 6).rstrip(".")
        paras = [
            f"<p>{_sentence(words, rng, int(rng.integers(20, 60)))}</p>" for _ in range(4)
        ]
        html = (
            "<nav><a href='/'>home</a><a href='/x'>links</a></nav>"
            f"<h1>{title}</h1>"
            + paras[0]
            + "<div><a href='/ad'>sponsored content click here now</a></div>"
            + "".join(paras[1:])
            + "<footer>copyright synthetic corp</footer>"
        )
        spans = [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]
        if rng.random() < 0.4:
            spans.append({"kind": "media", "text": "", "media_ref": f"img://doc{doc_id}/0",
                          "offset": 1})
        return spans

    # region-based (PDF-like) families -------------------------------------
    # log-normal pages => heavy tail; a few multi-page oversized docs
    n_pages = max(1, int(rng.lognormal(mean=0.6, sigma=0.7)))
    n_pages = min(n_pages, 30)
    two_col = family == "generic_two_col"
    page_w = 2480  # 300 dpi A4 px, cf. dpi=300 at v10.R:26
    regions: list[tuple] = []  # (page, x, y, w, h, etype, text)

    title = _sentence(words, rng, 7).rstrip(".")
    abstract_body = _sentence(words, rng, 60)

    if family == "nature_banded":
        # coordinates chosen to land in the nature band spec
        # (extract_core.BAND_SPECS['nature']): title 200-450, authors
        # 450-550, boxed abstract 550-850 (area > 30000), body >= 850
        for etype, t, y in _NATURE_FRONT:
            regions.append((1, 200, y, 1200, 30, etype, t))
        regions.append((1, 200, 250, 2000, 90, "title", title))
        regions.append((1, 200, 470, 1800, 60, "plain text",
                        "Alice Example, Bob Sample, Carol Test 1,2"))
        regions.append((1, 200, 600, 2000, 220, "plain text", abstract_body))
        intro_y = 900
    elif family == "jac_structured":
        regions.append((1, 120, 40, 900, 30, "abandon",
                        "Journal of Antimicrobial Chemotherapy synthetic issue"))
        regions.append((1, 200, 350, 2000, 90, "title", title))
        regions.append((1, 200, 700, 1800, 60, "plain text",
                        "Alice Example, Bob Sample, Carol Test 1,2"))
        for i, sec in enumerate(("Objectives", "Methods", "Results", "Conclusions")):
            regions.append((1, 200, 950 + i * 200, 2000, 160, "plain text",
                            f"{sec}: {_sentence(words, rng, 20)}"))
        intro_y = 1900
    elif family == "elsevier_banded":
        regions.append((1, 120, 40, 900, 30, "abandon",
                        "Contents lists available at ScienceDirect - Elsevier"))
        regions.append((1, 200, 450, 2000, 90, "title", title))
        regions.append((1, 200, 750, 1800, 60, "plain text",
                        "Alice Example, Bob Sample, Carol Test 1,2"))
        regions.append((1, 150, 1050, 550, 400, "plain text",
                        "Article history: synthetic keywords list and info"))
        regions.append((1, 900, 1050, 1400, 400, "plain text",
                        f"Abstract {abstract_body}"))
        intro_y = 1700
    else:
        regions.append((1, 200, 150, 2000, 90, "title", title))
        regions.append((1, 200, 300, 1800, 60, "plain text",
                        "Alice Example, Bob Sample, Carol Test 1,2"))
        regions.append((1, 200, 420, 2000, 200, "plain text", f"Abstract {abstract_body}"))
        if family == "mdpi_boiler":
            for etype, t, y in _MDPI_FRONT:
                regions.append((1, 120, y, 600, 30, etype, t))
        intro_y = 700

    regions.append((1, 200, intro_y, 2000, 50, "title", "1. Introduction"))

    def body_block(page: int, col: int, y: int) -> tuple:
        if two_col:
            x = 150 if col == 1 else 1350
            w = 1000
        else:
            x, w = 200, 2000
        return (page, x, y, w, 180, "plain text",
                _sentence(words, rng, int(rng.integers(25, 70))))

    y = intro_y + 100
    col = 1
    for _ in range(int(rng.integers(2, 5))):
        regions.append(body_block(1, col, y))
        y += 220
        if two_col and y > 3000:
            col, y = 2, intro_y + 100
    for page in range(2, n_pages + 1):
        regions.append((page, 100, 60, 800, 30, "abandon", f"Page {page} running header"))
        y = 200
        col = 1
        for _ in range(int(rng.integers(3, 8))):
            regions.append(body_block(page, col, y))
            y += 260
            if two_col and y > 3000:
                col, y = 2, 200
    last = n_pages
    regions.append((last, 200 if not two_col else 150, 3200, 1000, 60, "title", "References"))
    regions.append((last, 200 if not two_col else 150, 3300, 1000, 120, "plain text",
                    "1. Example A. et al. Synthetic citations. 2024."))

    spans = [
        {"kind": "region", "media_ref": None, "offset": i,
         "text": region_payload(p, x, yy, w, h, et, t)}
        for i, (p, x, yy, w, h, et, t) in enumerate(regions)
    ]
    # interleave media figures deterministically
    n_media = int(rng.integers(0, 3))
    for m in range(n_media):
        pos = int(rng.integers(4, len(spans)))
        spans.insert(pos, {"kind": "media", "text": "",
                           "media_ref": f"img://doc{doc_id}/{m}", "offset": -1})
    for i, sp in enumerate(spans):
        sp["offset"] = i
    # rare malformed payload to exercise parse-failure accounting
    if doc_id % 97 == 13:
        spans.append({"kind": "region", "text": "not-a-valid-payload",
                      "media_ref": None, "offset": len(spans)})
    # rare multi-MB document (heavy-tail skew; decisively above the 1M-char
    # oversize threshold so it routes through the chunked path — north_star
    # requires oversized-doc sub-batching to be exercised end to end)
    if doc_id % 2999 == 3:
        big_sentence = _sentence(words, rng, 400)
        page0 = n_pages + 1
        for i in range(650):
            spans.append({
                "kind": "region", "media_ref": None, "offset": len(spans),
                "text": region_payload(page0 + i // 20, 200, 200 + (i % 20) * 150,
                                       2000, 120, "plain text", big_sentence),
            })
    return spans


def corpus_pandas(documents: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """documents(doc_id:int, text:str, ...) -> docs(doc_id:str, spans)."""
    rows = [
        {"doc_id": f"doc{int(r.doc_id)}", "spans": make_document(int(r.doc_id), r.text, seed)}
        for r in documents.itertuples(index=False)
    ]
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


def corpus_spark(spark, sf_dir: str, seed: int = 42):
    """Distributed corpus build: read documents.parquet, synthesize spans
    inside a ``mapInPandas`` stage (no driver-side materialization)."""
    from .schema import DOCS
    from .shipping import map_batches

    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def gen(batches):
        for pdf in batches:
            yield corpus_pandas(pdf, seed)

    return map_batches(src, gen, DOCS)
