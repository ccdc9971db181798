"""Unit tests for the pure-pandas extraction kernel (no Spark needed)."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extraction_tests_spark import extract_core as ec
from tests import fixtures as fx


def spans_tuples(result):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in result["spans"]]


class TestParsing:
    def test_region_payload_roundtrip(self):
        p = ec.parse_region_payload("2,10,20,300,40,plain text|hello | world")
        assert p == (2, 10, 20, 300, 40, "plain text", "hello | world")

    def test_region_payload_malformed(self):
        assert ec.parse_region_payload("nope") is None
        assert ec.parse_region_payload("1,2|x") is None
        # a field at or past +-GEOMETRY_LIMIT: x + w must stay inside int64
        lim = ec.GEOMETRY_LIMIT
        assert ec.parse_region_payload(f"1,{lim - 1},0,{1 - lim},1,t|x")[1] == lim - 1
        for v in (lim, -lim, 1 << 63, -10 ** 30):
            assert ec.parse_region_payload(f"1,0,{v},1,1,t|x") is None

    def test_spans_to_regions_counts_failures(self):
        recs = ec.spans_to_regions(fx.BROKEN_DOC["spans"])
        assert sum(r["parse_failure"] for r in recs) == 1
        assert sum(1 for r in recs if not r["parse_failure"]) == 2


class TestHtml:
    def test_strip_html_blocks(self):
        blocks = ec.strip_html_blocks(fx.HTML_DOC["spans"][0]["text"])
        assert blocks == [
            ("title", "Synthetic Page Heading"),
            ("plain text", "The main article content paragraph is long enough to keep."),
            ("plain text", "A second content paragraph that should also be kept intact."),
        ]

    def test_link_density_drops_linkfarm(self):
        html = "<p>read <a href='x'>this whole thing is one big link text</a></p>"
        assert ec.strip_html_blocks(html) == []

    def test_short_blocks_dropped(self):
        assert ec.strip_html_blocks("<p>tiny</p>") == []


class TestFilters:
    def test_filter_regions(self):
        recs = ec.spans_to_regions(fx.GENERIC_DOC["spans"])
        kept = ec.filter_regions(recs)
        # abandon on page 2 dropped; media kept
        assert not any(r["element_type"] == "abandon" and r["page"] > 1 for r in kept)
        assert sum(1 for r in kept if r["element_type"] == "media") == 1


class TestReadingOrder:
    def test_two_column_order(self):
        recs = ec.spans_to_regions(fx.TWO_COL_DOC["spans"])
        ordered = ec.reading_order(ec.filter_regions(recs))
        assert [r["text"] for r in ordered] == fx.TWO_COL_EXPECTED_ORDER
        assert [r["column"] for r in ordered] == [1, 1, 2, 2]

    def test_single_column_when_gap_small(self):
        rows = []
        for i in range(6):
            rows.append(
                {"kind": "region", "media_ref": None, "offset": i,
                 "text": f"1,{200 + i * 30},{100 * i},900,100,plain text|"
                         f"block number {i} with plenty of characters inside"}
            )
        ordered = ec.reading_order(ec.filter_regions(ec.spans_to_regions(rows)))
        assert all(r["column"] == 1 for r in ordered)

    def test_deterministic_tiebreak(self):
        # identical coordinates: offset breaks the tie
        rows = [
            {"kind": "region", "media_ref": None, "offset": 1,
             "text": "1,100,100,500,50,plain text|second by offset"},
            {"kind": "region", "media_ref": None, "offset": 0,
             "text": "1,100,100,500,50,plain text|first by offset"},
        ]
        ordered = ec.reading_order(ec.filter_regions(ec.spans_to_regions(rows)))
        assert [r["text"] for r in ordered] == ["first by offset", "second by offset"]


class TestKmeansFallback:
    def test_clean_bimodal_accepted(self):
        xs = [450, 470, 500, 520, 550, 560, 1850, 1870, 1900, 1920, 1950, 1960]
        b = ec.kmeans_1d_boundary(xs, 2400)
        assert b is not None and 600 < b < 1800

    def test_bridged_case_where_gap_method_declines(self):
        # max rounded-unique gap is 100 px < 0.15 * 2400, so the primary
        # largest-gap method declines; 2-means still separates the mass
        xs = [450, 500, 550, 600] + list(range(700, 1800, 100)) + [1850, 1900, 1950]
        b = ec.kmeans_1d_boundary(xs, 2400)
        assert b is not None and 700 < b < 1800

    def test_uniform_rejected(self):
        xs = list(range(400, 2000, 100))
        # uniform spread: weak separation must be rejected (v10.R:551 rule)
        b = ec.kmeans_1d_boundary(xs, 2400)
        if b is not None:  # if accepted, both sides must be non-trivial
            left = sum(1 for x in xs if x < b)
            assert 0 < left < len(xs)

    def test_single_cluster_rejected(self):
        assert ec.kmeans_1d_boundary([500, 510, 520, 530, 540], 2400) is None


def _fmt_doc(pub_texts, title_y=450, title_text="A Sufficiently Long Synthetic Title Line"):
    """Minimal record list for detector tests: abandon rows carrying the
    publisher text + one title row controlling the layout hint."""
    recs = [
        {"page": 1, "x": 100, "y": 40 + i * 10, "w": 800, "h": 9,
         "text": t, "element_type": "abandon", "media_ref": None,
         "offset": i, "parse_failure": 0}
        for i, t in enumerate(pub_texts)
    ]
    recs.append({"page": 1, "x": 200, "y": title_y, "w": 2000, "h": 90,
                 "text": title_text, "element_type": "title",
                 "media_ref": None, "offset": len(recs), "parse_failure": 0})
    return recs


class TestFormatDetection:
    """One test per reference detector rule (v10.R:623-672)."""

    def test_mdpi_detected(self):
        recs = ec.spans_to_regions(fx.MDPI_DOC["spans"])
        assert ec.detect_document_format(ec.filter_regions(recs)) == "mdpi"

    def test_generic_default(self):
        recs = ec.spans_to_regions(fx.GENERIC_DOC["spans"])
        assert ec.detect_document_format(ec.filter_regions(recs)) == "generic_academic"

    def test_mdpi_journal_names(self):  # v10.R:623-625 (+5)
        assert ec.detect_document_format(
            _fmt_doc(["published in nanomaterials, an open journal"])) == "mdpi"

    def test_mdpi_licensee_basel(self):  # v10.R:626-628 (+3)
        assert ec.detect_document_format(
            _fmt_doc(["licensee mdpi, basel, switzerland"])) == "mdpi"

    def test_mdpi_editor_dateline(self):  # v10.R:629-631 (+2)
        assert ec.detect_document_format(
            _fmt_doc(["academic editor: r example",
                      "received: 1 jan revised: 2 jan accepted: 3 jan published: 4 jan"])
        ) == "mdpi"

    def test_nature_doi(self):  # v10.R:634-636 (+3)
        assert ec.detect_document_format(
            _fmt_doc(["article doi 10.1038/doi for nature synthetic"])
        ) == "nature_communications"

    def test_rsc(self):  # v10.R:639-641 (+3)
        assert ec.detect_document_format(
            _fmt_doc(["published by the royal society of chemistry"])) == "rsc"

    def test_elsevier_homepage(self):  # v10.R:644-651 (+5, +3)
        assert ec.detect_document_format(
            _fmt_doc(["journal homepage.www.elsevier.com synthetic"])) == "elsevier"

    def test_elsevier_alltext_rule(self):
        # v10.R:655-657: 'abstract.*keywords' over ALL page-1 text (+2)
        assert ec.detect_document_format(
            _fmt_doc(["abstract of the work, keywords: synthetic"])) == "elsevier"

    def test_layout_hint_nature_first_max_wins(self):
        # v10.R:658-668 + which.max(:672): title_y < 300 gives nature +1,
        # TYING generic_academic's baseline 1 — the first max in list order
        # (nature_communications) wins, reference quirk preserved
        assert ec.detect_document_format(
            _fmt_doc(["no publisher markers at all"], title_y=250)
        ) == "nature_communications"

    def test_layout_hint_rsc_mid_band(self):
        # 200 < title_y < 400 gives rsc +1; rsc precedes generic in order
        assert ec.detect_document_format(
            _fmt_doc(["no publisher markers at all"], title_y=350)) == "rsc"

    def test_band_flags_independent_of_class(self):
        # v10.R:1363-1366: the JAC banded path triggers by flag even though
        # the 5-class detector has no jac class.  The detector labels the doc
        # nature_communications: its page-1 journal header (y=40, > 30 chars)
        # is the first "title region" so the title_y < 300 hint fires — the
        # reference's own quirk (title_regions has no element-type filter,
        # v10.R:659-661).
        recs = ec.spans_to_regions(fx.JAC_DOC["spans"])
        kept = ec.filter_regions(recs)
        assert ec.detect_band_format(kept) == "jac"
        assert ec.detect_document_format(kept) == "nature_communications"


class TestCleaning:
    def test_citation_strip(self):
        assert ec.clean_text("results [1] and [2, 3] shown") == "results and shown"

    def test_dehyphenation(self):
        assert ec.clean_text("exper- iment", "academic") == "experiment"

    def test_ph_nm(self):
        assert ec.clean_text("at p H 7 and 500  nm", "academic") == "at pH 7 and 500 nm"

    def test_aggressive_strips_citations_and_whitespace(self):
        assert ec.clean_text("results [1] and [2, 3] shown  here",
                             "aggressive") == "results and shown here"

    def test_dedupe_sentences(self):
        assert ec.dedupe_sentences("A b. C d. A b. E f") == "A b. C d. E f"


class TestEndToEnd:
    def test_generic_golden_spans(self):
        res = ec.extract_document(fx.GENERIC_DOC["doc_id"], fx.GENERIC_DOC["spans"])
        assert spans_tuples(res) == fx.GENERIC_GOLDEN["spans"]
        assert res["title"] == fx.GENERIC_GOLDEN["title"]
        assert res["authors"] == fx.GENERIC_GOLDEN["authors"]
        assert res["abstract"] == fx.GENERIC_GOLDEN["abstract"]
        assert res["document_format"] == "generic_academic"
        assert res["total_pages"] == 2
        assert res["parse_failures"] == 0

    def test_generic_main_text(self):
        res = ec.extract_document(fx.GENERIC_DOC["doc_id"], fx.GENERIC_DOC["spans"])
        assert res["main_text"] == fx.GENERIC_GOLDEN["main_text"]

    def test_mdpi_boilerplate_stripped(self):
        res = ec.extract_document(fx.MDPI_DOC["doc_id"], fx.MDPI_DOC["spans"])
        texts = [s["text"] for s in res["spans"] if s["kind"] != "media"]
        assert texts == fx.MDPI_EXPECTED_TEXTS
        assert res["document_format"] == "mdpi"

    def test_html_golden(self):
        res = ec.extract_document(fx.HTML_DOC["doc_id"], fx.HTML_DOC["spans"])
        assert spans_tuples(res) == fx.HTML_EXPECTED

    def test_broken_doc_isolated(self):
        res = ec.extract_document(fx.BROKEN_DOC["doc_id"], fx.BROKEN_DOC["spans"])
        assert res["parse_failures"] == 1
        # reference-verbatim title scorer: a 23-char YOLO title fails the
        # nchar>30 gate (v10.R:1927) and every fallback branch -> "Title
        # not found" -> "" (the engine's empty-string convention); the
        # valid regions still survive the broken sibling span
        assert res["title"] == ""
        assert len(res["spans"]) == 2

    def test_empty_doc(self):
        res = ec.extract_document("empty", [])
        assert res["spans"] == []
        assert res["total_pages"] == 0

    def test_batch_frame(self):
        pdf = pd.DataFrame(
            [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in fx.ALL_FIXTURES]
        )
        out = ec.extract_docs_frame(pdf)
        assert list(out["doc_id"]) == [d["doc_id"] for d in fx.ALL_FIXTURES]
        assert out["parse_failures"].sum() == 1


class TestBandedFormats:
    def test_nature_boxed_abstract(self):
        res = ec.extract_document(fx.NATURE_DOC["doc_id"], fx.NATURE_DOC["spans"])
        assert res["document_format"] == "nature_communications"
        assert res["abstract"] == fx.NATURE_ABS
        assert res["title"] == "A Nature Banded Synthetic Article"

    def test_jac_structured_abstract(self):
        res = ec.extract_document(fx.JAC_DOC["doc_id"], fx.JAC_DOC["spans"])
        # jac is a band-path flag, not a detector class (v10.R:1364); the
        # class label comes from the layout-hint quirk (see
        # TestFormatDetection.test_band_flags_independent_of_class)
        assert res["document_format"] == "nature_communications"
        assert res["abstract"] == fx.JAC_EXPECTED_ABSTRACT

    def test_elsevier_right_column_abstract(self):
        res = ec.extract_document(fx.ELSEVIER_DOC["doc_id"], fx.ELSEVIER_DOC["spans"])
        assert res["document_format"] == "elsevier"
        assert res["abstract"] == fx.ELSEVIER_EXPECTED_ABSTRACT
        # elsevier boundary variant: anchored intro, article-info excluded
        assert "Article history" not in res["main_text"]
        assert res["main_text"].startswith("1. Introduction")

    def test_elsevier_boundary_scan_rules(self):
        def row(i, text, page=1, y=None):
            return {"page": page, "x": 0, "y": y if y is not None else i * 100,
                    "w": 10, "h": 5, "text": text,
                    "element_type": "plain text", "media_ref": None,
                    "offset": i, "parse_failure": 0, "row_id": i}

        rows = [
            row(0, "Article info and keywords box"),
            row(1, "Introduction"),        # anchored heading
            row(2, "Body content here."),
            row(3, "CRediT authorship contribution statement"),
            row(4, "tail"),
        ]
        start, end = ec.scan_boundaries_elsevier(rows)
        assert (start, end) == (1, 3)  # extended end-marker set (v10.R:2436)
        # a row mentioning keywords cannot be the intro anchor
        rows2 = [row(0, "Introduction to keywords usage"),
                 row(1, "1. Introduction"),
                 row(2, "Body.")]
        assert ec.scan_boundaries_elsevier(rows2)[0] == 1

    def test_band_assignment(self):
        recs = ec.reading_order(
            ec.filter_regions(ec.spans_to_regions(fx.ELSEVIER_DOC["spans"]))
        )
        ec.assign_bands(recs, "elsevier")
        bands = {r["text"][:16]: r["band"] for r in recs if r["page"] == 1}
        assert bands["Article history:"] == "article_info"
        assert bands["Abstract The els"] == "abstract"

    def test_mdpi_xzone_filter(self):
        body = [
            {"x": 100, "text": "left mini column badge", "row_id": 0},
            {"x": 600, "text": "m" * 150, "row_id": 1},
            {"x": 620, "text": "n" * 150, "row_id": 2},
        ]
        kept = ec.mdpi_xzone_filter(body)
        assert [r["row_id"] for r in kept] == [1, 2]

    def test_lookahead_end_scan(self):
        body = [
            {"text": "intro", "row_id": 0},
            {"text": "registered clinical trial NCT01", "row_id": 1},
            {"text": "some trailing text", "row_id": 2},
            {"text": "References", "row_id": 3},
        ]
        assert ec.lookahead_end_scan(body, 0, 10) == 2
        # no end-matter within 5 rows => unchanged
        body2 = body[:2] + [{"text": f"t{i}", "row_id": 2 + i} for i in range(6)]
        assert ec.lookahead_end_scan(body2, 0, 10) == 10


class TestBoundaryScoring:
    """Reference intro/end scoring (v10.R:1697-1718, 1866-1878)."""

    def test_intro_score_weights(self):
        # general intro word (5) + numbered start (3) = 8 on the heading
        assert ec.intro_score("1. Introduction") == 8
        # an abstract that merely MENTIONS 'introduction': 5 + substantial +
        # starts_properly = 7 — loses to the real heading (the round-1 miss)
        noisy = "This abstract gives an introduction to the method " + "x" * 60
        assert ec.intro_score(noisy) == 7
        assert ec.intro_score("Abstract: Something", is_mdpi=True) >= 10
        assert ec.intro_score("Abstract: Something", is_mdpi=False) < 10

    def test_abstract_mentioning_introduction_loses_to_heading(self):
        rows = []
        texts = [
            ("plain text", "An abstract which provides a thorough introduction "
             "to the topic and is certainly longer than one hundred characters "
             "of body text in total here."),
            ("title", "1. Introduction"),
            ("plain text", "Body paragraph."),
        ]
        for i, (et, t) in enumerate(texts):
            rows.append({"page": 1, "x": 200, "y": 100 + i * 100, "w": 2000,
                         "h": 90, "text": t, "element_type": et,
                         "media_ref": None, "offset": i, "parse_failure": 0,
                         "row_id": i})
        start, _ = ec.scan_boundaries(rows)
        assert start == 1  # heading (score 8) beats noisy abstract (7)

    def test_fallback_min_15(self):
        rows = [
            {"page": 1, "x": 0, "y": i * 10, "w": 10, "h": 5,
             "text": f"row {i} zz", "element_type": "plain text",
             "media_ref": None, "offset": i, "parse_failure": 0, "row_id": i}
            for i in range(30)
        ]
        start, _ = ec.scan_boundaries(rows)
        assert start == 14  # min(15, nrow)-th text row, 0-based (v10.R:1716)

    def test_conservative_end_requires_late_page(self):
        def row(i, text, page):
            return {"page": page, "x": 0, "y": i * 10, "w": 10, "h": 5,
                    "text": text, "element_type": "plain text",
                    "media_ref": None, "offset": i, "parse_failure": 0,
                    "row_id": i}

        base = [row(0, "1. Introduction", 1), row(1, "Body text here.", 2)]
        late = base + [row(2, "References", 7), row(3, "tail", 7)]
        early = base + [row(2, "References", 3), row(3, "tail", 3)]
        assert ec.scan_boundaries(late)[1] == 2     # end-score fires (page>=6)
        assert ec.scan_boundaries(early)[1] == 2    # fallback END_RE still trims

    def test_end_score_rejects_doi_line(self):
        def row(i, text, page):
            return {"page": page, "x": 0, "y": i * 10, "w": 10, "h": 5,
                    "text": text, "element_type": "plain text",
                    "media_ref": None, "offset": i, "parse_failure": 0,
                    "row_id": i}

        rows = [row(0, "1. Introduction", 1),
                row(1, "References", 7)]
        # exact header passes the conservative end-score
        assert ec.scan_boundaries(rows)[1] == 1
        # a header-like line carrying a url fails the conservative rule
        # (is_not_doi, v10.R:1874) — it still trims via the fallback heading
        # scan, but only because the repo keeps that extension for short docs
        rows2 = [row(0, "1. Introduction", 1),
                 row(1, "References www.example.org", 7)]
        t = "References www.example.org"
        assert not (ec.END_HEADER_RE.match(t) and
                    not ec.END_NOT_DOI_RE.search(t.lower()))
        assert ec.scan_boundaries(rows2)[1] == 1  # fallback END_RE trims


class TestAuthorPipeline:
    def test_golden_semicolon_form(self):
        # golden shape: v10_ALTAIR.R:3746
        assert ec.clean_author_list(
            "Lauren L. Prister; Shaohui Yin; Laty A. Cahoon"
        ) == "Lauren L. Prister; Shaohui Yin; Laty A. Cahoon"

    def test_comma_split_with_affiliation_digits(self):
        assert ec.clean_author_list(
            "Alice Example 1, Bob Sample 2,3, Carol Test 1"
        ) == "Alice Example; Bob Sample; Carol Test"

    def test_superscript_strip(self):
        assert ec.clean_author_list("Alice Example*; Bob† Sample§") == \
            "Alice Example; Bob Sample"

    def test_artifact_lines_dropped(self):
        assert ec.clean_author_list(
            "Here are the authors; Alice Example; The list continues; Bob Sample"
        ) == "Alice Example; Bob Sample"

    def test_empty_and_junk(self):
        assert ec.clean_author_list("") == ""
        assert ec.clean_author_list("1, 2, 3") == ""


class TestDualExtractor:
    """The reference ships TWO extraction paths and compares them on the
    same document (v8.R:3017-3033; process_document v10.R:678-743 vs
    process_document_simple v10.R:745-811)."""

    def test_simple_path_runs_all_fixtures(self):
        for d in fx.ALL_FIXTURES:
            res = ec.extract_simple_document(d["doc_id"], d["spans"])
            assert res["document_format"] == "auto_detected"  # v10.R:799
            assert res["doc_id"] == d["doc_id"]

    def test_same_doc_comparison_generic(self):
        smart = ec.extract_document(fx.GENERIC_DOC["doc_id"], fx.GENERIC_DOC["spans"])
        simple = ec.extract_simple_document(fx.GENERIC_DOC["doc_id"],
                                            fx.GENERIC_DOC["spans"])
        # both find the same title on this clean doc
        assert simple["title"] == smart["title"]
        # simple path does NOT trim end matter (v10.R:2047: slice start..n),
        # so its main text includes the references tail
        assert "Example A" in simple["main_text"]
        assert "Example A" not in smart["main_text"]

    def test_simple_no_column_detection(self):
        # two-column page: simple path reads straight down in (y, x) order,
        # interleaving the columns — the documented disagreement case
        simple = ec.extract_simple_document(fx.TWO_COL_DOC["doc_id"],
                                            fx.TWO_COL_DOC["spans"])
        texts = [s["text"] for s in simple["spans"]]
        # (y, x) order interleaves the columns row-wise: L1, R1, L2, R2
        assert texts[1].startswith("Right column first")
        # smart path keeps columns separate: L1, L2, R1, R2
        smart = ec.extract_document(fx.TWO_COL_DOC["doc_id"], fx.TWO_COL_DOC["spans"])
        assert [s["text"] for s in smart["spans"]][1].startswith("Left column second")


@pytest.mark.parametrize("doc", fx.ALL_FIXTURES, ids=lambda d: d["doc_id"])
def test_per_doc_kernels_leave_records_unchanged(doc):
    """A region list reused after one per-doc kernel reads the same in the
    next: no kernel writes into the caller's records."""
    import copy

    recs = ec.spans_to_regions(doc["spans"])
    before = copy.deepcopy(recs)
    ec.boundary_debug_records(doc["doc_id"], recs)
    ec.extract_from_records(doc["doc_id"], recs)
    ec.extract_simple_from_records(doc["doc_id"], recs)
    assert recs == before


class TestDeterminism:
    def test_twice_identical(self):
        a = ec.extract_document(fx.GENERIC_DOC["doc_id"], fx.GENERIC_DOC["spans"])
        b = ec.extract_document(fx.GENERIC_DOC["doc_id"], fx.GENERIC_DOC["spans"])
        assert a == b


def _trow(row_id, text, y=100, etype="plain text", page=1):
    return {"page": page, "x": 200, "y": y, "w": 2000, "h": 60,
            "text": text, "element_type": etype, "row_id": row_id,
            "media_ref": None, "parse_failure": 0, "offset": row_id}


class TestTitleScorerWeights:
    """Pin each reference-verbatim title weight (v10.R:1925-1942)."""

    def test_yolo_title_branch_scores_10(self):
        rows = [
            _trow(0, "A YOLO Detected Title Longer Than Thirty", y=900,
                  etype="title"),
            # y<400 & 40<n<300 branch would score 8 — must lose to the 10
            _trow(1, "A plain candidate line longer than forty chars", y=100),
        ]
        assert ec.extract_title(rows) == (rows[0]["text"], 0)

    def test_yolo_title_needs_31_chars(self):
        # 23-char YOLO title: no branch fires (y=900 kills 8/6) -> no title
        rows = [_trow(0, "Valid Title Region Here", y=900, etype="title")]
        assert ec.extract_title(rows) == ("", -1)

    def test_position_length_branch_scores_8(self):
        rows = [
            _trow(0, "A plain candidate line longer than forty chars", y=399),
            # same text below the y<400 gate: 6-branch only
            _trow(1, "A plain candidate line longer than forty chars", y=550),
        ]
        assert ec.extract_title(rows) == (rows[0]["text"], 0)

    def test_title_like_branch_scores_6(self):
        rows = [_trow(0, "Mixed Case line over thirty chars!", y=550)]
        assert ec.extract_title(rows) == (rows[0]["text"], 0)

    def test_metadata_word_penalty_5(self):
        rows = [
            # 10 - 5 (contains 'journal') = 5 < 8
            _trow(0, "A YOLO Journal Title Longer Than Thirty Chars",
                  y=900, etype="title"),
            _trow(1, "A plain candidate line longer than forty chars", y=100),
        ]
        assert ec.extract_title(rows) == (rows[1]["text"], 1)

    def test_year_at_penalty_3(self):
        rows = [
            # 8 - 3 (contains a 4-digit year) = 5 < 6
            _trow(0, "A plain candidate line from 2024 over forty ch", y=100),
            _trow(1, "Mixed Case line over thirty chars!", y=550),
        ]
        assert ec.extract_title(rows) == (rows[1]["text"], 1)

    def test_header_word_and_url_excluded(self):
        rows = [
            _trow(0, "Journal  ", y=50, etype="title"),
            _trow(1, "www.example-long-enough-to-score.org/path/deep", y=100),
        ]
        assert ec.extract_title(rows) == ("", -1)

    def test_score_tie_breaks_on_y(self):
        rows = [
            _trow(0, "Second Yolo Title Longer Than Thirty Chars", y=300,
                  etype="title"),
            _trow(1, "First Yolo Title Longer Than Thirty Charss", y=100,
                  etype="title"),
        ]
        assert ec.extract_title(rows) == (rows[1]["text"], 1)

    def test_winner_whitespace_collapsed(self):
        r"""v10.R:1952-1954: the winning title gets \s+ -> ' ' + trim
        (round-3 advice: the port skipped the final clean step)."""
        rows = [_trow(0, "  A  Title\nWith   Messy\tWhitespace Runs Here ",
                      y=100, etype="title")]
        text, rid = ec.extract_title(rows)
        assert text == "A Title With Messy Whitespace Runs Here"
        assert rid == 0


class TestAbstractScorerWeights:
    """Pin each reference-verbatim abstract weight (v10.R:1285-1300)."""

    def test_winner_whitespace_collapsed(self):
        r"""v10.R:1331: the winning abstract gets \s+ collapsed."""
        body = "Abstract  sentence one.\nIt   continues. " + "word " * 40
        rows = [_trow(0, body, y=100)]
        text, _ = ec.extract_abstract(rows)
        assert "  " not in text and "\n" not in text

    def test_equal_score_len_tie_breaks_on_y_x_not_row_id(self):
        """v10.R:1283: ties at equal (score, nchar) resolve by the prior
        arrange(y, x) order, which can DIFFER from reading-order row_id in
        banded/multi-column layouts (round-3 advice)."""
        a = "Sentence one here. And sentence two follows." + " pad" * 30
        b = a.replace("one", "uno")           # same length, same score (6)
        rows = [
            _trow(0, a, y=500),               # reading order first...
            _trow(1, b, y=200),               # ...but visually higher
        ]
        text, rid = ec.extract_abstract(rows)
        assert (text, rid) == (b, 1)

    def test_marker_branch_beats_longer_prose(self):
        long_prose = "Prose sentence one. And two. " + "x" * 300
        rows = [
            _trow(0, long_prose, y=100),
            _trow(1, "Abstract short but marked body here", y=200),
        ]
        text, rid = ec.extract_abstract(rows)
        assert rid == 1
        assert text == "short but marked body here"  # header stripped

    def test_summary_marker_and_uppercase_strip(self):
        rows = [_trow(0, "SUMMARY: The finding sentence here padded " +
                      "y" * 80, y=100)]
        text, rid = ec.extract_abstract(rows)
        assert rid == 0
        assert text.startswith("The finding sentence here")

    def test_content_branch_beats_dot_branch(self):
        dots = ("A sentence. " * 16).strip()          # >150 chars, many dots
        content = "antibacterial " * 16 + "no dots here"   # >200, 8-branch
        rows = [_trow(0, dots, y=100), _trow(1, content, y=200)]
        assert ec.extract_abstract(rows)[1] == 1

    def test_dot_branches_and_length_tiebreak(self):
        six = ("Sent one. Sent two. " * 9).strip()     # >150, >=2 dots -> 6
        four = "One dot only " + "z" * 100 + "."       # >100, 1 dot -> 4
        rows = [_trow(0, four, y=100), _trow(1, six, y=200)]
        assert ec.extract_abstract(rows)[1] == 1
        # same score -> longer wins
        six_b = ("Sent uno. Sent dos. " * 12).strip()
        rows = [_trow(0, six, y=100), _trow(1, six_b, y=200)]
        assert ec.extract_abstract(rows)[1] == 1

    def test_fallback_largest_block_over_50(self):
        rows = [
            _trow(0, "short line", y=100),
            _trow(1, "a" * 60, y=200),
            _trow(2, "b" * 80, y=300),
        ]
        assert ec.extract_abstract(rows) == ("b" * 80, 2)

    def test_nothing_qualifies(self):
        rows = [_trow(0, "tiny", y=100)]
        assert ec.extract_abstract(rows) == ("", -1)
