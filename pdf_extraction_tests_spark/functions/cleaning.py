"""Author-line canonicalisation as a native Spark column expression.

:func:`authors_canonical` mirrors the kernel's ``clean_author_list``
(Document_Processor_DocLayout_YOLO_Code_v10.R:3552-3575) for declarative
plans where the per-document kernel is not involved: whole-stage
codegen'd, zero Python.  q41 runs it, checked against its DuckDB twin
:func:`authors_canonical_sql`.  The text-cleaning chains of SURVEY §2.8
(v10.R:3431-3525) have one implementation, ``extract_core.clean_text``,
inside the kernel (one regex dialect, SURVEY §7 risk note).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


_AUTHOR_MARKS = "[°*†‡§¶#¹²³⁴⁵⁶⁷⁸⁹⁰'\"?]"


def authors_canonical(col: Column) -> Column:
    """Raw comma-separated author line -> canonical ``"A; B; C"`` form as a
    pure column expression (mirror of extract_core.clean_author_list,
    v10.R:3552-3575 split + :769-770 superscript/affiliation strip):
    split on commas, strip superscript marks and affiliation digits per
    part, trim, drop empties, rejoin with '; '."""
    parts = F.split(col, ",")
    cleaned = F.transform(
        parts,
        lambda p: F.trim(
            F.regexp_replace(
                F.regexp_replace(p, _AUTHOR_MARKS, ""),
                r"\s*\b\d+\b", "",
            )
        ),
    )
    return F.array_join(F.filter(cleaned, lambda p: p != ""), "; ")


def authors_canonical_sql(raw_expr: str) -> str:
    """DuckDB equivalent of :func:`authors_canonical` over ``raw_expr``."""
    marks = _AUTHOR_MARKS.replace("'", "''")
    return (
        "array_to_string(list_filter(list_transform("
        f"string_split({raw_expr}, ','), "
        f"p -> trim(regexp_replace(regexp_replace(p, '{marks}', '', 'g'), "
        r"'\s*\b\d+\b', '', 'g'))), p -> p != ''), '; ')"
    )
