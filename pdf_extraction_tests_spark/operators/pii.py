"""PII detection and redaction — regex scrubbing on the scan side.

Every released training corpus (C4, Dolma, RefinedWeb) scrubs personally
identifiable information before anything else touches the text.  The
scrubber must be (a) pure scan-side column work — at 100 TB a shuffle or a
Python hop just to redact is disqualifying — and (b) bit-identical across
engines so the redaction is auditable (the DuckDB oracle replays counts
AND the rewritten text; on PII-free corpora the oracle pins the
false-positive behavior, which is the half of a scrubber that silently
rots).

Patterns are deliberately RE2-compatible (no lookarounds, ASCII ``\\b``)
so Spark's Java regex and DuckDB's RE2 agree: email, IPv4, SSN (3-2-4),
US-style phone (3-3-4).  SSN and phone shapes are disjoint by group
widths.  Counts are measured on the ORIGINAL text; redaction applies the
same patterns in a fixed order (email first: an address can contain
digit runs that the later numeric patterns must not see pre-redacted).

The reference never handles PII (single-publisher scientific PDFs); this
is a training-data-pipeline requirement, same tier as q30's quality score.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# pattern order matters for redaction (email before the numeric shapes)
PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def _count(text: Column, pattern: str) -> Column:
    # size(regexp_extract_all) rather than regexp_count: DuckDB 1.0 has no
    # regexp_count, and the extract-all form guarantees both engines count
    # the same non-overlapping match set.
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def redacted(text_col: str = "text") -> Column:
    """Column ``text_col`` with every PATTERNS match replaced, in order."""
    clean = F.col(text_col)
    for _, pat, repl in PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return clean


def scrub_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document PII counts plus the redacted text.

    Returns (id_col, n_email, n_ipv4, n_ssn, n_phone, n_pii, clean_text).
    Zero shuffles, zero Python — one whole-stage-codegen'd projection.
    """
    text = F.col(text_col)
    counts = {name: _count(text, pat) for name, pat, _ in PATTERNS}
    total = None
    for name in counts:
        total = counts[name] if total is None else total + counts[name]
    return docs.select(
        F.col(id_col),
        *[
            counts[name].cast("bigint").alias(f"n_{name}")
            for name, _, _ in PATTERNS
        ],
        total.cast("bigint").alias("n_pii"),
        redacted(text_col).alias("clean_text"),
    )


def scrub_pii_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`scrub_pii` — identical patterns, identical
    replacement order (RE2 'g' flag for replace-all parity with Spark)."""
    count_cols = ",\n           ".join(
        f"CAST(len(regexp_extract_all({text_col}, '{pat}')) AS BIGINT)"
        f" AS n_{name}"
        for name, pat, _ in PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all({text_col}, '{pat}'))"
        for _, pat, _ in PATTERNS
    )
    clean = text_col
    for _, pat, repl in PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT {id_col},
           {count_cols},
           CAST({total} AS BIGINT) AS n_pii,
           {clean} AS clean_text
    FROM {table}
    """
