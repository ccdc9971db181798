"""Correctness oracles: the pandas kernel for spans, DuckDB for queries."""

from __future__ import annotations

import math
import os

import pandas as pd


def span_key(spans) -> tuple:
    """The compared span sequence: ``(kind, text, media_ref, order)``."""
    if spans is None:
        return ()
    return tuple((s["kind"], s["text"], s["media_ref"], int(s["order"]))
                 for s in spans)


def kernel_span_keys(corpus: pd.DataFrame) -> dict[str, tuple]:
    from pdf_extraction_tests_spark.extract_core import extract_docs_frame

    out = extract_docs_frame(corpus)
    return dict(zip(out["doc_id"], out["spans"].map(span_key)))


def compare_spans(got: pd.DataFrame, want: dict[str, tuple]) -> tuple[int, int]:
    """(docs matched, docs checked): every expected doc must appear once
    with an equal span sequence; duplicates and extras count as misses."""
    keys = list(got["doc_id"])
    seen = {}
    for doc_id, spans in zip(keys, got["spans"]):
        seen.setdefault(doc_id, []).append(span_key(spans))
    matched = sum(1 for d, k in want.items() if seen.get(d) == [k])
    checked = max(len(want), len(set(keys)))
    return matched, checked


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive, column-sorted, 6-dp canonical rows: the same
    normalisation as the repository's query-oracle tests."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append("NaN" if math.isnan(v) else round(v, 6))
            elif v is None or v is pd.NaT:
                row.append(None)
            else:
                row.append(v if isinstance(v, (int, bool)) else str(v))
        rows.append(tuple(row))
    return sorted(rows, key=repr)


def duckdb_rows(table_dir: str, sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        for fn in sorted(os.listdir(table_dir)):
            if fn.endswith(".parquet"):
                path = os.path.join(table_dir, fn)
                con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return canon(con.execute(sql).df())
    finally:
        con.close()
