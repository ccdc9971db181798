"""Seeded input generation with an on-disk cache.

Every input is a pure function of the seed, the sizes and the generator code:

* ``tables/documents.parquet`` -- the query input, a seeded table with
  the size, schema and value distribution of the sf0.1 test data's
  ``documents.parquet`` (see ``documents_frame``);
* ``corpus/`` -- interleaved documents built from those rows with
  ``corpus.make_document(doc_id, text, seed)``, as bench.py builds its
  corpus from sf0.1, at the natural oversize rate (about one multi-MB doc
  per 3000-4500 ids);
* ``skewed/`` -- a corpus of similar bytes where most bytes sit in a few
  oversized docs (ids with ``doc_id % 2999 == 3`` in a region family,
  which make_document gives a 650-region multi-MB tail).

The program under test only ever receives the written parquet.  Cache
entries are keyed by seed, sizes and a hash of ``corpus.py`` and this
module (the content changes exactly when those files do), so a stale
corpus cannot be served after an edit to either generator.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The documents model, measured on the sf0.1 test data's documents.parquet
# (5000 rows, ids 0..4999):
# * text: 10-100 words per row (mean 54.1, roughly uniform), each word drawn
#   uniformly from these 30 (8829-9182 occurrences each);
# * 250 rows (5%) are another row's text plus a trailing " dup", and 8
#   pairs of rows share one text exactly;
# * lang shares en .41, zh .15, es .15, fr .15, de .14; source src{id % 20};
#   n_chars = len(text).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_FRACTION = 0.05
EXACT_DUP_FRACTION = 8 / 5000
ROW_GROUP_DOCS = 250
# corpus.make_document appends a 650-region multi-MB tail to region-family
# docs with doc_id % OVERSIZE_MOD == OVERSIZE_REM
OVERSIZE_MOD, OVERSIZE_REM = 2999, 3
REGION_FAMILIES = frozenset({
    "generic_single", "generic_two_col", "mdpi_boiler", "nature_banded",
    "jac_structured", "elsevier_banded",
})


def spec_ids(spec: dict) -> tuple[np.ndarray, np.ndarray]:
    """(bulk ids, skewed ids) a spec generates."""
    return bulk_ids(spec["docs"]), skewed_ids(spec["skewed_small"], spec["skewed_big"])


def generator_hash(repo_root: str) -> str:
    """Hash of the code that generates the inputs: the package's corpus.py
    and this module."""
    h = hashlib.sha256()
    for path in (os.path.join(repo_root, "pdf_extraction_tests_spark", "corpus.py"),
                 os.path.abspath(__file__)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def documents_frame(seed: int, n: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars) with ids 0..n-1,
    following the sf0.1 model above."""
    rng = np.random.default_rng([seed, 1])
    # 10..100 words per row in a seeded order; the word total stays the same
    # for every seed, so throughput in MB/s barely moves with the seed
    lens = rng.permutation(np.linspace(10, 100, n).round().astype(int))
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # near and exact duplicates each copy a distinct row that stays unchanged
    order = rng.permutation(n)
    n_near, n_exact = round(n * NEAR_DUP_FRACTION), round(n * EXACT_DUP_FRACTION)
    copies = order[:n_near + n_exact]
    donors = rng.choice(order[n_near + n_exact:], size=len(copies), replace=False)
    for i, (row, donor) in enumerate(zip(copies, donors)):
        texts[row] = texts[donor] + (" dup" if i < n_near else "")
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def is_oversized_id(doc_id: int) -> bool:
    from pdf_extraction_tests_spark.corpus import FORMAT_FAMILIES

    family = FORMAT_FAMILIES[doc_id % len(FORMAT_FAMILIES)]
    return doc_id % OVERSIZE_MOD == OVERSIZE_REM and family in REGION_FAMILIES


def bulk_ids(n_docs: int) -> np.ndarray:
    """0..n-1: the natural oversize rate (~1 doc per 3000)."""
    return np.arange(n_docs, dtype=np.int64)


def skewed_ids(n_small: int, n_big: int) -> np.ndarray:
    """``n_small`` ordinary ids followed by ``n_big`` ids that
    make_document turns into multi-MB region documents."""
    small = [i for i in range(n_small + n_small // 1000 + 2)
             if i % OVERSIZE_MOD != OVERSIZE_REM][:n_small]
    big, k = [], 0
    while len(big) < n_big:
        cand = OVERSIZE_REM + OVERSIZE_MOD * (k + 1)
        if is_oversized_id(cand):
            big.append(cand)
        k += 1
    return np.array(small + big, dtype=np.int64)


def corpus_frame(documents: pd.DataFrame, ids: np.ndarray, seed: int) -> pd.DataFrame:
    """make_document over ``ids``, each taking the text of documents row
    ``id % len(documents)``."""
    from pdf_extraction_tests_spark.corpus import corpus_pandas

    texts = documents["text"].to_numpy()[ids % len(documents)]
    return corpus_pandas(pd.DataFrame({"doc_id": ids, "text": texts}), seed)


def _span_type() -> pa.DataType:
    return pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))


def _write_corpus(corpus: pd.DataFrame, path: str, files: int) -> None:
    """Write the corpus as ``files`` parquet files of ROW_GROUP_DOCS-row
    groups, so scan splits of a few hundred KB each carry data."""
    os.makedirs(path)
    table = pa.table({
        "doc_id": pa.array(corpus["doc_id"], pa.string()),
        "spans": pa.array(corpus["spans"], _span_type()),
    })
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"),
                           row_group_size=ROW_GROUP_DOCS)


def span_text_bytes(corpus: pd.DataFrame) -> int:
    return int(sum(len((s["text"] or "").encode()) for spans in corpus["spans"]
                   for s in spans))


def build_inputs(spec: dict, seed: int, out_dir: str) -> dict:
    """Generate every table ``spec`` names into ``out_dir``; return stats.

    ``tables/`` holds the ``tables_docs``-row documents table the queries
    read; ``corpus/`` is built over ids 0..docs-1 (the natural oversize
    rate) and ``skewed/`` over ``skewed_small`` ordinary plus
    ``skewed_big`` multi-MB doc ids, both with texts from its rows."""
    tables = os.path.join(out_dir, "tables")
    os.makedirs(tables)
    docs = documents_frame(seed, spec["tables_docs"])
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(tables, "documents.parquet"))
    stats = {"documents": len(docs),
             "documents_text_bytes": int(docs["text"].str.len().sum())}
    for name, ids, files in zip(("corpus", "skewed"), spec_ids(spec),
                                (spec["corpus_files"], 2)):
        corpus = corpus_frame(docs, ids, seed)
        _write_corpus(corpus, os.path.join(out_dir, name), files)
        stats[f"{name}_docs"] = len(corpus)
        stats[f"{name}_input_bytes"] = span_text_bytes(corpus)
        stats[f"{name}_oversize_docs"] = int(sum(is_oversized_id(int(i)) for i in ids))
    return stats


def ensure_inputs(cache_root: str, repo_root: str, spec: dict, seed: int) -> tuple[str, dict, bool]:
    """Return (dir, stats, cache_hit).  Builds into a temporary directory
    and renames it into place, so an interrupted build is never served."""
    key = json.dumps({"spec": spec, "seed": seed, "code": generator_hash(repo_root)},
                     sort_keys=True)
    name = hashlib.sha256(key.encode()).hexdigest()[:20]
    path = os.path.join(cache_root, name)
    stats_path = os.path.join(path, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            return path, json.load(f), True
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    stats = build_inputs(spec, seed, tmp)
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, stats, False
