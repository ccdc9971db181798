"""Deterministic byte-pair-encoding (BPE) subword tokenizer.

The training-data operators (token counting q31, token-budget head q45,
sequence packing q49) planned batches with whitespace tokens — the weakest
link in the training-data story, since real pipelines budget in SUBWORD
tokens.  This module supplies a real, dependency-free BPE:

* :func:`learn_merges` — classic BPE training (Sennrich et al. 2016):
  count adjacent symbol pairs over a word-frequency table, merge the most
  frequent pair, repeat.  Deterministic tie-break (count desc, pair asc).
* :data:`DEFAULT_MERGES` — a fixed 96-merge table learned at import from
  a frozen English seed corpus: stable across runs/machines by
  construction (pure counts, no RNG), so token counts are reproducible
  cluster-wide.
* :func:`bpe_token_count` / :func:`bpe_pieces` — greedy lowest-rank merge
  application per word (the standard BPE apply loop), LRU-cached per
  distinct word.
* :func:`token_count_col` — the Spark integration point: a column
  expression (whitespace mode, codegen'd, DuckDB-oracle-able) or an
  Arrow-batched ``pandas_udf`` (bpe mode, pytest-pinned against the local
  implementation — never a row-at-a-time Python UDF).

Pre-tokenization matches q31's subword-piece regex (runs of alphanumerics,
single other non-space chars), so ``bpe`` counts are comparable to the
``subword_pieces`` column: BPE only further splits the alphanumeric runs.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, functions as F

_WORD_RE = re.compile(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]")

# frozen seed corpus for the default merge table — ordinary English prose
# chosen for stable, unremarkable pair statistics.  Editing this string
# CHANGES TOKEN COUNTS everywhere; treat it as part of the vocabulary.
_SEED_CORPUS = """
the quick brown fox jumps over the lazy dog while the rain in spain stays
mainly in the plain and every good boy deserves fudge because all work and
no play makes jack a dull boy the question is whether this sentence with
its common words the of and to in that is was he for it with as his on be
at by had not are but from or have an they which one you were her all she
there would their we him been has when who will more if out so said what
up its about into them can only other new some could time these two may
then do first any my now such like our over man me even most made after
also did many before must through back years where much your way well
down should because each just those people too how little state good very
make world still own see men work long get here between both life being
under never day same another know while last might us great old year off
come since against go came right used take three states
"""


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict:
    counts: dict[tuple[str, str], int] = {}
    for syms, n in vocab.items():
        for i in range(len(syms) - 1):
            pair = (syms[i], syms[i + 1])
            counts[pair] = counts.get(pair, 0) + n
    return counts


def _merge_vocab(vocab: dict, pair: tuple[str, str]) -> dict:
    a, b = pair
    ab = a + b
    out: dict[tuple[str, ...], int] = {}
    for syms, n in vocab.items():
        merged = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                merged.append(ab)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        out[tuple(merged)] = out.get(tuple(merged), 0) + n
    return out


def learn_merges(corpus: str, n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE training over a corpus string.  Fully deterministic:
    ties broken by (count desc, pair lexicographic asc)."""
    freqs: dict[str, int] = {}
    for w in _WORD_RE.findall(corpus.lower()):
        freqs[w] = freqs.get(w, 0) + 1
    return _learn_from_freqs(freqs, n_merges)


def _learn_from_freqs_naive(freqs: dict[str, int],
                            n_merges: int) -> list[tuple[str, str]]:
    """Reference merge loop: full pair recount + full vocab rewrite per
    merge.  O(n_merges * corpus) — kept as the differential oracle for
    the indexed trainer below (test_bpe pins equality)."""
    vocab = {tuple(w): n for w, n in freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = _merge_vocab(vocab, best)
    return merges


def _learn_from_freqs(freqs: dict[str, int],
                      n_merges: int) -> list[tuple[str, str]]:
    """The merge loop proper, over an aggregated word-frequency table —
    shared by the local and the Spark trainer (training cost depends on
    DISTINCT words, never corpus size).

    Indexed implementation: pair counts update incrementally (only the
    words containing the merged pair are touched) and the best pair
    comes from a lazy max-heap keyed (count desc, pair asc) — the same
    selection order as the naive recount loop, so the output merge
    tables are identical (pinned).  This is what makes 4k-merge
    corpus-learned tables practical: the naive loop is quadratic-ish
    and tops out around a few hundred merges."""
    import heapq

    words: list[list[str]] = []
    wfreq: list[int] = []
    for w, n in freqs.items():
        words.append(list(w))
        wfreq.append(n)
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        n = wfreq[wi]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + n
            pair_words.setdefault(p, set()).add(wi)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        if pair_counts.get(best, 0) != -negc:
            continue                            # stale heap entry
        merges.append(best)
        a, b = best
        ab = a + b
        touched: set[tuple[str, str]] = set()
        for wi in pair_words.pop(best, ()):     # only affected words
            syms = words[wi]
            n = wfreq[wi]
            for i in range(len(syms) - 1):      # retract old pairs
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= n
                touched.add(p)
            merged: list[str] = []
            i = 0
            while i < len(syms):                # left-to-right, like
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):  # _merge_vocab
                    merged.append(ab)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            words[wi] = merged
            for i in range(len(merged) - 1):    # add new pairs
                p = (merged[i], merged[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + n
                pair_words.setdefault(p, set()).add(wi)
                touched.add(p)
        for p in touched:
            c = pair_counts.get(p, 0)
            if c <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p))
    return merges


def learn_merges_spark(docs, n_merges: int, text_col: str = "text",
                       sample: int = 4096) -> list[tuple[str, str]]:
    """Learn a BPE merge table FROM THE CORPUS with Spark doing the heavy
    lifting: one distributed word-frequency aggregation, then the classic
    merge loop over the (tiny, bounded) frequency table on the driver —
    the shape production tokenizer training uses (word counts are
    aggregated first precisely because the merge loop's cost depends on
    distinct words, not corpus size).

    ``sample`` keeps the most frequent distinct words (deterministic
    tie-break on the word), bounding driver memory at any corpus scale;
    rare-word tails cannot move the early merges.

    Pinned in tests: equals :func:`_learn_from_freqs` over the same
    frequency table, and on a small corpus equals plain
    :func:`learn_merges` over the concatenated text.
    """
    from pyspark.sql import functions as F

    rows = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(
            F.expr(rf"regexp_extract_all(lower({text_col}), "
                   rf"'[a-z0-9]+|[^a-z0-9\\s]', 0)")).alias("w"))
        .groupBy("w").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(sample)
        .collect()  # bounded-sample ok: <= `sample` rows by limit()
    )
    return _learn_from_freqs({r.w: int(r.n) for r in rows}, n_merges)


DEFAULT_MERGES: list[tuple[str, str]] = learn_merges(_SEED_CORPUS, 96)


class BpeTokenizer:
    """A BPE apply engine over an arbitrary merge table — the seed-table
    default and corpus-learned snapshot tables go through the same code.
    Instances are cheap to ship into an Arrow UDF closure (the merge
    list is a few thousand small tuples)."""

    def __init__(self, merges: list[tuple[str, str]]):
        self.merges = [tuple(p) for p in merges]
        self._rank = {p: i for i, p in enumerate(self.merges)}
        self._cache: dict[str, tuple[str, ...]] = {}

    def pieces(self, word: str) -> tuple[str, ...]:
        """Greedy BPE apply: repeatedly merge the LOWEST-RANK adjacent
        pair (the standard apply loop — rank order, not left-to-right
        order).  Per-word cache amortizes repeated vocabulary."""
        hit = self._cache.get(word)
        if hit is not None:
            return hit
        rank = self._rank
        syms = list(word)
        while len(syms) > 1:
            best_rank, best_i = None, -1
            for i in range(len(syms) - 1):
                r = rank.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        out = tuple(syms)
        if len(self._cache) < 65536:
            self._cache[word] = out
        return out

    def token_count(self, text: str | None) -> int:
        if text is None:
            return 0
        pieces = self.pieces
        return sum(len(pieces(w)) for w in _WORD_RE.findall(text.lower()))

    def tokenize(self, text: str) -> list[str]:
        out: list[str] = []
        for w in _WORD_RE.findall(text.lower()):
            out.extend(self.pieces(w))
        return out


_DEFAULT_TOKENIZER = BpeTokenizer(DEFAULT_MERGES)


@lru_cache(maxsize=65536)
def bpe_pieces(word: str) -> tuple[str, ...]:
    """DEFAULT_MERGES apply (back-compat module-level surface)."""
    return _DEFAULT_TOKENIZER.pieces(word)


def bpe_token_count(text: str | None) -> int:
    """Subword token count of ``text`` under DEFAULT_MERGES (lowercased
    for merge lookup; counts are case-insensitive by construction)."""
    return _DEFAULT_TOKENIZER.token_count(text)


def bpe_tokenize(text: str) -> list[str]:
    """The pieces themselves (debugging / vocabulary inspection)."""
    return _DEFAULT_TOKENIZER.tokenize(text)


# --- merge-table persistence (snapshot artifact) ----------------------------


def save_merge_table(spark, merges: list[tuple[str, str]],
                     table_dir: str) -> int:
    """Persist a learned merge table as a snapshot artifact
    (rank, left, right) — the 'train once, load everywhere' shape: the
    expensive corpus aggregation runs one time and every later job reads
    the frozen table, so token counts stay reproducible cluster-wide."""
    from ..snapshots import commit_snapshot

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string")
    return commit_snapshot(df, table_dir, mode="overwrite")


def load_merge_table(spark, table_dir: str) -> list[tuple[str, str]]:
    """Load a merge table persisted by :func:`save_merge_table`."""
    from ..snapshots import read_snapshot

    df = read_snapshot(spark, table_dir)
    if df is None:
        raise ValueError(f"no merge table snapshot at {table_dir}")
    rows = df.collect()  # bounded-sample ok: merge tables are a few k rows
    return [(r.left, r.right) for r in sorted(rows, key=lambda r: r.rank)]


def train_merge_table(spark, docs, table_dir: str, n_merges: int = 4096,
                      text_col: str = "text",
                      sample: int = 4096) -> list[tuple[str, str]]:
    """learn_merges_spark + save_merge_table in one call (the once-per-
    corpus training job)."""
    merges = learn_merges_spark(docs, n_merges, text_col, sample)
    save_merge_table(spark, merges, table_dir)
    return merges


def token_count_col(text_col: str, tokenizer: str = "whitespace",
                    merges: list[tuple[str, str]] | None = None) -> Column:
    """Token-count column under the chosen tokenizer.

    ``whitespace``: codegen'd split/size — exactly the q45/q49 legacy
    semantics and DuckDB-oracle-able.  ``bpe``: Arrow-batched pandas_udf
    (per-word cache amortizes repeated vocabulary across a batch; pytest
    pins Spark == local); ``merges`` selects the table — None keeps the
    frozen seed default, a corpus-learned table from
    :func:`load_merge_table` makes the counts corpus-calibrated.  At
    100 TB the bpe path stays scan-side (no shuffle; one Python worker
    per core) — the downstream prefix-sum machinery is
    tokenizer-agnostic, and the merge list rides the UDF closure (a few
    thousand tuples, broadcast once per executor).
    """
    if tokenizer == "whitespace":
        # NULL text has no count, as DuckDB's len(NULL); bare size() gives
        # -1 for it when ANSI is off (spark.sql.legacy.sizeOfNull)
        text = F.col(text_col)
        return F.when(text.isNotNull(),
                      F.size(F.split(F.trim(text), r"\s+"))).cast("long")
    if tokenizer != "bpe":
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    from pyspark.sql import SparkSession

    from ..shipping import pandas_column

    tok = _DEFAULT_TOKENIZER if merges is None else BpeTokenizer(merges)

    def _count(texts: pd.Series) -> pd.Series:
        return texts.map(tok.token_count).astype("int64")

    return pandas_column(SparkSession.active(), _count, "long")(
        F.col(text_col))
