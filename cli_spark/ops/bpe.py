"""Byte-level BPE (byte-pair encoding) tokenizer — train, encode,
count — the subword-token layer the packing and vocabulary
operators (`ops/curation.py`) need: real training pipelines pack
sequences by *subword* counts, not whitespace counts.

From-scratch implementation of the public BPE algorithm (Sennrich et
al. 2016; the byte-level variant popularized by GPT-2's public
tokenizer): tokens are byte strings, words are pre-tokenized on single
spaces, and a merge table of (left, right) pairs is learned greedily
by pair frequency. No external tokenizer libraries.

Scale shape:
- **Training** (:func:`bpe_train_counts`) is a driver-side loop over an
  aggregated word-count table — the pair-count loop is over the word
  *vocabulary*, not the corpus, as in public BPE trainers. The seed
  merge table (q36) is learned at import time from a literal table.
- **Counting** (:func:`bpe_count_col`) is a zero-shuffle Arrow-batched
  kernel: the merge table is tiny (``n_merges`` rows) and ships in the
  UDF closure; a per-batch word→tokens cache makes the cost
  proportional to *distinct* words per batch, not total tokens. At
  100 TB the encode stage is embarrassingly parallel (row-local),
  exactly like the reference's per-record transforms.

Correctness anchors:
- encode→detokenize identity on arbitrary unicode text (pytest).
- Applying the merges ONCE EACH in rank order (each pass global,
  left-to-right, non-overlapping) is equivalent to the classic
  "repeatedly merge the lowest-rank adjacent pair" encoder: a merge's
  output token is new at its rank, so a pair of rank r can never
  reappear after pass r. The rank-order form is what the DuckDB oracle
  replays with one `replace()` per merge rank in a recursive CTE
  (cli_spark/queries.py q36) — differential-tested against the kernel
  in tests/test_curation.py.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable

import pandas as pd
from pyspark.sql import functions as F

# Fixed seed corpus for the battery row (q36): the synthetic documents
# vocabulary with descending integer weights — a deterministic literal,
# so the learned merge table is known at import time and can be embedded
# into the DuckDB oracle as literal VALUES.
SEED_WORDS: tuple[str, ...] = (
    "join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window",
    "spark", "a", "group", "part", "big", "sort", "query", "fast",
    "the", "dup",
)
SEED_N_MERGES = 48


def _merge_tokens(toks: tuple[bytes, ...], a: bytes, b: bytes) -> tuple[bytes, ...]:
    """One global merge pass: left-to-right, non-overlapping (the same
    semantics as SQL replace(), verified in tests)."""
    out: list[bytes] = []
    i, n = 0, len(toks)
    ab = a + b
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def bpe_train_counts(
    word_counts: dict[str, int] | Counter, n_merges: int
) -> list[tuple[bytes, bytes]]:
    """Classic BPE training loop over an aggregated word→count table.
    Deterministic: ties on pair frequency break to the lexicographically
    smallest (left, right) byte pair. Pure Python — the caller owns the
    (single-shuffle) aggregation that produced ``word_counts``."""
    vocab: dict[tuple[bytes, ...], int] = {}
    for w, c in word_counts.items():
        toks = tuple(bytes([b]) for b in w.encode("utf-8"))
        if toks:
            vocab[toks] = vocab.get(toks, 0) + int(c)
    merges: list[tuple[bytes, bytes]] = []
    for _ in range(n_merges):
        pair_counts: Counter = Counter()
        for toks, c in vocab.items():
            for p in zip(toks, toks[1:]):
                pair_counts[p] += c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {
            _merge_tokens(toks, *best): c for toks, c in vocab.items()
        }
    return merges


def encode_word(word: str, ranks: dict[tuple[bytes, bytes], int]) -> list[bytes]:
    """Encode one word: repeatedly merge the lowest-rank adjacent pair
    (all occurrences, left-to-right) until none applies."""
    toks: tuple[bytes, ...] = tuple(bytes([b]) for b in word.encode("utf-8"))
    while len(toks) > 1:
        best = None
        for p in zip(toks, toks[1:]):
            r = ranks.get(p)
            if r is not None and (best is None or r < best[0]):
                best = (r, p)
        if best is None:
            break
        toks = _merge_tokens(toks, *best[1])
    return list(toks)


def detokenize(tokens: Iterable[bytes]) -> str:
    """Inverse of :func:`encode_word`: tokens are byte slices of the
    original UTF-8, so concatenation is exact. Full-text identity:
    ``' '.join(detokenize(encode_word(w)) for w in text.split(' '))``."""
    return b"".join(tokens).decode("utf-8")


def _ranks(merges: list[tuple[bytes, bytes]]) -> dict[tuple[bytes, bytes], int]:
    return {p: i for i, p in enumerate(merges)}


def bpe_count_col(text_col, merges: list[tuple[bytes, bytes]]):
    """The counting kernel as a Column (``text_col``: name or Column) —
    composable into an existing zero-shuffle projection (q36 adds it to
    the text_stats pass)."""
    from pyspark.sql.functions import pandas_udf

    ranks = _ranks(merges)

    @pandas_udf("long")
    def _count(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def ntok(text: str) -> int:
            if text is None:
                return 0
            total = 0
            for w in text.split(" "):
                n = cache.get(w)
                if n is None:
                    n = len(encode_word(w, ranks))
                    cache[w] = n
                total += n
            return total

        return texts.map(ntok)

    return _count(F.col(text_col) if isinstance(text_col, str) else text_col)


def merges_to_sql_values(merges: list[tuple[bytes, bytes]]) -> str:
    """Render the merge table as SQL literals for the DuckDB oracle's
    recursive-CTE replay: (rank, '|XX||YY|' pattern, '|XXYY|'
    replacement) over a per-BYTE uppercase-hex encoding of each word.

    Why hex, and why double-pipe boundaries — two traps of the earlier
    raw-character replay, both found by review:

    - SQL ``replace`` is left-to-right NON-overlapping. With tokens
      delimited by a single '|', the pattern '|a|b|' CONSUMES the
      trailing pipe that is also the next occurrence's leading pipe, so
      'abab' merged only its first 'ab'. With boundaries spelled '||'
      and each token an atomic run of hex pairs, the pattern
      '|XX||YY|' takes one pipe from each boundary — adjacent
      occurrences are disjoint strings and one pass merges both,
      matching the kernel's per-rank global pass (overlapping
      same-pair runs like 'aaa' also agree: both scan left-to-right).
    - Document text may contain '|' or '¶' or any byte; hex([0-9A-F])
      never collides with the delimiters, and per-byte hex equals the
      kernel's UTF-8 byte tokenization exactly (e.g. 'é' = 2 byte
      tokens, not 1 character token)."""
    rows = []
    for i, (a, b) in enumerate(merges):
        l, r = a.hex().upper(), b.hex().upper()
        rows.append(f"({i}, '|{l}||{r}|', '|{l}{r}|')")
    return ", ".join(rows)


SEED_MERGES: list[tuple[bytes, bytes]] = bpe_train_counts(
    {w: len(SEED_WORDS) - i for i, w in enumerate(SEED_WORDS)}, SEED_N_MERGES
)
