"""Tokenizer-faithful token counting: a frozen seeded BPE vocabulary.

Packing budgets at 100 TB are set in *tokenizer* tokens, not whitespace
words — a corpus packed on whitespace counts over/under-fills every 2048-
token sequence once a real tokenizer splits rare words into pieces.  This
module supplies that tier without shipping a third-party tokenizer:

* **Training** (`train_bpe_pieces`) is classic byte-pair encoding over a
  word-frequency table: repeatedly merge the most frequent adjacent symbol
  pair (ties broken lexicographically, so training is fully deterministic).
  The artifact is the resulting *piece inventory* (single characters +
  merge products), frozen from the seeded clean corpus like every other
  artifact (`artifacts.get_bpe_pieces`).  `train_bpe_distributed` is the
  corpus-scale form: ONE distributed word count cut to a bounded
  top-`max_words` before the driver sees anything, then the identical
  merge loop — BPE only ever needs the frequency table, never the corpus.
* **Inference** (`bpe_token_count`) is greedy longest-match-first over the
  piece inventory — WordPiece-style, the standard deterministic inference
  for a fixed subword vocab (BERT does exactly this).  Greedy matching is
  a pure function of (word, piece set); DuckDB can replay it with a
  recursive CTE over an embedded VALUES piece table, which is what lets
  the BPE-budget packing contract query be fully oracled.
* Unknown characters consume one piece each (never fails, never drops
  text), so any input tokenizes.

Scale shape: the piece inventory is tiny (hundreds of strings) and rides
in the UDF closure; counting is one Arrow pass with a per-batch word→count
cache, so the per-doc cost is O(new distinct words), exactly how a real
tokenizer's trie behaves.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WS_CHARS = " \t\n\r\f\x0b"


def _words(text: str) -> list[str]:
    import re

    return [w for w in re.split(r"[ \t\n\r\f\x0b]+", text.lower()) if w]


def train_bpe_pieces(texts: list[str], n_merges: int = 200) -> list[str]:
    """BPE training → the piece inventory, deterministically.

    Returns single characters + every merge product, sorted longest-first
    (the order greedy matching probes them in)."""
    wf: Counter = Counter()
    for t in texts:
        wf.update(_words(t))
    return _merge_loop(wf, n_merges)


def _merge_loop(wf: dict, n_merges: int) -> list[str]:
    """The BPE merge loop over a word-frequency table — deterministic
    (ties broken lexicographically) and independent of dict order, so the
    local and distributed trainers share it bit-for-bit."""
    seqs = {w: list(w) for w in wf}
    pieces = {c for w in wf for c in w}
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, f in wf.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        if not pairs:
            break
        top = max(pairs.values())
        a, b = min(p for p, c in pairs.items() if c == top)
        merged = a + b
        pieces.add(merged)
        for w, s in seqs.items():
            i, out = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return sorted(pieces, key=lambda p: (-len(p), p))


def train_bpe_distributed(
    docs,
    n_merges: int = 200,
    max_words: int = 100_000,
    min_count: int = 1,
) -> list[str]:
    """Distributed BPE training over ``docs.text``: the 100-TB form of
    :func:`train_bpe_pieces`.

    BPE trains over the word-FREQUENCY table, not the corpus — so the only
    distributed work is one word count (map-side-combined groupBy), cut to
    a BOUNDED top-``max_words`` by (count desc, word asc) via TakeOrdered
    before anything reaches the driver (the same bounded-collect discipline
    as the LM trainers; a crawl's distinct-word table is 10⁸+ rows, the
    merge loop needs only the frequent head — rare tails can't win a merge
    anyway).  ``min_count`` floors the count before the cut, the same
    hygiene knob as ``train_ngram_distributed``.  Word extraction runs
    through the SAME ``_words`` kernel as the local trainer (one Arrow
    pass), so when ``max_words`` covers the corpus vocabulary the two
    trainers are bit-identical (tested).
    """

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _w(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _words(t) if isinstance(t, str) else [])

    wf_rows = (
        docs.select(F.explode(_w(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= F.lit(min_count))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(max_words)
        .collect()
    )
    return _merge_loop({r["word"]: int(r["n"]) for r in wf_rows}, n_merges)


def greedy_piece_count(word: str, piece_set: set[str], max_len: int) -> int:
    """Pieces consumed by greedy longest-match-first (≥1 char per step)."""
    pos, n = 0, 0
    L = len(word)
    while pos < L:
        size = min(max_len, L - pos)
        while size > 1 and word[pos : pos + size] not in piece_set:
            size -= 1
        pos += size
        n += 1
    return n


def bpe_token_count(text: Column, pieces: list[str]) -> Column:
    """Per-document BPE token count as one Arrow pass.

    NULL for null text; 0 for whitespace-only (mirrors textstats
    token_count semantics so packing filters behave identically)."""
    piece_set = frozenset(pieces)
    max_len = max((len(p) for p in pieces), default=1)

    @F.pandas_udf(T.IntegerType())
    def _count(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def doc(t):
            if t is None:
                return None
            total = 0
            for w in _words(t):
                n = cache.get(w)
                if n is None:
                    n = greedy_piece_count(w, piece_set, max_len)
                    cache[w] = n
                total += n
            return total

        return texts.map(doc).astype("Int32")

    return _count(text)


def pieces_values_sql(pieces: list[str]) -> str:
    """The piece inventory as a DuckDB VALUES table ``(p, l)`` for the
    recursive-CTE greedy-match oracle (single quotes escaped)."""
    rows = ", ".join(
        "('" + p.replace("'", "''") + "', " + str(len(p)) + ")" for p in pieces
    )
    return f"(VALUES {rows})"


def piece_id_table(pieces: list[str]) -> dict[str, int]:
    """Deterministic piece→id assignment: 0-based ids in (length desc,
    piece asc) inventory order.  -1 is reserved for the single-char
    unknown fallback (real pipelines byte-fallback here; the id stream
    stays loss-annotated rather than dropping text)."""
    ordered = sorted(set(pieces), key=lambda p: (-len(p), p))
    return {p: i for i, p in enumerate(ordered)}


def greedy_piece_ids(word: str, ids: dict[str, int], max_len: int) -> list[int]:
    """Token ids consumed by greedy longest-match-first — the id-emitting
    twin of greedy_piece_count (same walk, same fallback)."""
    pos, out = 0, []
    L = len(word)
    while pos < L:
        size = min(max_len, L - pos)
        while size > 1 and word[pos : pos + size] not in ids:
            size -= 1
        out.append(ids.get(word[pos : pos + size], -1))
        pos += size
    return out


def bpe_encode_ids(text: Column, pieces: list[str]) -> Column:
    """Per-document token-id array (one Arrow pass, per-batch word cache) —
    the loader-final representation: what a training job actually reads
    after packing.  NULL for null text; [] for whitespace-only."""
    ids_map = piece_id_table(pieces)
    max_len = max((len(p) for p in pieces), default=1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[int]] = {}

        def doc(t):
            if t is None:
                return None
            out: list[int] = []
            for w in _words(t):
                v = cache.get(w)
                if v is None:
                    v = greedy_piece_ids(w, ids_map, max_len)
                    cache[w] = v
                out.extend(v)
            return out

        return texts.map(doc)

    return _enc(text)


def pieces_ids_values_sql(pieces: list[str]) -> str:
    """The piece inventory as a DuckDB VALUES table ``(p, l, id)`` with the
    exact piece_id_table assignment — the oracle's id dictionary."""
    ids = piece_id_table(pieces)
    rows = ", ".join(
        "('" + p.replace("'", "''") + "', " + str(len(p)) + ", " + str(i) + ")"
        for p, i in sorted(ids.items(), key=lambda kv: kv[1])
    )
    return f"(VALUES {rows})"
