"""Byte-pair-encoding tokenizer — train on the corpus, tokenize at scale.

The brief's text-analysis surface asks for token counting ("whitespace + a
BPE-ish regex"); this module implements the real thing (Sennrich et al.
2016, public): learn merge rules from corpus statistics, then tokenize
with them.

Distributed shape (the standard production decomposition):

* **word frequencies** — ONE shuffle: lowercase whitespace words ->
  groupBy(word).count().  By Heaps' law the distinct-word table is tiny
  relative to the corpus (10^6-10^7 entries at web scale), so it is the
  classic bounded intermediate;
* **merge training** — DRIVER-side loop over the word-frequency dict
  (exactly how reference BPE trainers consume a word-counts file): each
  round counts weighted adjacent-symbol pairs over the vocab and merges
  the most frequent (deterministic tie-break: lexicographically smallest
  pair), nothing distributed to re-shuffle;
* **tokenization** — the merge ranks are the model of the shared
  broadcast-model Arrow stage (``functions/scoring.py::model_stage``, as
  for langid/perplexity); greedy lowest-rank-first merging per word, the
  standard BPE apply.

The Spark path and the golden oracle share these kernels, so the
distributed run is hash-compared against a sequential replay that is
bit-identical by construction.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scoring import model_stage

#: end-of-word marker (Sennrich's convention) — lets merges distinguish
#: word-final symbols ("est</w>" vs "est")
END = "</w>"

#: ONE normalization for both sides: Spark's Java-regex ``\s`` is the
#: ASCII class [ \t\n\x0B\f\r], which is exactly Python's ``\s`` under
#: re.ASCII — a bare str.split() would ALSO split on Unicode whitespace
#: (NBSP etc.), making the trained word-frequency table inconsistent
#: with the words the tokenizer actually sees.
_WS = re.compile(r"\s+", re.ASCII)


def split_words(text: "str | None") -> list[str]:
    """The pure-Python twin of :func:`words_column`: lowercase,
    ASCII-whitespace split, empties dropped.  Used by the tokenize stage
    kernel and the golden replays so train and apply normalize
    identically."""
    if text is None:
        return []
    return [w for w in _WS.split(text.lower()) if w]


def words_column(text: str | Column) -> Column:
    """Lowercase whitespace words, empty tokens dropped — the shared
    normalization for training and tokenization (the Java ``\\s+`` split
    here and the re.ASCII split in :func:`split_words` match character
    class for character class)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(F.lower(F.trim(col)), r"\s+"), "")


def word_frequencies(
    df: DataFrame,
    text_col: str = "text",
    min_freq: int = 1,
    max_vocab_rows: int | None = None,
) -> DataFrame:
    """(word, freq) over the corpus — one explode + one combinable
    groupBy shuffle; the only distributed step of training.

    ``min_freq`` / ``max_vocab_rows`` bound the table BEFORE it reaches
    the driver: Heaps' law keeps clean-text vocabularies small, but a
    100 TB web crawl's "word" set (URLs, hex blobs, boilerplate noise)
    can reach 10^8+ distinct strings.  The frequency filter is a
    pushed-down post-aggregation predicate; the row cap is a
    deterministic top-N by (freq desc, word asc) — TakeOrdered, no
    global sort materialization.  Hapax noise is below ``min_freq=2``'s
    bar by definition, and BPE merges need pair frequency >= 2 anyway,
    so the caps change nothing on clean corpora."""
    wf = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(words_column(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_freq > 1:
        wf = wf.where(F.col("freq") >= min_freq)
    if max_vocab_rows is not None:
        wf = wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_vocab_rows)
    return wf


def cap_word_counts(
    counts: "dict[str, int]",
    min_freq: int = 1,
    max_vocab_rows: int | None = None,
) -> "dict[str, int]":
    """Pure-Python twin of the :func:`word_frequencies` bounds, so the
    golden replay trains on the identical capped vocabulary."""
    items = [(w, c) for w, c in counts.items() if c >= min_freq]
    if max_vocab_rows is not None:
        items.sort(key=lambda kv: (-kv[1], kv[0]))
        items = items[:max_vocab_rows]
    return dict(items)


# ---------------------------------------------------------------------------
# shared pure-Python kernels (Spark stage + golden replay both call these)
# ---------------------------------------------------------------------------


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (END,)


def train_bpe(
    word_counts: "dict[str, int]", n_merges: int
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merge rules from a word-frequency table.

    Deterministic: the most frequent adjacent pair wins each round, ties
    broken by the lexicographically smallest pair.  Stops early when no
    pair repeats."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        if w:
            sym = _word_symbols(w)
            vocab[sym] = vocab.get(sym, 0) + int(c)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + c
        vocab = new_vocab
    return merges


def apply_bpe_word(
    word: str, ranks: "dict[tuple[str, str], int]"
) -> list[str]:
    """Tokenize one word: repeatedly merge the lowest-rank adjacent pair
    (the standard greedy BPE apply)."""
    sym = list(_word_symbols(word))
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def tokenize_text(
    text: "str | None", ranks: "dict[tuple[str, str], int]"
) -> list[str]:
    if text is None:
        return []
    out: list[str] = []
    for w in split_words(text):
        out.extend(apply_bpe_word(w, ranks))
    return out


# ---------------------------------------------------------------------------
# distributed tokenization
# ---------------------------------------------------------------------------


class MergeRanks(dict):
    """Merge pair -> rank, the tokenizer's model (a ``dict`` subclass, so
    the model stage can hold it by weak reference)."""


def _tokenize_batch(ranks: MergeRanks, texts: list) -> tuple[list]:
    return ([tokenize_text(t, ranks) for t in texts],)


def with_bpe_tokens(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    count_col: str = "n_bpe_tokens",
    tokens_col: str | None = None,
) -> DataFrame:
    """Add the BPE token count (and optionally the tokens) per row: the
    merge ranks are the model of one ``model_stage`` — broadcast once,
    unpickled once per Python worker, applied per Arrow batch."""
    ranks = MergeRanks({(a, b): i for i, (a, b) in enumerate(merges)})
    toks = tokens_col or "__bpe_tokens"
    df = model_stage(df, text_col, {toks: "array<string>"}, (ranks,), _tokenize_batch)
    df = df.withColumn(count_col, F.size(toks))
    return df if tokens_col else df.drop(toks)


def train_bpe_on_corpus(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    min_freq: int = 2,
    max_vocab_rows: int | None = 1_000_000,
) -> list[tuple[str, str]]:
    """Corpus front door: distributed word frequencies -> driver merge
    loop.  The collect is the EXPLICITLY BOUNDED distinct-word table,
    NOT the corpus: the frequency floor and the deterministic top-N cap
    are pushed into the aggregate (see :func:`word_frequencies`), so the
    driver never holds more than ``max_vocab_rows`` rows even when a
    crawl-scale corpus's raw token set would blow Heaps' law."""
    counts = {
        r["word"]: r["freq"]
        for r in word_frequencies(
            df, text_col, min_freq=min_freq, max_vocab_rows=max_vocab_rows
        ).collect()
    }
    return train_bpe(counts, n_merges)
