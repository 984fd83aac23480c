"""Document-level text analysis over a ``documents(doc_id, text, ...)`` table.

Everything here but the DEFLATE length is a Catalyst projection (no
Python) built from the shared kernels in ``functions/text.py`` — the same
discipline as the reference's expression-string generators
(``ValidationOperations.scala:13`` keeps all rule evaluation JVM-side).
Components:

* token counting — whitespace tokens + a BPE-ish subword estimate;
* quality scoring — bounded [0,1] blend of length/punct/stopword signals;
* language-ID heuristic — stopword-profile argmax (JVM path; the pandas-UDF
  n-gram model in ``functions/langid.py`` is the higher-quality path);
* fingerprinting — crc32 of normalized text (exact-dup key);
* compression ratio — the one Python step: the DEFLATE length crosses
  into Python in the shared Arrow stage (``functions/scoring.py``).
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text as T
from .scoring import model_stage

# Small public stopword lists (common function words) per language — enough
# signal for a coarse JVM-side language vote.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with",
           "you", "this", "are", "was", "will", "have", "not", "but", "they"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por",
           "un", "una", "con", "para", "es", "al", "como", "más", "pero"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "du",
           "que", "est", "pour", "qui", "dans", "pas", "sur", "vous", "je"],
    "de": ["der", "die", "und", "den", "von", "zu", "das", "mit", "sich",
           "des", "auf", "für", "ist", "im", "dem", "nicht", "ein", "eine"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "para",
           "com", "não", "uma", "os", "no", "se", "na", "por", "mais"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "in", "una", "del",
           "non", "sono", "con", "si", "da", "come", "le", "più", "ma"],
}

# BPE-ish tokenization: words, numbers, and single punctuation marks — the
# common pre-tokenizer shape (GPT-2-style split without the byte merges).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]"


def bpe_ish_token_count(text: str | Column) -> Column:
    """Count of word/number/punct pre-tokens; ~upper bound on BPE tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def stopword_votes(text: str | Column) -> dict[str, Column]:
    """Per-language stopword hit counts over lowercased tokens."""
    toks = T.tokens_lower(text)
    out = {}
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return out


def heuristic_language(text: str | Column, min_votes: int = 1) -> Column:
    """Argmax language by stopword votes; 'und' when no language clears
    ``min_votes``.  Ties break by sorted language code (deterministic).

    Pure Catalyst: builds an array<struct<votes,lang>> and takes
    ``array_max`` — ordering on struct fields gives argmax-with-tiebreak
    (max votes, then max lang code reversed via sort order on negated
    position is unnecessary: ties in votes resolve by the struct's second
    field; we negate nothing and document ties break to the LAST language
    code alphabetically... instead we prepend the negated lang index so
    ties break to the FIRST alphabetically).
    """
    votes = stopword_votes(text)
    langs = sorted(votes)  # deterministic order
    entries = [
        F.struct(
            votes[lang].alias("votes"),
            F.lit(-i).alias("pref"),  # higher pref = earlier alphabetical
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["votes"] >= min_votes, best["lang"]).otherwise(
        F.lit("und")
    )


def quality_score(
    text: str,
    ideal_len: tuple[int, int] = (80, 4000),
    stopwords: list[str] | None = None,
) -> Column:
    """Bounded [0,1] quality blend: length window, symbol ratio, repetition,
    stopword presence.  Weights are fixed and documented (0.3/0.25/0.25/0.2)
    so scores are comparable across runs."""
    c = F.col(text)
    sw = stopwords or STOPWORDS["en"]
    n = F.length(c)
    len_ok = F.when(
        (n >= ideal_len[0]) & (n <= ideal_len[1]), F.lit(1.0)
    ).otherwise(
        F.when(n < ideal_len[0], n.cast("double") / F.lit(float(ideal_len[0])))
        .otherwise(F.lit(float(ideal_len[1])) / n.cast("double"))
    )
    sym = F.lit(1.0) - F.least(
        T.symbol_ratio(text) * 2, F.lit(1.0)
    )  # >0.5 symbols => 0
    rep = F.lit(1.0) - T.word_repetition_ratio(text)
    sw_presence = F.least(T.stopword_ratio(text, sw) * 5, F.lit(1.0))
    score = (
        len_ok * 0.3 + sym * 0.25 + rep * 0.25 + sw_presence * 0.2
    )
    return F.when(c.isNull() | (n == 0), F.lit(0.0)).otherwise(
        F.round(score, 6)
    )


def document_features(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One projection adding the full analysis column block."""
    return df.withColumns(
        {
            "n_chars_calc": F.length(text_col),
            "n_tokens_ws": T.token_count(text_col),
            "n_tokens_bpe": bpe_ish_token_count(text_col),
            "rep_ratio": T.word_repetition_ratio(text_col),
            "symbol_ratio": T.symbol_ratio(text_col),
            "ascii_ratio": T.ascii_ratio(text_col),
            "lang_heur": heuristic_language(text_col),
            "quality": quality_score(text_col),
            "fingerprint": T.fingerprint(text_col),
        }
    )


def compressed_len(text: str | None) -> int | None:
    """DEFLATE length of the UTF-8 text — the compression-ratio quality
    signal (Gopher/RedPajama use it as a repetition proxy: boilerplate
    and looped text compress far below prose).  zlib is C-side, so the
    Python loop is per document, not per byte; level fixed at 6 so the
    byte count is deterministic for a given zlib, which makes the
    sequential replay exact."""
    return None if text is None else len(zlib.compress(text.encode("utf-8"), 6))


def _compressed_lens(texts: list) -> tuple[list]:
    return ([compressed_len(t) for t in texts],)


def py_compression_ratio(text: str) -> "tuple[int, int, float]":
    """Sequential twin: (raw_bytes, comp_bytes, ratio) for the replay."""
    raw = len(text.encode("utf-8"))
    comp = compressed_len(text)
    return raw, comp, comp / raw


def with_compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    repetitive_below: float = 0.4,
) -> DataFrame:
    """Adds raw_bytes / comp_bytes / comp_ratio / flag_repetitive.  Only
    ``comp_bytes`` crosses the Arrow boundary; byte length and the ratio
    stay JVM-side (octet_length, not length — multi-byte UTF-8)."""
    out = model_stage(
        df.withColumn("raw_bytes", F.octet_length(text_col)),
        text_col,
        {"comp_bytes": "int"},
        (),
        _compressed_lens,
    )
    # NULL for an empty text, which has no byte to compress
    ratio = F.try_divide(F.col("comp_bytes").cast("double"), F.col("raw_bytes"))
    return out.withColumn("comp_ratio", F.round(ratio, 6)).withColumn(
        "flag_repetitive", ratio < F.lit(repetitive_below)
    )
