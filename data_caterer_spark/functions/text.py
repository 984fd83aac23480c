"""JVM-side (Catalyst, codegen-able) text feature columns.

Each factory here is the Spark SQL mirror of a pure-Python kernel in
``textcore.py``; parity is pinned by tests/test_parity.py over the fixture
corpus.  Patterns use explicit ASCII classes so Java regex and Python ``re``
agree (see textcore module docstring).

They serve plans that have no Python stage: the query operators
(``queries.py``, ``functions/docs.py``, ``operators/sampling.py``) use
them, as the reference's own rule engine is pure Spark SQL
(``ValidationOperations.scala:13``).  The quality-filter pipeline does not:
its token, repetition, symbol and run features come from its Arrow model
stage (``textcore.turn_scores``).  The kernels are written once, as SQL
text over an operand (a column name or expression): the feature
select-list splices that text in, and the standalone Column functions
parse it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.rules import lit_sql, with_sql_columns

WS_PATTERN = "[ \\t\\n\\r\\f]+"
WS_CHARS = " \t\n\r\f"


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# tokens / tokens_lower stay Column builders (webfilters applies them to
# the Python lambda variables of higher-order functions, which SQL text
# cannot name); _split_sql is the same expression as SQL text.


def tokens(text: str | Column) -> Column:
    """Non-empty whitespace tokens (mirror of ``textcore.tokens_of``).

    HOF-free formulation (lambda higher-order functions are interpreted,
    not codegen'd — measured 8x slower than this): trim the whitespace
    charset with ``btrim`` so ``split`` can't produce edge empties (a
    maximal-run ws regex can't produce interior empties), and special-case
    the all-whitespace string, whose split would be [""].
    """
    t = F.btrim(_col(text), F.lit(WS_CHARS))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, WS_PATTERN)
    )


def _split_sql(t: str) -> str:
    b = f"btrim({t}, {lit_sql(WS_CHARS)})"
    return (
        f"CASE WHEN {b} = '' THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({b}, {lit_sql(WS_PATTERN)}) END"
    )


def tokens_lower(text: str | Column) -> Column:
    """Lowercased tokens — lowering the whole string once instead of a
    per-token ``transform`` (same result, no interpreted lambda)."""
    return tokens(F.lower(_col(text)))


def normalized(text: str | Column) -> Column:
    """Lowercased, single-space-joined text — equal to
    ``" ".join(tokens_of(text)).lower()`` via ONE regexp pass."""
    t = F.btrim(_col(text), F.lit(WS_CHARS))
    return F.lower(F.regexp_replace(t, WS_PATTERN, " "))


def _token_count_sql(t: str, toks: str) -> str:
    # explicit null guard: legacy (non-ANSI) mode has size(NULL) == -1,
    # which would silently flip null-text rule semantics
    return f"CASE WHEN {t} IS NULL THEN CAST(NULL AS INT) ELSE size({toks}) END"


def token_count(text: str) -> Column:
    return F.expr(_token_count_sql(text, _split_sql(text)))


REP_TOKEN_CAP = 200  # keep in sync with textcore.REP_TOKEN_CAP


def _rep_ratio_sql(t: str, toks: str) -> str:
    capped = f"slice({toks}, 1, {REP_TOKEN_CAP})"
    n = f"CAST(size({capped}) AS DOUBLE)"
    ratio = (
        f"CASE WHEN size({capped}) = 0 THEN 0.0D "
        f"ELSE 1.0D - CAST(size(array_distinct({capped})) AS DOUBLE) / {n} END"
    )
    return f"CASE WHEN {t} IS NULL THEN CAST(NULL AS DOUBLE) ELSE {ratio} END"


def word_repetition_ratio(text: str) -> Column:
    """1 - distinct/total over the first REP_TOKEN_CAP lowercased tokens
    (``textcore.word_repetition_ratio``).  The cap bounds the per-row
    distinct-set cost on pathological mega-documents."""
    return F.expr(_rep_ratio_sql(text, _split_sql(f"lower({text})")))


ALNUM_WS_CHARS = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789" + WS_CHARS
)


def _symbol_ratio_sql(t: str) -> str:
    symbols = f"length(translate({t}, {lit_sql(ALNUM_WS_CHARS)}, ''))"
    return (
        f"CASE WHEN length({t}) = 0 THEN 0.0D "
        f"ELSE CAST({symbols} AS DOUBLE) / CAST(length({t}) AS DOUBLE) END"
    )


def symbol_ratio(text: str) -> Column:
    """Non-alphanumeric character fraction (``textcore.symbol_ratio``).

    ``translate`` deletes the keep-set char-by-char with a plain lookup
    table — measured 16x faster than the negated-class regex forms
    (Java regex negated classes were the single slowest kernel in the
    pipeline) and byte-identical in result.
    """
    return F.expr(_symbol_ratio_sql(text))


def _char_run_sql(t: str, run: int) -> str:
    # (?d) is Java's UNIX_LINES: its '.' then excludes only '\n', as
    # Python's does, not also '\r', U+0085, U+2028 and U+2029
    pattern = "(?d)(.)\\1{%d,}" % (run - 1)
    return f"{t} RLIKE {lit_sql(pattern)}"


def char_run_flag(text: str, run: int = 10) -> Column:
    """True when one character other than ``\\n`` repeats >= ``run`` times
    in a row (``textcore.has_char_run``)."""
    return F.expr(_char_run_sql(text, run))


def fingerprint(text: str | Column) -> Column:
    """32-bit CRC over whitespace-normalized lowercase text
    (``textcore.fingerprint``).  crc32 is a Spark built-in, so exact-dup
    fingerprints never leave the JVM."""
    return F.crc32(normalized(text).cast("binary"))


def stopword_ratio(text: str | Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords — cheap English-quality signal."""
    toks = tokens_lower(text)
    n = F.size(toks)
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n.cast("double")
    )


#: the lowered token array, a lateral alias of the feature stage
TOKS = "__toks"


def text_features_sql(char_run: int = 10) -> list[str]:
    """The heuristic-rule features as one select-list (the JVM mirror of
    ``textcore.turn_features`` plus ``n_chars``).

    The lowered token array is the lateral alias ``__toks``, reused by
    ``n_tokens`` and ``rep_ratio`` — multiply-referenced, so
    CollapseProject keeps it a real column instead of re-splitting the
    text per consumer.  The caller drops ``__toks``.  Each output column
    equals its standalone kernel (pinned by tests/test_parity.py):
    lowering does not change the token count.
    """
    t = "text"
    return [
        f"{_split_sql(f'lower({t})')} AS {TOKS}",
        f"length({t}) AS n_chars",
        f"{_token_count_sql(t, TOKS)} AS n_tokens",
        f"{_rep_ratio_sql(t, TOKS)} AS rep_ratio",
        f"{_symbol_ratio_sql(t)} AS symbol_ratio",
        f"{_char_run_sql(t, char_run)} AS has_char_run",
    ]


def with_text_features(df, char_run: int = 10):
    """Add the feature block of :func:`text_features_sql` in one projection."""
    return with_sql_columns(df, text_features_sql(char_run), [TOKS])


PRINTABLE_ASCII = "".join(chr(i) for i in range(0x20, 0x7F))


def ascii_ratio(text: str | Column) -> Column:
    """Fraction of characters in printable ASCII — fast langid prefilter.
    translate-based for the same reason as :func:`symbol_ratio`."""
    c = _col(text)
    n = F.length(c)
    non_ascii = F.length(F.translate(c, PRINTABLE_ASCII, ""))
    return F.when(n == 0, F.lit(1.0)).otherwise(
        (n - non_ascii).cast("double") / n.cast("double")
    )
