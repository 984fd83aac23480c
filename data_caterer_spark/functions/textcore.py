"""Pure-Python/numpy text kernels shared by the Spark pandas UDFs and the
single-threaded reference labeler (``data_caterer_spark.labeler``).

Both sides import THESE functions, so keep/drop decisions and scrubbed text
are byte-identical by construction — the F1/byte-equality criterion in
BASELINE.json reduces to "the Spark plan calls the same kernels on the same
rows".  No pyspark imports here.

Regex patterns are authored in the common subset of Java regex (Spark
``regexp_replace``/``RLIKE``) and Python ``re``: explicit ASCII classes, no
``\\d``/``\\s`` shorthands (their Unicode semantics differ between engines),
no lookaround.  One construct still differs: ``\\b`` (the card, SSN, phone
and IP patterns).  Java's word characters are the
``Character.isLetterOrDigit`` ones, Python's every ``str.isalnum()`` one,
so next to a character such as ``²`` a boundary can match in one engine
and not the other.  The scrub bank order is TOTAL and documented —
scrubbing is sequential, so order is part of the spec (SURVEY.md §7 "hard
parts").

The batch kernels behind the model stage (``turn_scores`` for the
pipeline, ``LangIdModel.predict`` / ``PerplexityModel.score``) lower and
UTF-8-encode each text once (:class:`LoweredBatch`) and derive every
payload from those bytes: tokens by ``bytes.split``, runs by one
vectorized scan over the batch's ASCII texts, and the langid /
perplexity payloads of ASCII texts by one 256-byte ``translate`` table
and one numpy pass over the whole batch (:func:`_framed_words`), hashed
by :func:`_gram_means` without encoding again.  Each output equals its
per-row kernel bit for bit (the per-row kernels are what the labeler
calls); the non-ASCII texts, which a byte rule cannot cover, take the
per-row path for runs and model payloads, and every text takes it for
the symbol ratio.

The langid model is an n-gram-profile classifier standing in for fastText
(the fasttext lib is not in this image).  It keeps fastText's deployment
shape — a broadcast binary model, batch predict — so a real
``fasttext.load_model`` can be swapped in behind ``LangIdModel``.
"""

from __future__ import annotations

import math
import re
import zlib
from collections.abc import Callable
from dataclasses import dataclass
from functools import cache, cached_property

import numpy as np

# --------------------------------------------------------------------------
# tokenization / feature kernels (mirrored by SQL in functions/text.py)
# --------------------------------------------------------------------------

# explicit ASCII whitespace — identical in Java regex and Python re
WS_RE = re.compile(r"[ \t\n\r\f]+")
NON_ALNUM_RE = re.compile(r"[^A-Za-z0-9 \t\n\r\f]")


def tokens_of(text: str) -> list[str]:
    return [t for t in WS_RE.split(text) if t != ""]


def token_count(text: str) -> int:
    return len(tokens_of(text))


# repetition ratio is computed over the first REP_TOKEN_CAP tokens: the
# signal saturates long before that, and an unbounded distinct over
# pathological mega-documents made the JVM kernel allocation-bound
# (measured: the array_distinct stage stopped scaling with cores).
REP_TOKEN_CAP = 200


def word_repetition_ratio(text: str) -> float:
    """1 - distinct/total over the first REP_TOKEN_CAP lowercased tokens;
    0.0 if empty."""
    toks = [t.lower() for t in tokens_of(text)[:REP_TOKEN_CAP]]
    if not toks:
        return 0.0
    return 1.0 - len(set(toks)) / len(toks)


def symbol_ratio(text: str) -> float:
    """Fraction of characters that are not ASCII alphanumerics/whitespace."""
    n = len(text)
    if n == 0:
        return 0.0
    kept = len(NON_ALNUM_RE.sub("", text))
    return (n - kept) / n


@cache
def _run_re(run: int) -> re.Pattern:
    return re.compile(r"(.)\1{%d,}" % (run - 1))


def has_char_run(text: str, run: int) -> bool:
    """True when one character other than ``\\n`` repeats ``run`` or more
    times in a row.  Python's ``.`` excludes only ``\\n``; the Spark side
    (``functions/text.py``) runs the same pattern in Java's UNIX_LINES
    mode, whose ``.`` excludes only ``\\n`` too."""
    return _run_re(run).search(text) is not None


def fingerprint(text: str) -> int:
    """Deterministic 32-bit document fingerprint (rolling CRC over the
    whitespace-normalized lowercase text).  Used for exact-dup detection."""
    normalized = " ".join(tokens_of(text)).lower()
    return zlib.crc32(normalized.encode("utf-8"))


# --------------------------------------------------------------------------
# batch kernels over one lowered byte buffer per text
# --------------------------------------------------------------------------

# bytes.split() splits on ASCII space, \t, \n, \v, \f and \r.  The token
# whitespace has no \v, so \v first becomes \xff, a byte valid UTF-8 never
# holds.  Every byte of a multi-byte UTF-8 sequence is >= 0x80, so a byte
# split never cuts a character.  Lowering never makes or removes ASCII
# whitespace, and the one context rule of str.lower (final sigma) never
# looks past a whitespace character, so the lowered text has the same
# tokens, each lowered as word_repetition_ratio lowers it.
_VT, _NOT_UTF8 = b"\x0b", b"\xff"
# The langid / perplexity payload tables for ASCII text (see
# _framed_words): each maps the bytes a payload splits on to a space and
# keeps _SEP, which no ASCII text holds.  For perplexity these are the
# ASCII characters str.split() splits on; for langid every byte but a-z,
# as _LETTERS_RE.sub(" ", ...) does once runs of spaces are collapsed.
_SEP = 0x80
_PPL_ASCII = bytes.maketrans(b"\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f", b" " * 9)
_LANGID_ASCII = bytes(
    b if 0x61 <= b <= 0x7A or b == _SEP else 0x20 for b in range(256)
)
_NEWLINE = ord("\n")


class LoweredBatch:
    """A batch of texts, each lowered and UTF-8-encoded once: every batch
    kernel below derives its payload from ``lowered`` / ``data``.  A NULL
    text lowers to ``""``."""

    def __init__(self, texts: list[str | None]):
        self.texts = texts
        self.lowered = ["" if t is None else t.lower() for t in texts]
        self.data = [s.encode("utf-8") for s in self.lowered]
        # the byte-table payloads below hold for ASCII text only
        self.ascii = [s.isascii() for s in self.lowered]


def _runs_from(equal: np.ndarray, k: int) -> np.ndarray:
    """``m[i] = equal[i : i + k].all()`` for every full window, by ANDing
    shifted copies: each step doubles the width a flag covers, and a
    last step ANDs two overlapping windows of at least half the width."""
    if k == 0:
        return np.ones(equal.size + 1, dtype=bool)
    m, width = equal, 1
    while 2 * width <= k:
        m = m[:-width] & m[width:]
        width *= 2
    if width < k:
        m = m[: m.size - (k - width)] & m[k - width :]
    return m


def _char_runs(texts: list[str], run: int) -> list[bool]:
    """``has_char_run(t, run)`` of every ASCII text, in one pass over the
    texts joined by ``\\n``: no run may consist of ``\\n``, so none crosses
    from one text into the next.  A run is a window of ``run - 1`` equal
    neighbours starting on a byte other than ``\\n``."""
    buf = np.frombuffer("\n".join(texts).encode("ascii"), dtype=np.uint8)
    flags = np.zeros(len(texts), dtype=bool)
    if buf.size >= run:
        begins = np.flatnonzero(_runs_from(buf[1:] == buf[:-1], run - 1))
        begins = begins[buf[begins] != _NEWLINE]
        lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
        starts = np.cumsum(lens + 1) - (lens + 1)
        flags[np.searchsorted(starts, begins, side="right") - 1] = True
    return flags.tolist()


def turn_features(
    texts: list[str | None] | LoweredBatch, run: int
) -> tuple[list, list, list, list]:
    """``(n_tokens, rep_ratio, symbol_ratio, has_char_run)`` of every text,
    each equal to the per-row ``token_count``, ``word_repetition_ratio``,
    ``symbol_ratio`` and ``has_char_run``; NULL for a NULL text.

    Tokens come from one byte split of the lowered text, and the run
    flags of the ASCII texts from :func:`_char_runs`; the other texts'
    run flags and every symbol ratio come from the per-row kernels."""
    batch = texts if isinstance(texts, LoweredBatch) else LoweredBatch(texts)
    counts: list[int | None] = []
    ratios: list[float | None] = []
    symbols: list[float | None] = []
    runs: list[bool | None] = []
    ascii_at: list[int] = []
    for i, (t, d) in enumerate(zip(batch.texts, batch.data)):
        if t is None:
            counts.append(None)
            ratios.append(None)
            symbols.append(None)
            runs.append(None)
            continue
        toks = d.replace(_VT, _NOT_UTF8).split()
        head = toks[:REP_TOKEN_CAP]
        counts.append(len(toks))
        ratios.append(1.0 - len(set(head)) / len(head) if head else 0.0)
        symbols.append(symbol_ratio(t))
        if t.isascii():
            runs.append(False)
            ascii_at.append(i)
        else:
            runs.append(has_char_run(t, run))
    for i, r in zip(ascii_at, _char_runs([batch.texts[i] for i in ascii_at], run)):
        runs[i] = r
    return counts, ratios, symbols, runs


# --------------------------------------------------------------------------
# PII / toxicity scrub bank — TOTAL order, applied sequentially
# --------------------------------------------------------------------------

TOXICITY_LEXICON = [
    # stand-in lexicon for the fixture suite; production swaps in a real one
    "frakking", "dangblast", "scumweasel", "gorramit", "shazbot",
]

# (rule_id, pattern, replacement) — order matters: CARD before PHONE so a
# 16-digit run is tagged as a card, not a phone; EMAIL first so user@host
# digits are not half-eaten by later numeric patterns.
SCRUB_BANK: list[tuple[str, str, str]] = [
    (
        "pii_email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
        "[EMAIL]",
    ),
    (
        "pii_card",
        r"\b[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}\b",
        "[CARD]",
    ),
    (
        "pii_ssn",
        r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
        "[SSN]",
    ),
    (
        "pii_phone",
        r"\+?[0-9]{1,3}[- .]?\(?[0-9]{3}\)?[- .]?[0-9]{3}[- .]?[0-9]{4}\b",
        "[PHONE]",
    ),
    (
        "pii_ip",
        r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "[IP]",
    ),
    (
        "toxicity",
        r"(?i)\b(" + "|".join(TOXICITY_LEXICON) + r")\b",
        "[TOX]",
    ),
]

_COMPILED_BANK = [(rid, re.compile(pat), rep) for rid, pat, rep in SCRUB_BANK]


def scrub_text(text: str | None) -> tuple[str | None, list[str]]:
    """Apply the scrub bank in order; return (scrubbed, hit rule ids)."""
    if text is None:
        return None, []
    hits: list[str] = []
    out = text
    for rid, rx, rep in _COMPILED_BANK:
        new = rx.sub(rep, out)
        if new != out:
            hits.append(rid)
        out = new
    return out, hits


# --------------------------------------------------------------------------
# seed corpora (composed for this project; public common vocabulary)
# --------------------------------------------------------------------------

SEED_CORPORA: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and runs into the "
        "forest where it finds a quiet stream of water flowing between "
        "old stones. people often ask how the weather will change next "
        "week and whether they should bring an umbrella to work. thank "
        "you for your message, i will look into the problem and get back "
        "to you with an answer as soon as possible. the model returned an "
        "error because the input file was missing a required column. "
        "please check the documentation before opening a new ticket. "
        "what time does the train leave tomorrow morning from the main "
        "station? i think we should test this function with a larger "
        "dataset before we ship it to production. the results look good "
        "overall but there are a few edge cases we still need to handle."
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso y corre "
        "hacia el bosque donde encuentra un arroyo tranquilo. la gente "
        "pregunta a menudo cómo cambiará el tiempo la próxima semana y si "
        "deberían llevar un paraguas al trabajo. gracias por tu mensaje, "
        "voy a revisar el problema y te responderé lo antes posible. el "
        "modelo devolvió un error porque faltaba una columna en el "
        "archivo de entrada. por favor consulta la documentación antes de "
        "abrir un nuevo caso. ¿a qué hora sale el tren mañana por la "
        "mañana desde la estación principal?"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et "
        "court vers la forêt où il trouve un ruisseau tranquille. les "
        "gens demandent souvent comment le temps va changer la semaine "
        "prochaine et s'ils devraient apporter un parapluie au travail. "
        "merci pour votre message, je vais examiner le problème et vous "
        "répondre dès que possible. le modèle a renvoyé une erreur parce "
        "qu'une colonne manquait dans le fichier d'entrée. veuillez "
        "consulter la documentation avant d'ouvrir un nouveau dossier."
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund und läuft "
        "in den wald wo er einen ruhigen bach findet. die leute fragen "
        "oft wie sich das wetter nächste woche ändern wird und ob sie "
        "einen regenschirm zur arbeit mitbringen sollten. danke für ihre "
        "nachricht, ich werde mir das problem ansehen und mich so bald "
        "wie möglich bei ihnen melden. das modell hat einen fehler "
        "zurückgegeben weil eine spalte in der eingabedatei fehlte. bitte "
        "lesen sie die dokumentation bevor sie ein neues ticket öffnen."
    ),
    "pt": (
        "a rápida raposa marrom pula sobre o cachorro preguiçoso e corre "
        "para a floresta onde encontra um riacho tranquilo. as pessoas "
        "perguntam com frequência como o tempo vai mudar na próxima "
        "semana e se deveriam levar um guarda-chuva para o trabalho. "
        "obrigado pela sua mensagem, vou analisar o problema e retornar "
        "o mais rápido possível. o modelo retornou um erro porque faltava "
        "uma coluna no arquivo de entrada."
    ),
    "it": (
        "la veloce volpe marrone salta sopra il cane pigro e corre verso "
        "la foresta dove trova un ruscello tranquillo. le persone "
        "chiedono spesso come cambierà il tempo la prossima settimana e "
        "se dovrebbero portare un ombrello al lavoro. grazie per il tuo "
        "messaggio, esaminerò il problema e ti risponderò il prima "
        "possibile. il modello ha restituito un errore perché mancava una "
        "colonna nel file di input."
    ),
}

# --------------------------------------------------------------------------
# language identification — n-gram profile model (fastText stand-in)
# --------------------------------------------------------------------------

_LETTERS_RE = re.compile(r"[^a-zà-ÿäöüßñç ]+")

LANGID_BUCKETS = 1 << 14
LANGID_ALPHA = 0.05


def _langid_clean(text: str) -> str:
    return _langid_clean_lowered(text.lower())


def _langid_clean_lowered(lowered: str) -> str:
    cleaned = _LETTERS_RE.sub(" ", lowered)
    cleaned = " ".join(cleaned.split())
    return f" {cleaned} "


def _framed_words(data: list[bytes], table: bytes) -> list[bytes]:
    """``b" " + b" ".join(d.translate(table).split()) + b" "`` of every
    ASCII ``d``, except that a ``d`` with no word gives ``b" "``.

    One translate and one numpy pass serve the whole batch: the texts are
    joined as ``_SEP d1 _SEP d2 ... _SEP``, each framed by a space on either
    side, and every space that follows a space is dropped.  What remains
    between two ``_SEP`` bytes is a text's words, one space apart, inside
    one frame space on either side."""
    if not data:
        return []
    sep = bytes([_SEP])
    joined = (sep + b" " + (b" " + sep + b" ").join(data) + b" " + sep).translate(table)
    buf = np.frombuffer(joined, dtype=np.uint8)
    space = buf == 0x20
    keep = np.ones(buf.size, dtype=bool)
    keep[1:] = ~(space[1:] & space[:-1])
    return buf[keep].tobytes().split(sep)[1:-1]


def _payloads(
    batch: LoweredBatch, table: bytes, one: Callable[[str], bytes], strip: int
) -> list[bytes]:
    """Every text's payload: ``_framed_words`` of the ASCII texts, with
    ``strip`` bytes cut from either end, and ``one(lowered)`` of the
    others."""
    framed = iter(_framed_words([d for d, a in zip(batch.data, batch.ascii) if a], table))
    end = -strip or None
    return [
        next(framed)[strip:end] if a else one(s)
        for s, a in zip(batch.lowered, batch.ascii)
    ]


def _langid_payloads(batch: LoweredBatch) -> list[bytes]:
    """``_langid_clean`` of every text as UTF-8, except that an ASCII text
    with no letters gives ``b" "`` for ``b"  "``: neither has a gram, nor
    has a NULL text."""
    return _payloads(
        batch, _LANGID_ASCII, lambda s: _langid_clean_lowered(s).encode("utf-8"), 0
    )


def _ppl_payloads(batch: LoweredBatch) -> list[bytes]:
    """``" ".join(text.lower().split())`` of every text as UTF-8 (what
    ``PerplexityModel.score_one`` hashes); a NULL text has no grams."""
    return _payloads(
        batch, _PPL_ASCII, lambda s: " ".join(s.split()).encode("utf-8"), 1
    )


@dataclass
class LangIdModel:
    """Hashed byte-trigram log-probability profiles per language.

    Deployment shape mirrors a broadcast fastText model: the object itself
    is broadcast (functions/scoring.py), scoring is batch ``predict``.
    Scoring is a dense numpy matrix gather over FNV-hashed trigrams — no
    per-gram Python (the dict-profile formulation cost ~50us/text; this is
    ~3us) — the same dense-lookup shape as a real fastText model.
    """

    langs: list[str]
    profiles: np.ndarray  # float64[n_langs, LANGID_BUCKETS] log-probs
    unseen_logp: float = -12.0
    min_grams: int = 8

    @classmethod
    def train(cls, corpora: dict[str, str] | None = None) -> "LangIdModel":
        corpora = corpora or SEED_CORPORA
        langs = sorted(corpora)
        mat = np.zeros((len(langs), LANGID_BUCKETS), dtype=np.float64)
        for i, lang in enumerate(langs):
            idx = _hash_ngrams(_langid_clean(corpora[lang]), buckets=LANGID_BUCKETS)
            counts = np.zeros(LANGID_BUCKETS, dtype=np.float64)
            np.add.at(counts, idx.astype(np.int64), 1.0)
            total = counts.sum()
            mat[i] = np.log(
                (counts + LANGID_ALPHA) / (total + LANGID_ALPHA * LANGID_BUCKETS)
            )
        return cls(langs=langs, profiles=mat)

    def predict_one(self, text: str | None) -> tuple[str, float]:
        """Returns (lang, avg trigram log-prob of the winning language).

        Deterministic: ``langs`` is sorted and ``argmax`` takes the first
        maximum, so ties break alphabetically; texts with too little
        letter signal get ('und', unseen_logp).
        """
        if text is None:
            return "und", self.unseen_logp
        idx = _hash_ngrams(_langid_clean(text), buckets=LANGID_BUCKETS)
        if idx.size < self.min_grams:
            return "und", self.unseen_logp
        scores = self.profiles[:, idx.astype(np.int64)].mean(axis=1)
        best = int(np.argmax(scores))
        return self.langs[best], float(scores[best])

    @cached_property
    def _table(self) -> np.ndarray:
        """``profiles`` as a contiguous ``[buckets, langs]`` copy.  A row
        gather from it is laid out grams-outer, langs-inner, the same
        layout ``profiles[:, idx]`` has in ``predict_one``, so the two
        means add a row's grams in the same order."""
        return np.ascontiguousarray(self.profiles.T)

    def _batch_scores(self, batch: LoweredBatch) -> tuple[np.ndarray, np.ndarray]:
        """(rows with at least ``min_grams`` grams, their [rows, langs]
        mean log-probs); NULL texts have no grams."""
        return _gram_means(_langid_payloads(batch), self._table, self.min_grams)

    def _labels(self, n: int, rows: np.ndarray, best: np.ndarray) -> list[str]:
        """``langs[best]`` at ``rows`` of ``n`` texts, 'und' elsewhere."""
        lang_of = np.full(n, len(self.langs))
        lang_of[rows] = best
        return np.array([*self.langs, "und"], dtype=object)[lang_of].tolist()

    def predict(
        self, texts: list[str | None] | LoweredBatch
    ) -> tuple[list[str], list[float]]:
        """Batch scoring, BIT-IDENTICAL to ``predict_one`` per row (see
        :func:`_gram_means`).  ``argmax(axis=1)`` keeps the same
        first-maximum tie-break."""
        batch = texts if isinstance(texts, LoweredBatch) else LoweredBatch(texts)
        n = len(batch.texts)
        rows, sc = self._batch_scores(batch)
        best = sc.argmax(axis=1)
        scores = np.full(n, self.unseen_logp)
        scores[rows] = sc[np.arange(len(rows)), best]
        return self._labels(n, rows, best), scores.tolist()

    def predict_margin_one(self, text: str | None) -> tuple[str, float]:
        """(lang, top1 - top2 margin) — the language-ID CONFIDENCE gate
        (CCNet drops low-margin docs: two close profiles mean the text is
        mixed/ambiguous).  'und' rows get margin 0.0."""
        if text is None:
            return "und", 0.0
        idx = _hash_ngrams(_langid_clean(text), buckets=LANGID_BUCKETS)
        if idx.size < self.min_grams:
            return "und", 0.0
        scores = self.profiles[:, idx.astype(np.int64)].mean(axis=1)
        best = int(np.argmax(scores))
        others = np.delete(scores, best)
        return self.langs[best], float(scores[best] - others.max())

    def predict_margin(
        self, texts: list[str | None]
    ) -> tuple[list[str], list[float]]:
        """Batch margins, bit-identical per row to ``predict_margin_one``
        (same scores as ``predict``; the margin is a difference of two
        entries of the same per-row score vector)."""
        rows, sc = self._batch_scores(LoweredBatch(texts))
        at = np.arange(len(rows))
        best = sc.argmax(axis=1)
        top = sc[at, best]
        sc[at, best] = -np.inf
        margins = np.zeros(len(texts))
        margins[rows] = top - sc.max(axis=1)
        return self._labels(len(texts), rows, best), margins.tolist()


# --------------------------------------------------------------------------
# perplexity — hashed char-trigram LM (KenLM-style stand-in)
# --------------------------------------------------------------------------

# bucket count sized to the seed corpus: with B >> corpus-trigram-count the
# smoothing denominator dominates every score and the threshold loses all
# meaning (measured: 2^16 buckets pushed clean English to ppl ≈ 35k).  4096
# buckets + α=0.02 give clean ≈ 1.6k-4.7k vs gibberish ≥ 16k on held-out text.
PPL_BUCKETS = 1 << 12
PPL_ALPHA = 0.02
_HASH_BASE = np.uint64(1099511628211)
_HASH_SEED = np.uint64(14695981039346656037)


def _hash_ngrams(text: str, n: int = 3, buckets: int | None = None) -> np.ndarray:
    """FNV-1a over byte n-grams, vectorized; deterministic across platforms."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if data.size < n:
        return np.empty(0, dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(data, n).astype(np.uint64)
    h = np.full(windows.shape[0], _HASH_SEED, dtype=np.uint64)
    for i in range(n):
        h = (h ^ windows[:, i]) * _HASH_BASE
    return h % np.uint64(buckets if buckets is not None else PPL_BUCKETS)


def _gram_means(
    payloads: list[bytes], table: np.ndarray, min_grams: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """For every UTF-8 payload with at least ``min_grams`` FNV trigrams
    (hashed as ``_hash_ngrams(text, 3, len(table))`` hashes the text the
    payload encodes), the mean of ``table``'s rows at its grams: returns
    (those payloads' positions, their means).

    All payloads hash in one pass over their concatenated bytes, XOR-
    multiplying shifted views; a text's grams are the windows that start
    inside it and fit in it.  Texts are grouped by gram count with one
    stable argsort, and each group of K texts with g grams is one [K, g]
    index gather and one mean over the gram axis.  That mean adds each
    text's grams in the order the per-row methods do: pairwise along a
    contiguous [K, g] gram axis for a 1-D table
    (``PerplexityModel.score_one``), and gram by gram for a ``[buckets,
    langs]`` table (``LangIdModel.predict_one``), where a [g, K, langs]
    gather sums each gram into all K * langs lanes at once.  So every
    mean is bit-identical to the per-row one, and no numpy call runs per
    text."""
    n = 3
    lens = np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads))
    order = np.argsort(np.maximum(lens - (n - 1), 0), kind="stable")
    ranked = np.maximum(lens[order] - (n - 1), 0)
    lo = int(np.searchsorted(ranked, max(min_grams, 1)))
    if lo == len(ranked):
        return order[lo:], np.empty((0, *table.shape[1:]))
    big = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    h = np.bitwise_xor(big[: big.size - (n - 1)], _HASH_SEED, dtype=np.uint64)
    h *= _HASH_BASE
    for i in range(1, n):
        h ^= big[i : i + h.size]
        h *= _HASH_BASE
    h %= np.uint64(len(table))
    grams = h.view(np.int64)  # every bucket is < 2**63
    starts = np.cumsum(lens) - lens
    cuts = [lo, *(lo + 1 + np.flatnonzero(np.diff(ranked[lo:]))).tolist(), len(ranked)]
    means = []
    for a, b in zip(cuts, cuts[1:]):
        firsts, offsets = starts[order[a:b]], np.arange(ranked[a])
        if table.ndim == 1:
            means.append(np.take(table, grams[firsts[:, None] + offsets]).mean(axis=1))
        else:
            at = grams[offsets[:, None] + firsts]
            means.append(np.take(table, at, axis=0).mean(axis=0))
    return order[lo:], np.concatenate(means)


@dataclass
class PerplexityModel:
    """Laplace-smoothed hashed-trigram LM; ppl = exp(-mean log p(gram))."""

    logprob: np.ndarray  # float64[PPL_BUCKETS]
    empty_ppl: float = 1e6

    @classmethod
    def train(cls, corpus: str | None = None) -> "PerplexityModel":
        corpus = corpus or SEED_CORPORA["en"]
        counts = np.zeros(PPL_BUCKETS, dtype=np.float64)
        idx = _hash_ngrams(" ".join(corpus.lower().split()))
        np.add.at(counts, idx.astype(np.int64), 1.0)
        total = counts.sum()
        logp = np.log((counts + PPL_ALPHA) / (total + PPL_ALPHA * PPL_BUCKETS))
        return cls(logprob=logp)

    def score_one(self, text: str | None) -> float:
        if text is None:
            return self.empty_ppl
        normalized = " ".join(text.lower().split())
        idx = _hash_ngrams(normalized)
        if idx.size == 0:
            return self.empty_ppl
        mean_logp = float(np.mean(self.logprob[idx.astype(np.int64)]))
        return float(math.exp(-mean_logp))

    def score(self, texts: list[str | None] | LoweredBatch) -> list[float]:
        """Batch scoring, BIT-IDENTICAL to ``score_one`` per row (see
        :func:`_gram_means`); the final ``math.exp`` stays the scalar libm
        call ``score_one`` makes."""
        batch = texts if isinstance(texts, LoweredBatch) else LoweredBatch(texts)
        rows, means = _gram_means(_ppl_payloads(batch), self.logprob)
        out = np.full(len(batch.texts), self.empty_ppl)
        out[rows] = [math.exp(-m) for m in means.tolist()]
        return out.tolist()


# --------------------------------------------------------------------------
# the pipeline's fused per-batch kernel
# --------------------------------------------------------------------------


def turn_scores(
    lm: LangIdModel, pm: PerplexityModel, texts: list[str | None], run: int
) -> tuple[list, ...]:
    """``(n_tokens, rep_ratio, symbol_ratio, has_char_run, lang,
    lang_score, ppl)`` of every text, each bit-identical to its per-row
    kernel (:func:`turn_features`, ``predict_one``, ``score_one``).  Each
    text is lowered and encoded once, for all seven."""
    batch = LoweredBatch(texts)
    return (*turn_features(batch, run), *lm.predict(batch), pm.score(batch))
