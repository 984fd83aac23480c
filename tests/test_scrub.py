"""Sketch-gated scrub: the gates are sound on the bank constants, and the
gated Spark chain equals the ungated reference kernel at the gate edges.

The pure-Python ``textcore.scrub_text`` runs every regex on every text,
so it checks the gates independently (as does the DuckDB oracle SQL).
"""

from __future__ import annotations

import re
import string

from hypothesis import given, settings, strategies as st

from data_caterer_spark.functions import textcore as tc
from data_caterer_spark.functions.scrub import SCRUB_GATES, UNGATED, scrub_columns

# PII-dense text: digit runs and separated digit groups around every gate
# threshold, email-shaped tokens, the separators the patterns use, ASCII
# words and lexicon words in any case
_WORD = st.text(string.ascii_letters + string.digits, min_size=1, max_size=6)
PII_TEXT = st.lists(
    st.one_of(
        st.text("0123456789", min_size=1, max_size=17),
        st.tuples(
            st.sampled_from(["-", " ", ".", ""]),
            st.lists(
                st.sampled_from([1, 2, 3, 4, 4]).flatmap(
                    lambda n: st.text("0123456789", min_size=n, max_size=n)
                ),
                max_size=5,
            ),
        ).map(lambda p: p[0].join(p[1])),
        st.tuples(_WORD, _WORD, st.text(string.ascii_letters, max_size=3)).map(
            lambda p: f"{p[0]}@{p[1]}.{p[2]}"
        ),
        st.sampled_from(list("@.-+() ")),
        st.text(string.ascii_letters, min_size=1, max_size=6),
        st.sampled_from(tc.TOXICITY_LEXICON).flatmap(
            lambda w: st.sampled_from([w, w.upper(), w.title()])
        ),
    ),
    max_size=16,
).flatmap(lambda toks: st.sampled_from(["", " "]).map(lambda sep: sep.join(toks)))


# fixed rows at every gate edge
EDGE_TEXTS = [
    None,
    "",
    "naïve café — 日本語 ✓ ruft +1 555-123-4567 an, écrit à zoë@example.fr",
    # cards: 15 vs 16 digits, with and without separators
    "card 4111 1111 1111 111 end",
    "card 4111 1111 1111 1111 end",
    "card 411111111111111 end",
    "card 4111111111111111 end",
    "card 4111-1111-1111-1111 end",
    # phones: 10 vs 11 digits
    "call 555-123-4567 now",
    "call +1 555-123-4567 now",
    "call 5551234567 now",
    "call 15551234567 now",
    "call (555) 123-4567 now",
    "call 1 (555) 123-4567 now",
    # ssn: 8 vs 9 digits
    "ssn 123-45-678 end",
    "ssn 123-45-6789 end",
    "ssn 12-345-6789 end",
    "ssn 123456789 end",
    # ip
    "host 1.2.3.4 up",
    "host 1.2.3 up",
    # emails next to digit runs; card digits inside an email
    "bob@site.org12345678901",
    "12345678901bob@site.org",
    "4111111111111111@mail.com",
    "4111111111111111@mail",
    "x4111111111111111@y",
    "a.b@x.co 4111 1111 1111 1111 123-45-6789",
    # lexicon, upper-case and glued to digits
    "that FRAKKING build",
    "GorRaMit, SHAZBOT!",
    "1234frakking",
    "frakking1234",
]


def _sketch_admits(rid: str, raw: str) -> bool:
    needs_at, min_digits = SCRUB_GATES[rid]
    digits = sum(c in "0123456789" for c in raw)
    return (not needs_at or "@" in raw) and digits >= min_digits


def test_gates_cover_bank_and_replacements_keep_sketch_monotone():
    # a replacement with a digit or "@" could raise step k's input above
    # the raw-text sketch, and a gate read off the raw text would be unsound
    for rid, _pattern, replacement in tc.SCRUB_BANK:
        assert not any(c in "0123456789@" for c in replacement), rid
    bank_ids = {rid for rid, _p, _r in tc.SCRUB_BANK}
    assert bank_ids == set(SCRUB_GATES) | UNGATED
    assert not set(SCRUB_GATES) & UNGATED


def _assert_hits_admitted(text: str) -> None:
    out = text
    for rid, pattern, replacement in tc.SCRUB_BANK:
        new = re.sub(pattern, replacement, out)
        if new != out and rid in SCRUB_GATES:
            assert _sketch_admits(rid, text), (rid, text)
        out = new


@given(PII_TEXT)
@settings(max_examples=300, deadline=None)
def test_every_sequential_hit_is_admitted_by_its_gate(text):
    _assert_hits_admitted(text)


def test_edge_hits_are_admitted_by_their_gates():
    for text in EDGE_TEXTS[1:]:
        _assert_hits_admitted(text)


def _drawn_pii_texts(n: int) -> list[str]:
    drawn: list[str] = []

    @given(PII_TEXT)
    @settings(max_examples=n, deadline=None, database=None, derandomize=True)
    def draw(text):
        drawn.append(text)

    draw()
    return drawn


def test_spark_scrub_matches_reference_at_gate_edges(spark):
    texts = EDGE_TEXTS + _drawn_pii_texts(200)
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = scrub_columns(df).select("id", "scrubbed_text", "scrub_hits").collect()
    assert len(got) == len(texts)
    bad = []
    for r in got:
        text = texts[r["id"]]
        if (r["scrubbed_text"], list(r["scrub_hits"])) != tc.scrub_text(text):
            bad.append((text, r["scrubbed_text"], list(r["scrub_hits"])))
    assert not bad, bad[:5]
