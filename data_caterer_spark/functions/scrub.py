"""PII/toxicity scrub stage: the one Spark implementation of the bank.

:func:`scrub_sql` writes ``textcore.SCRUB_BANK`` (total order) as one
Spark SQL select-list: a per-row sketch, then one lateral column alias per
bank step, ``CASE WHEN <gate> THEN regexp_replace(<prev>, ...) ELSE <prev>
END``, then the scrubbed text and the hit flags.  The pipeline's label
stage splices it in; :func:`scrub_columns` applies it alone.  Pure
Catalyst, whole-stage codegen, zero Python.  The pure-Python
``textcore.scrub_text`` (used by the reference labeler) is the independent
reference it is checked against.

Byte-equality with the reference labeler holds on the fixtures (pinned by
tests/test_parity.py) because the patterns are written in the common
Java/Python regex subset, with one known exception: ``\\b``.  Java treats
only ``Character.isLetterOrDigit`` characters as word characters, Python
every ``str.isalnum()`` one, so the two disagree next to a non-ASCII
alphanumeric that is not a letter or decimal digit, such as ``²``:
``²4111111111111111`` scrubs to ``²[CARD]`` here and to ``²411[PHONE]``
in ``textcore.scrub_text``.  The fixtures never put such characters next
to PII.

Sketch gates (after Column Sketches, SIGMOD 2018: a cheap pre-predicate
that may admit a non-match but never rejects a match).  Most turns have
no ``@`` and few digits, so each PII step runs its regex only where a
per-row sketch of the RAW text admits it.  The sketch is computed once
per row: whether the text contains ``@`` (``instr``) and its ASCII digit
count (``regexp_count(t, '[0-9]')``; ``length(t) - length(translate(t,
'0123456789', ''))`` gives the same count but allocates a string per
character).
``SCRUB_GATES`` holds one exact necessary condition per rule:

- ``pii_email`` needs ``@``: the pattern has a literal ``@``;
- ``pii_card`` needs >= 16 digits: four ``[0-9]{4}`` groups;
- ``pii_ssn`` needs >= 9 digits: ``[0-9]{3}-[0-9]{2}-[0-9]{4}``;
- ``pii_phone`` needs >= 11 digits: ``[0-9]{1,3}`` then 3 + 3 + 4;
- ``pii_ip`` needs >= 4 digits: four ``[0-9]{1,3}`` octets.

``[0-9]`` is ASCII-only in both Java and Python, so the digit count
bounds what every pattern can consume.  Gating on the raw text is sound
for the sequential chain because no replacement token (``[EMAIL]``,
``[CARD]``, ...) contains a digit or ``@``: step k's input never has more
digits or ``@`` than the raw text.  tests/test_scrub.py pins both facts
on the bank constants.

``toxicity`` is ungated: a lexicon gate would need ``lower()``, whose
mapping of non-ASCII text depends on the JVM locale, while Java's
``(?i)`` folds ASCII only — the gate could reject a real match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.rules import lit_sql, with_sql_columns
from .textcore import SCRUB_BANK

# rule id -> (needs "@", least ASCII digit count) of any text the rule's
# pattern can match
SCRUB_GATES: dict[str, tuple[bool, int]] = {
    "pii_email": (True, 0),  # literal "@" between local part and host
    "pii_card": (False, 16),  # [0-9]{4} four times
    "pii_ssn": (False, 9),  # [0-9]{3}-[0-9]{2}-[0-9]{4}
    "pii_phone": (False, 11),  # [0-9]{1,3}, then [0-9]{3}, {3} and {4}
    "pii_ip": (False, 4),  # four [0-9]{1,3} octets
}
# runs on every row: see the module docstring
UNGATED = frozenset({"toxicity"})

_DIGITS = "__scrub_digits"
_STEPS = [f"__scrub_{i}" for i in range(len(SCRUB_BANK))]
#: the lateral aliases of :func:`scrub_sql`, dropped by its caller
TEMPORARIES = (_DIGITS, *_STEPS)


def _gate_sql(text: str, needs_at: bool, min_digits: int) -> str:
    """A ``SCRUB_GATES`` entry as a condition on the raw text's sketch."""
    at = [f"instr({text}, '@') > 0"] if needs_at else []
    digits = [f"{_DIGITS} >= {min_digits}"] if min_digits else []
    return " AND ".join(at + digits)


def scrub_sql(text_col: str = "text", out_col: str = "scrubbed_text") -> list[str]:
    """The staged scrub as one select-list: the sketch, then one lateral
    alias per bank step that references the previous step and runs its
    regex only on rows its sketch gate admits (a gated-off step passes the
    previous step through unchanged), then ``out_col`` and ``scrub_hits``.
    A gated step references the previous step twice (regex input and
    pass-through) and its hit flag references it again, so Catalyst's
    CollapseProject keeps each intermediate a column of its own: every
    regex executes at most ONCE per row.

    Hit flags have SEQUENTIAL semantics: step k's flag is "step k changed
    the text as scrubbed by the prior steps" (``new != cur``),
    byte-identical to the Python kernel's ``rx.sub() != out``.  (A 16-digit
    card also matches the phone pattern in the raw text, but not once the
    card step has replaced it; flagging against the raw text would
    diverge.)  A gated-off step leaves the text unchanged, so its flag is
    false."""
    exprs = [f"regexp_count({text_col}, '[0-9]') AS {_DIGITS}"]
    flags = []
    prev = text_col
    for (rid, pattern, replacement), cur in zip(SCRUB_BANK, _STEPS):
        step = f"regexp_replace({prev}, {lit_sql(pattern)}, {lit_sql(replacement)})"
        if rid in SCRUB_GATES:
            gate = _gate_sql(text_col, *SCRUB_GATES[rid])
            step = f"CASE WHEN {gate} THEN {step} ELSE {prev} END"
        exprs.append(f"{step} AS {cur}")
        flags.append(f"CASE WHEN {cur} != {prev} THEN {lit_sql(rid)} END")
        prev = cur
    return exprs + [
        f"{prev} AS {out_col}",
        f"array_compact(array({', '.join(flags)})) AS scrub_hits",
    ]


def scrub_columns(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed_text"
) -> DataFrame:
    """Add ``out_col`` and ``scrub_hits`` (:func:`scrub_sql`) in one
    projection.  Catalyst prunes the hit flags when nothing selects them."""
    return with_sql_columns(df, scrub_sql(text_col, out_col), TEMPORARIES)
