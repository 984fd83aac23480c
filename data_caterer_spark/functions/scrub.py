"""PII/toxicity scrub stage: the one Spark implementation of the bank.

:func:`scrub_columns` runs ``textcore.SCRUB_BANK`` (total order) as a
staged chain of JVM ``regexp_replace`` calls — pure Catalyst, whole-stage
codegen, zero Python.  The pure-Python ``textcore.scrub_text`` (used by
the reference labeler) is the independent reference it is checked
against.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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


def _gate(text: Column, digits: Column, needs_at: bool, min_digits: int) -> Column:
    """A ``SCRUB_GATES`` entry as a condition on the raw text's sketch."""
    if not needs_at:
        return digits >= min_digits
    has_at = F.instr(text, "@") > 0
    return has_at if min_digits == 0 else has_at & (digits >= min_digits)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def scrub_columns(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed_text",
    hits_col: str | None = "scrub_hits",
) -> DataFrame:
    """Staged scrub: each bank step is its own column referencing the
    previous step, and runs its regex only on rows its sketch gate admits
    (a gated-off step passes the previous step through unchanged).  A
    gated step references the previous step twice (regex input and
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
    # Column objects are reused: each new one is a JVM round trip, and the
    # chain is rebuilt on every pipeline run
    text = F.col(text_col)
    df = df.withColumn(_DIGITS, F.regexp_count(text, F.lit("[0-9]")))
    digits = F.col(_DIGITS)
    steps = []
    prev_name, prev = text_col, text
    for i, (rid, pattern, replacement) in enumerate(SCRUB_BANK):
        cur = f"__scrub_{i}"
        step = F.regexp_replace(prev, pattern, replacement)
        if rid in SCRUB_GATES:
            gate = _gate(text, digits, *SCRUB_GATES[rid])
            step = F.when(gate, step).otherwise(prev)
        df = df.withColumn(cur, step)
        steps.append((rid, prev_name, cur))
        prev_name, prev = cur, F.col(cur)
    out = {out_col: prev}
    if hits_col:
        # one SQL expression instead of ~20 Column round trips
        flags = ", ".join(
            f"CASE WHEN {_quote(cur)} != {_quote(prev)} THEN '{rid}' END"
            for rid, prev, cur in steps
        )
        out[hits_col] = F.expr(f"array_compact(array({flags}))")
    return df.withColumns(out).drop(_DIGITS, *[cur for _, _, cur in steps])
