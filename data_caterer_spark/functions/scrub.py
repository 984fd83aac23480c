"""PII/toxicity scrub stage: the one Spark implementation of the bank.

:func:`scrub_columns` runs ``textcore.SCRUB_BANK`` (total order) as a
staged chain of JVM ``regexp_replace`` calls — pure Catalyst, whole-stage
codegen, zero Python.  The pure-Python ``textcore.scrub_text`` (used by
the reference labeler) is the independent reference it is checked
against.

Byte-equality with the reference labeler holds because all patterns live
in the common Java/Python regex subset — pinned by tests/test_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textcore import SCRUB_BANK


def scrub_columns(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed_text",
    hits_col: str | None = "scrub_hits",
) -> DataFrame:
    """Staged scrub: each bank step is its own column referencing the
    previous step, so every regex executes exactly ONCE per row (each
    intermediate is referenced twice — by the next step and by its hit
    flag — which keeps Catalyst's CollapseProject from inlining it).
    With ``hits_col=None`` there are no flags, each intermediate is
    referenced once, and Catalyst collapses the chain into one nested
    ``regexp_replace`` expression.

    Hit flags have SEQUENTIAL semantics: step k's flag is "step k changed
    the text as scrubbed by the prior steps" (``new != cur``),
    byte-identical to the Python kernel's ``rx.sub() != out``.  (A 16-digit
    card also matches the phone pattern in the raw text, but not once the
    card step has replaced it; flagging against the raw text would
    diverge.)"""
    steps = []
    prev = text_col
    for i, (rid, pattern, replacement) in enumerate(SCRUB_BANK):
        cur = f"__scrub_{i}"
        df = df.withColumn(
            cur, F.regexp_replace(F.col(prev), pattern, replacement)
        )
        steps.append((rid, prev, cur))
        prev = cur
    out = {out_col: F.col(prev)}
    if hits_col:
        flags = [
            F.when(F.col(cur) != F.col(prev), F.lit(rid))
            for rid, prev, cur in steps
        ]
        out[hits_col] = F.array_compact(F.array(*flags))
    return df.withColumns(out).drop(*[cur for _, _, cur in steps])
