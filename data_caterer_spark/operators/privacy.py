"""Privacy-risk validation: k-anonymity and l-diversity over
quasi-identifier combinations.

The graft's scrub pass removes DIRECT identifiers (emails, phones, card
numbers — ``functions/scrub.py``); re-identification risk then lives in
the quasi-identifiers: a (nation, segment, birth-year)-style combination
shared by too FEW rows singles those rows out.  Sweeney's k-anonymity
(a table is k-anonymous if every quasi-identifier combination covers >=
k rows) and Machanavajjhala's l-diversity (each combination must also
span >= l distinct sensitive values) are the standard release gates, and
they slot naturally beside the reference's groupBy validation rules
(``GroupByValidation``, api ValidationConfiguration.scala) — the same
single-pass aggregate kernel, a different predicate.

Distributed shape: ONE combinable groupBy over the quasi columns;
l-diversity pre-dedups (quasi, sensitive) before counting so the shuffle
never runs a two-phase count-distinct.  Both return the VIOLATING
combinations (bounded by the group count, not the row count) — at
10^12 rows the result is the small side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_violations(
    df: DataFrame, quasi_cols: Sequence[str], k: int
) -> DataFrame:
    """Quasi-identifier combinations covering FEWER than ``k`` rows
    (the re-identifiable groups), with their sizes.  Deterministic
    order-ready: callers sort by (group_size, *quasi_cols)."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") < k)
    )


def l_diversity_violations(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l_threshold: int,
) -> DataFrame:
    """Quasi-identifier combinations whose rows span FEWER than
    ``l_threshold`` distinct sensitive values (attribute-disclosure
    groups: everyone in the group shares the sensitive attribute).

    ``dropDuplicates`` on (quasi, sensitive) first — the follow-up
    count is then a plain combinable aggregate (both stages hash on the
    same leading keys), not a count-distinct expansion.  NULL sensitive
    values are excluded BEFORE the dedup: ``dropDuplicates`` would keep
    NULL as a distinct value where SQL ``count(DISTINCT ...)`` (and
    :func:`anonymity_summary`) excludes it — a NULL is an absent
    attribute, not diversity, and the two gate surfaces must agree."""
    return (
        df.select(*quasi_cols, sensitive_col)
        .where(F.col(sensitive_col).isNotNull())
        .dropDuplicates([*quasi_cols, sensitive_col])
        .groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("distinct_sensitive"))
        .where(F.col("distinct_sensitive") < l_threshold)
    )


def anonymity_summary(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
) -> DataFrame:
    """One row: the table's actual k (min group size) and l (min
    distinct sensitive values per group) — the release-gate headline
    numbers.  Two aggregates over one shuffled grouping."""
    per_group = (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.col(sensitive_col)).alias("__l"),
        )
    )
    return per_group.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("__n").alias("k_anonymity"),
        F.min("__l").alias("l_diversity"),
    )


#: the scrub bank's PII rule ids (textcore.SCRUB_BANK order)
PII_KINDS = ["pii_email", "pii_card", "pii_ssn", "pii_phone", "pii_ip"]


def pii_provenance(
    df: DataFrame,
    kinds: Sequence[str] = tuple(PII_KINDS),
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Per-(conversation, PII kind) provenance profile: which turn
    introduced the PII, who said it first, how many turns carry it, and
    whether an ASSISTANT turn repeats it after a USER turn introduced it
    — the leak-propagation signal a transcript release gate needs (an
    assistant echoing a user's SSN is a worse leak than the user's own
    mention, because scrubbing inputs alone won't remove it).

    Kind flags come from the staged scrub chain (functions/scrub.py —
    SEQUENTIAL hit semantics, byte-equal to the reference labeler), so
    this profile is consistent with what the scrub pass will actually
    redact.  Plan: one projection for the flags, one explode of the
    per-turn kind hits (<= 5 rows per PII turn, ~0 for clean turns), ONE
    combinable groupBy on (conv, kind) — no window, no join; the echo
    test folds into the aggregate as max(assistant idx) > min(user idx),
    which is exactly "some assistant mention follows the first user
    mention"."""
    from ..functions.scrub import scrub_columns

    flagged = scrub_columns(df, text_col=text_col, out_col="__sc")
    g = flagged.select(
        F.col(conv_col),
        F.col(idx_col),
        F.col(role_col),
        F.explode(
            F.array_intersect("scrub_hits", F.lit(list(kinds)))
        ).alias("kind"),
    )
    first = F.min(F.struct(F.col(idx_col), F.col(role_col)))
    first_user = F.min(
        F.when(F.col(role_col) == "user", F.col(idx_col))
    )
    last_assistant = F.max(
        F.when(F.col(role_col) == "assistant", F.col(idx_col))
    )
    return (
        g.groupBy(conv_col, "kind")
        .agg(
            first.alias("__f"),
            F.count(F.lit(1)).alias("n_turns"),
            first_user.alias("__fu"),
            last_assistant.alias("__la"),
        )
        .select(
            conv_col,
            "kind",
            F.col(f"__f.{idx_col}").alias("first_turn_idx"),
            F.col(f"__f.{role_col}").alias("first_role"),
            F.col("n_turns").cast("int").alias("n_turns"),
            F.coalesce(
                F.col("__la") > F.col("__fu"), F.lit(False)
            ).alias("echoed_by_assistant"),
        )
    )
