"""The quality-filter pipeline: one ordered plan written as Spark SQL text,
applied like the reference applies its validations, with ``selectExpr``
(``ValidationOperations.scala:13``) —

    n_chars (N_CHARS_SQL)  → conv_id window (TURN_ORDER_SQL)
    → text features + langid + perplexity (one pandas UDF, broadcast
      models: functions/scoring.py::with_turn_scores)
    → labels (with_labels: rule bank, gated scrub chain, rule_hits, keep)
    → one drop of the stage temporaries

The map side of the one exchange is the scan and ``length(text)``.  The
token, repetition, symbol and run features are computed in the Arrow
stage, in the same per-batch kernel as the model scores
(``textcore.turn_scores``), which lowers and encodes each turn once for
all of them.  The label stage is one select-list whose intermediates
(``heur_hits``, ``__scrub_digits``, ``__scrub_i``) are lateral column
aliases, so a build is a few DataFrame calls, not a py4j round trip per
Column operation.  Arrow crosses the JVM↔Python fence exactly ONCE;
everything else stays inside whole-stage codegen.  Rule ids, thresholds,
and evaluation order are the single source of truth shared with the
pure-Python reference labeler (``data_caterer_spark.labeler``), which
replays the same rules row-by-row with the same kernels — the
byte-equality / F1 criterion compares the two.

Reference lineage: each heuristic rule is a data-caterer validation-DSL
predicate (cited per rule below, ``ValidationBuilder.scala``); the
keep/drop reframing is SURVEY.md §2.2.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..functions import scrub
from ..functions.scoring import with_turn_scores
from ..functions.textcore import SCRUB_BANK
from ..operators.rules import RuleSet, expr_rule, lit_sql, with_sql_columns
from ..operators.windows import TURN_ORDER_SQL

TOXICITY_RULE_ID = "toxicity"
#: the flag-only rules that read the previous turn (``prev_*`` window
#: columns); the stateless streaming filter runs the bank without them
CROSS_TURN_RULE_IDS = ("role_alternation", "turn_contiguous", "ts_monotone")
#: the one feature the JVM computes: the map side of the exchange holds
#: only the scan and this length
N_CHARS_SQL = "length(text) AS n_chars"


@dataclass(frozen=True)
class QualityFilterConfig:
    """All thresholds in one place; shared by pipeline and labeler."""

    min_chars: int = 1
    max_chars: int = 8000
    min_tokens: int = 1
    max_rep_ratio: float = 0.6
    max_symbol_ratio: float = 0.3
    char_run: int = 10
    allowed_roles: tuple[str, ...] = ("assistant", "system", "tool", "user")
    keep_langs: tuple[str, ...] = ("en",)
    max_ppl: float = 5000.0


class QualityFilterPipeline:
    def __init__(self, config: QualityFilterConfig | None = None):
        self.config = config or QualityFilterConfig()

    # ------------------------------------------------------------------
    def with_features(self, df: DataFrame) -> DataFrame:
        """Every column the rule bank reads.  Around the one exchange, the
        JVM adds ``n_chars`` before it and the ``conv_id`` window features
        after it; then one Arrow stage adds the other text features and
        the model scores (:meth:`with_scores`).  The shuffle rows carry
        the input and one length, and no token array is built in the
        JVM."""
        # one projection: the analyzer computes n_chars below the Window
        df = with_sql_columns(df, [N_CHARS_SQL, *TURN_ORDER_SQL])
        return self.with_scores(df)

    def with_scores(self, df: DataFrame) -> DataFrame:
        """``n_tokens``, ``rep_ratio``, ``symbol_ratio``, ``has_char_run``,
        ``lang``, ``lang_score`` and ``ppl`` in one Arrow crossing
        (``functions/scoring.py::with_turn_scores``)."""
        return with_turn_scores(df, self.config.char_run)

    # ------------------------------------------------------------------
    def heuristic_rules(self) -> RuleSet:
        """The data-caterer-derived rule bank over feature columns.

        severity 'drop' rules decide keep; 'flag' rules only record hits.
        NULL evaluation is never a hit (WHERE semantics, rules.py).
        """
        c = self.config
        roles = ", ".join(f"'{r}'" for r in c.allowed_roles)
        langs = ", ".join(f"'{l}'" for l in c.keep_langs)
        return RuleSet(
            [
                # isNotNull (ValidationBuilder.scala:216-222)
                expr_rule("text_non_null", "ISNOTNULL(text)"),
                # length between (size rules :312-334 applied to strings)
                expr_rule(
                    "len_in_range",
                    f"n_chars BETWEEN {c.min_chars} AND {c.max_chars}",
                ),
                expr_rule("min_tokens", f"n_tokens >= {c.min_tokens}"),
                # between (:264-278) on derived ratios
                expr_rule("rep_ratio_max", f"rep_ratio <= {c.max_rep_ratio}"),
                expr_rule(
                    "symbol_ratio_max", f"symbol_ratio <= {c.max_symbol_ratio}"
                ),
                # notMatches (:288-294) — repeated-char runs
                expr_rule("no_char_run", "!(has_char_run)"),
                # in (:280-286)
                expr_rule("role_valid", f"ISNOTNULL(role) AND role IN ({roles})"),
                # isEqualCol-style consistency (:200-206)
                expr_rule(
                    "tool_consistent", "(role == 'tool') == ISNOTNULL(tool)"
                ),
                expr_rule("lang_keep", f"lang IN ({langs})"),
                expr_rule("ppl_max", f"ppl <= {c.max_ppl}"),
                # cross-turn rules (flag-only): new-build windows, SURVEY §2.5
                expr_rule(
                    "role_alternation",
                    "!(role == prev_role AND role IN ('user', 'assistant'))",
                ).flag_only(),
                expr_rule(
                    "turn_contiguous",
                    "(ISNULL(prev_turn_idx) AND turn_idx == 0) "
                    "OR turn_idx == prev_turn_idx + 1",
                ).flag_only(),
                expr_rule(
                    "ts_monotone", "ISNULL(prev_ts) OR ts >= prev_ts"
                ).flag_only(),
            ]
        )

    def rule_ids(self) -> list[str]:
        """Every id :meth:`run` can emit into ``rule_hits``: the heuristic
        bank's, then the scrub bank's (the ``rule_ids`` a
        ``ResumableRunner`` over this plan declares)."""
        return [r.rule_id for r in self.heuristic_rules()] + [
            rid for rid, _pattern, _rep in SCRUB_BANK
        ]

    # ------------------------------------------------------------------
    def run(self, df: DataFrame) -> DataFrame:
        """Full pipeline.  Adds: feature cols, prev_* window cols, lang,
        lang_score, ppl, scrubbed_text, scrub_hits, rule_hits, keep."""
        return self.with_labels(self.with_features(df), self.heuristic_rules())

    # ------------------------------------------------------------------
    def with_labels(self, df: DataFrame, rules: RuleSet) -> DataFrame:
        """The label stage shared by batch and stream — heuristic hits, the
        scrub, ``rule_hits`` (heuristic bank order, then scrub bank order)
        and ``keep`` (no drop-rule hit and no toxicity hit) — then one drop
        of every stage temporary.  Needs the feature and model columns."""
        toxic = f"array_contains(scrub_hits, {lit_sql(TOXICITY_RULE_ID)})"
        labels = [
            f"{rules.hits_sql()} AS heur_hits",
            *scrub.scrub_sql(),
            "concat(heur_hits, scrub_hits) AS rule_hits",
            f"{rules.keep_sql('heur_hits')} AND NOT {toxic} AS keep",
        ]
        temporaries = ("heur_hits", *scrub.TEMPORARIES)
        return with_sql_columns(df, labels, temporaries)
