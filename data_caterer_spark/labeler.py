"""Single-threaded pure-Python reference labeler.

Produces the golden per-turn ``keep`` / ``rule_hits`` / ``scrubbed_text``
the Spark pipeline is graded against (BASELINE.json: F1 ≥ 0.99 +
byte-equal scrubbed text; FIXTURES.md §1 "produced by a single-threaded
Python reference labeler sharing the same rule/scrub definitions").

It replays ``plans/pipeline.py``'s rule bank row-by-row with explicit
three-valued (Kleene) logic so NULL handling matches Spark SQL exactly:
a rule is a *hit* iff it evaluates to exactly False (WHERE semantics,
``ValidationOperations.scala:13``).  Text kernels (tokens, ratios, langid,
perplexity, scrub) are the very same functions the UDFs call
(``functions/textcore.py``), so float and byte equality hold by
construction.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterable, Optional

from .functions import textcore as tc
from .plans.pipeline import TOXICITY_RULE_ID, QualityFilterConfig

Tri = Optional[bool]


def k_and(a: Tri, b: Tri) -> Tri:
    if a is False or b is False:
        return False
    if a is None or b is None:
        return None
    return True


def k_or(a: Tri, b: Tri) -> Tri:
    if a is True or b is True:
        return True
    if a is None or b is None:
        return None
    return False


def k_not(a: Tri) -> Tri:
    return None if a is None else (not a)


def k_cmp(a: Any, b: Any, op) -> Tri:
    if a is None or b is None:
        return None
    return op(a, b)


@dataclass
class LabeledTurn:
    conv_id: str
    turn_idx: int
    keep: bool
    rule_hits: list[str]
    scrubbed_text: str | None


class ReferenceLabeler:
    def __init__(self, config: QualityFilterConfig | None = None):
        self.config = config or QualityFilterConfig()
        self.langid = tc.LangIdModel.train()
        self.ppl = tc.PerplexityModel.train()

    # ------------------------------------------------------------------
    def _heuristic_rules(self, row: dict, prev: dict | None) -> list[tuple[str, Tri, bool]]:
        """(rule_id, tri-valued outcome, is_drop) in pipeline bank order."""
        c = self.config
        text = row.get("text")
        role = row.get("role")
        tool = row.get("tool")
        ts = row.get("ts")
        turn_idx = row.get("turn_idx")
        prev_role = prev.get("role") if prev else None
        prev_idx = prev.get("turn_idx") if prev else None
        prev_ts = prev.get("ts") if prev else None

        if text is None:
            n_chars = n_tokens = rep = sym = has_run = None
        else:
            n_chars = len(text)
            n_tokens = tc.token_count(text)
            rep = tc.word_repetition_ratio(text)
            sym = tc.symbol_ratio(text)
            has_run = tc.has_char_run(text, c.char_run)
        lang, _score = self.langid.predict_one(text)
        ppl = self.ppl.score_one(text)

        role_in = None if role is None else role in c.allowed_roles
        ua = None if role is None else role in ("user", "assistant")
        return [
            ("text_non_null", text is not None, True),
            (
                "len_in_range",
                None if n_chars is None else c.min_chars <= n_chars <= c.max_chars,
                True,
            ),
            ("min_tokens", None if n_tokens is None else n_tokens >= c.min_tokens, True),
            ("rep_ratio_max", None if rep is None else rep <= c.max_rep_ratio, True),
            (
                "symbol_ratio_max",
                None if sym is None else sym <= c.max_symbol_ratio,
                True,
            ),
            ("no_char_run", k_not(has_run), True),
            ("role_valid", k_and(role is not None, role_in), True),
            (
                "tool_consistent",
                None if role is None else (role == "tool") == (tool is not None),
                True,
            ),
            ("lang_keep", lang in c.keep_langs, True),
            ("ppl_max", ppl <= c.max_ppl, True),
            (
                "role_alternation",
                k_not(k_and(k_cmp(role, prev_role, lambda a, b: a == b), ua)),
                False,
            ),
            (
                "turn_contiguous",
                k_or(
                    k_and(prev_idx is None, k_cmp(turn_idx, 0, lambda a, b: a == b)),
                    k_cmp(turn_idx, None if prev_idx is None else prev_idx + 1,
                          lambda a, b: a == b),
                ),
                False,
            ),
            (
                "ts_monotone",
                k_or(prev_ts is None, k_cmp(ts, prev_ts, lambda a, b: a >= b)),
                False,
            ),
        ]

    # ------------------------------------------------------------------
    def label_turn(self, row: dict, prev: dict | None) -> LabeledTurn:
        outcomes = self._heuristic_rules(row, prev)
        hits = [rid for rid, v, _d in outcomes if v is False]
        drop = any(v is False for _rid, v, d in outcomes if d)
        scrubbed, scrub_hits = tc.scrub_text(row.get("text"))
        if TOXICITY_RULE_ID in scrub_hits:
            drop = True
        return LabeledTurn(
            conv_id=row["conv_id"],
            turn_idx=row["turn_idx"],
            keep=not drop,
            rule_hits=hits + scrub_hits,
            scrubbed_text=scrubbed,
        )

    def label_rows(self, rows: Iterable[dict]) -> list[LabeledTurn]:
        """Rows may arrive in any order; grouped by conv_id and ordered by
        turn_idx here (the pipeline's window does the same)."""
        by_conv: dict[str, list[dict]] = {}
        for r in rows:
            by_conv.setdefault(r["conv_id"], []).append(r)
        out: list[LabeledTurn] = []
        for conv_id in sorted(by_conv):
            turns = sorted(by_conv[conv_id], key=lambda r: r["turn_idx"])
            prev = None
            for row in turns:
                out.append(self.label_turn(row, prev))
                prev = row
        return out
