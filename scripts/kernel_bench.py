"""Time the batch text kernels without Spark.

Prints µs/row for ``LangIdModel.predict``, ``LangIdModel.predict_margin``,
``PerplexityModel.score``, ``turn_features`` and the pipeline's fused
``turn_scores`` on a fixed transcript sample (the best of five runs each),
after asserting that every batch output is bit-identical to the per-row
kernels: ``predict_one`` / ``predict_margin_one`` / ``score_one``, and
``token_count`` / ``word_repetition_ratio`` / ``symbol_ratio`` /
``has_char_run`` for the text features.

Run: ``python scripts/kernel_bench.py``
"""

from __future__ import annotations

import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_caterer_spark.fixtures import generate_transcripts  # noqa: E402
from data_caterer_spark.functions import textcore as tc  # noqa: E402
from data_caterer_spark.functions.textcore import (  # noqa: E402
    LangIdModel,
    PerplexityModel,
)

N_CONVS, SEED, REPEATS = 2000, 901, 5
RUN = 10  # QualityFilterConfig.char_run's default


def bits(value):
    """A row's output as comparable bytes: floats by their IEEE-754 bits."""
    if isinstance(value, tuple):
        return tuple(bits(v) for v in value)
    return struct.pack("<d", value) if isinstance(value, float) else value


def features_one(text):
    """The per-row text features of one turn; NULL for NULL."""
    if text is None:
        return (None,) * 4
    return (
        tc.token_count(text),
        tc.word_repetition_ratio(text),
        tc.symbol_ratio(text),
        tc.has_char_run(text, RUN),
    )


def main() -> None:
    texts = [r["text"] for r in generate_transcripts(N_CONVS, seed=SEED)]
    lm, pm = LangIdModel.train(), PerplexityModel.train()
    kernels = {
        "predict": (lambda: list(zip(*lm.predict(texts))), lm.predict_one),
        "predict_margin": (
            lambda: list(zip(*lm.predict_margin(texts))),
            lm.predict_margin_one,
        ),
        "score": (lambda: pm.score(texts), pm.score_one),
        "turn_features": (
            lambda: list(zip(*tc.turn_features(texts, RUN))),
            features_one,
        ),
        "turn_scores": (
            lambda: list(zip(*tc.turn_scores(lm, pm, texts, RUN))),
            lambda t: (*features_one(t), *lm.predict_one(t), pm.score_one(t)),
        ),
    }
    print(f"{len(texts)} rows, n_convs={N_CONVS}, seed={SEED}")
    for name, (batch, one) in kernels.items():
        got = batch()
        assert [bits(v) for v in got] == [bits(one(t)) for t in texts], name
        best = float("inf")
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            batch()
            best = min(best, time.perf_counter() - t0)
        print(f"{name:15s} {best / len(texts) * 1e6:7.2f} us/row  (bit-identical)")


if __name__ == "__main__":
    main()
