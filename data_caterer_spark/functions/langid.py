"""Language-ID stage: the n-gram model through the shared model stage.

Deployment shape per BASELINE north_star: "fastText language-ID via
broadcast model in a pandas/Arrow UDF".  The model object is broadcast
once per session and unpickled once per Python worker by
:func:`functions.scoring.model_stage` (init-once pattern — reference
analog: faker objects shipped to executors,
``BatchDataProcessor.scala:83-99``).

``LangIdModel`` is the n-gram stand-in (fasttext lib not in this image);
swapping in real fastText means passing a model object with the same
``predict`` / ``predict_margin`` batch methods — the Spark plumbing is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .scoring import default_langid, model_stage
from .textcore import LangIdModel


def with_language(
    df: DataFrame,
    text_col: str = "text",
    model: LangIdModel | None = None,
) -> DataFrame:
    """Add ``lang`` + ``lang_score`` columns (one Arrow round-trip)."""
    return model_stage(
        df,
        text_col,
        {"lang": "string", "lang_score": "double"},
        (model or default_langid(),),
        lambda m, texts: m.predict(texts),
    )


def with_language_margin(
    df: DataFrame,
    text_col: str = "text",
    model: LangIdModel | None = None,
) -> DataFrame:
    """Add ``lang_pred`` + ``lang_margin`` (one Arrow round-trip): the
    top1-top2 log-prob margin is the language-ID CONFIDENCE (CCNet gates
    on it — a small margin means mixed/ambiguous text)."""
    return model_stage(
        df,
        text_col,
        {"lang_pred": "string", "lang_margin": "double"},
        (model or default_langid(),),
        lambda m, texts: m.predict_margin(texts),
    )
