"""The shared model stage (functions/scoring.py) with non-default models.

Every public model stage must score each row exactly as the model's
per-row method does — with a custom model, not just the default one —
map NULL and empty text the same way, and leave no temporary struct
column behind."""

from __future__ import annotations

import pytest

from data_caterer_spark.functions.langid import (
    with_language,
    with_language_margin,
)
from data_caterer_spark.functions.perplexity import with_perplexity
from data_caterer_spark.functions.scoring import with_model_scores
from data_caterer_spark.functions.textcore import LangIdModel, PerplexityModel

LM = LangIdModel.train(
    {
        "aa": "the quick brown fox jumps over the lazy dog " * 20,
        "bb": "zyx wvut srqp onml kjih gfed cba zyx wvut " * 20,
        "cc": "lorem ipsum dolor sit amet consectetur adipiscing " * 20,
    }
)
PM = PerplexityModel.train("lorem ipsum dolor sit amet consectetur adipiscing " * 20)

TEXTS = [
    None,
    "",
    "the quick brown fox jumps over the lazy dog",
    "zyx wvut srqp onml kjih",
    "lorem ipsum dolor sit amet",
    "ok",
    "mixed: the lazy dog dolor sit amet",
]

# stage name -> (stage call, expected output columns for one text)
STAGES = {
    "with_language": (
        lambda df: with_language(df, model=LM),
        lambda t: dict(zip(("lang", "lang_score"), LM.predict_one(t))),
    ),
    "with_language_margin": (
        lambda df: with_language_margin(df, model=LM),
        lambda t: dict(zip(("lang_pred", "lang_margin"), LM.predict_margin_one(t))),
    ),
    "with_perplexity": (
        lambda df: with_perplexity(df, model=PM),
        lambda t: {"ppl": PM.score_one(t)},
    ),
    "with_model_scores": (
        lambda df: with_model_scores(df, langid_model=LM, ppl_model=PM),
        lambda t: {
            **dict(zip(("lang", "lang_score"), LM.predict_one(t))),
            "ppl": PM.score_one(t),
        },
    ),
}


@pytest.mark.parametrize("name", sorted(STAGES))
def test_model_stage_matches_per_row_kernel(spark, name):
    stage, expected = STAGES[name]
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
    out = stage(df)
    fields = list(expected("x"))
    assert out.columns == ["id", "text", *fields]
    got = {r["id"]: r.asDict() for r in out.collect()}
    assert len(got) == len(TEXTS)
    for i, t in enumerate(TEXTS):
        row = got[i]
        assert {f: row[f] for f in fields} == expected(t), (name, t)
