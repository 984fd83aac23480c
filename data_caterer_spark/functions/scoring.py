"""The model stage: every text-model score crosses into Python here.

:func:`model_stage` is the one broadcast-model iterator pandas UDF in the
package.  It broadcasts the model OBJECT (a PySpark worker caches
``Broadcast.value`` across the tasks it runs, so each model is unpickled
once per Python worker), maps NULL texts to ``None``, runs a per-batch
kernel, and unpacks the kernel's columns into named output columns.
``with_language`` / ``with_language_margin`` (functions/langid.py),
``with_perplexity`` (functions/perplexity.py) and :func:`with_model_scores`
are one call each into it; swapping in a real fastText / KenLM model means
passing a different model object and kernel, the Spark plumbing is shared.

:func:`with_model_scores` fuses langid + perplexity into ONE Arrow
crossing.  On short transcript turns the per-row kernel work is small
(batched numpy, functions/textcore.py), so the crossing IS the stage
cost — fusing halves the Arrow serialization, the pandas Series
construction, and the Python-worker scheduling.  Outputs are
byte-identical to running the single-model stages separately (same
models, same kernels, same batch shapes).
"""

from __future__ import annotations

from functools import cache
from typing import Any, Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .textcore import LangIdModel, PerplexityModel


@cache
def default_langid() -> LangIdModel:
    return LangIdModel.train()


@cache
def default_ppl() -> PerplexityModel:
    return PerplexityModel.train()


def model_stage(
    df: DataFrame,
    text_col: str,
    fields: dict[str, str],
    model: Any,
    kernel: Callable[[Any, list], Sequence[list]],
) -> DataFrame:
    """Add ``fields`` (output name -> Spark SQL type) computed over Arrow
    batches of ``text_col``: ``kernel(model, texts)`` returns one list
    per field, in field order, with NULL texts passed as ``None``."""
    bc = df.sparkSession.sparkContext.broadcast(model)
    names = list(fields)

    @pandas_udf(", ".join(f"{n} {t}" for n, t in fields.items()))
    def _stage(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        local = bc.value  # unpickled once per Python worker
        for series in batches:
            texts = [None if pd.isna(t) else t for t in series]
            yield pd.DataFrame(dict(zip(names, kernel(local, texts))))

    tmp = "__model"
    df = df.withColumn(tmp, _stage(F.col(text_col)))
    return df.withColumns({n: F.col(f"{tmp}.{n}") for n in names}).drop(tmp)


def with_model_scores(
    df: DataFrame,
    text_col: str = "text",
    langid_model: LangIdModel | None = None,
    ppl_model: PerplexityModel | None = None,
) -> DataFrame:
    """Add ``lang``, ``lang_score``, ``ppl`` in one Arrow round trip."""
    return model_stage(
        df,
        text_col,
        {"lang": "string", "lang_score": "double", "ppl": "double"},
        (langid_model or default_langid(), ppl_model or default_ppl()),
        lambda m, texts: (*m[0].predict(texts), m[1].score(texts)),
    )
