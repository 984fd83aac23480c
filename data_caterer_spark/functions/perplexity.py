"""Perplexity stage: hashed char-trigram LM through the shared model stage.

KenLM-style deployment shape (BASELINE north_star): the log-prob table is a
flat float64 numpy array inside a ``PerplexityModel``, broadcast once per
session and unpickled once per Python worker by :func:`functions.scoring.model_stage`;
scoring is numpy table lookups over vectorized FNV-1a n-gram hashes — no
per-row Python in Spark's eval loop, batches cross via Arrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scoring import default_ppl, model_stage
from .textcore import PerplexityModel


def with_perplexity(
    df: DataFrame,
    text_col: str = "text",
    model: PerplexityModel | None = None,
) -> DataFrame:
    """Add ``ppl`` (one Arrow round-trip)."""
    return model_stage(
        df,
        text_col,
        {"ppl": "double"},
        (model or default_ppl(),),
        lambda m, texts: (m.score(texts),),
    )


def with_ppl_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    ppl_col: str = "ppl",
    lang_col: str = "lang",
    out_col: str = "ppl_bucket",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style per-language perplexity partitioning (Wenzek et al.
    2020): rank documents within each language by LM perplexity and cut
    into equal-count buckets — bucket 1 = "head" (most fluent), last =
    "tail".  CCNet trains on head+middle and drops/downsamples tail.

    Exact NTILE over a per-language window: one exchange on lang + a
    per-partition sort.  Language counts are zipfian (en-heavy), so at
    100 TB the head language's sort dominates; the production swap-point
    is two passes — approx percentile cutpoints per language (a tiny
    aggregate), then a stateless bucket-by-comparison scan — trading
    exact equal counts for no global sort.  The window form here defines
    the exact semantics the oracle checks; ordering ties break by id so
    both engines cut identically."""
    from pyspark.sql import Window

    w = Window.partitionBy(lang_col).orderBy(F.asc(ppl_col), F.asc(id_col))
    names = {1: "head", n_buckets: "tail"}
    t = F.ntile(n_buckets).over(w)
    label = F.when(t == 1, "head")
    for b in range(2, n_buckets):
        label = label.when(t == b, names.get(b, "middle"))
    label = label.otherwise("tail") if n_buckets > 1 else F.lit("head")
    return df.withColumn(out_col, label)
