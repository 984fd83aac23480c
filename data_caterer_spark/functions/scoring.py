"""The model stage: every row-wise Python kernel crosses into Python here.

:func:`model_stage` is the one broadcast-model iterator pandas UDF in the
package.  It broadcasts each model OBJECT once per SparkContext and
reuses that broadcast in every later plan (a PySpark worker caches
``Broadcast.value`` across the tasks it runs, so each model is unpickled
once per Python worker per session), builds the UDF over them once too
(a later plan only applies it), maps NULL inputs to ``None``, runs a
per-batch kernel, and unpacks the kernel's columns into named output
columns.  It holds no model: when a model dies, its broadcast and UDFs
are dropped, so a per-call model is not pinned for the session.

Its callers, one call each, pass their model objects (none for a
model-free kernel) and a kernel; the Spark plumbing is shared:

* text models — ``with_language`` / ``with_language_margin``
  (functions/langid.py), ``with_perplexity`` (functions/perplexity.py),
  :func:`with_model_scores` and :func:`with_turn_scores`;
* the quality classifier — ``score_keyed`` (functions/classifier.py),
  behind ``infer`` and the streaming classifier scores;
* vector models, over ``array<double>`` (a NULL vector scores as all
  zeros) — ``with_lsh_buckets`` (hyperplanes), ``with_ivf_list``
  (centroids), ``with_pq_codes`` (codebooks), ``pq_adc_topk`` (the
  query's lookup table; operators/similarity.py) and
  ``with_cluster_dist`` (centroids; operators/selection.py);
* the BPE tokenizer — ``with_bpe_tokens`` (the merge ranks;
  functions/bpe.py);
* model-free text kernels — ``with_minhash_signature`` and
  ``with_simhash`` (operators/dedup.py), ``with_compression_ratio``'s
  DEFLATE length (functions/docs.py) and the classifier's ``featurize``
  (functions/classifier.py).

Swapping in a real fastText / KenLM model means passing a different
model object and kernel.

:func:`with_model_scores` fuses langid + perplexity into ONE Arrow
crossing.  On short transcript turns the per-row kernel work is small
(batched numpy, functions/textcore.py), so the crossing IS the stage
cost — fusing halves the Arrow serialization, the pandas Series
construction, and the Python-worker scheduling.  Outputs are
byte-identical to running the single-model stages separately (same
models, same kernels, same batch shapes).  :func:`with_turn_scores`, the
quality-filter pipeline's stage, adds the four heuristic text features to
the same crossing: they are computed from the text the stage receives
anyway, from the lowered bytes the model payloads are built from.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport
from functools import cache, partial
from typing import Any, Callable, Iterator, Sequence

import pandas as pd
from pyspark import Broadcast, SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf

from .textcore import LangIdModel, PerplexityModel, turn_scores


@cache
def default_langid() -> LangIdModel:
    return LangIdModel.train()


@cache
def default_ppl() -> PerplexityModel:
    return PerplexityModel.train()


# The live SparkContext and what model_stage built on it: the broadcast of
# each model object, keyed by id(model), and the last (kernel, UDF) of each
# (model ids, fields).  Nothing here holds a model: a finalizer drops a
# model's entries when it dies, so a per-call model (centroids, a lookup
# table, a trained classifier) is not pinned for the life of the context
# and a later object with the same id never finds them.  PySpark runs one
# SparkContext per process, so a new one replaces the lot.
_built: tuple[SparkContext | None, dict[Any, Any]] = (None, {})


def _held(sc: SparkContext) -> dict[Any, Any]:
    global _built
    if _built[0] is not sc:
        _built = (sc, {})
    return _built[1]


def _forget(model_id: int) -> None:
    held = _built[1]
    for key in list(held):
        if key == model_id or (isinstance(key, tuple) and model_id in key[0]):
            held.pop(key, None)


def _broadcast(sc: SparkContext, model: Any) -> Broadcast:
    """The one broadcast of ``model`` on ``sc``.  A model object must not
    be mutated after its first ``model_stage``: later plans reuse the
    broadcast value."""
    held = _held(sc)
    if id(model) not in held:
        weakref.finalize(model, _forget, id(model))
        held[id(model)] = sc.broadcast(model)
    return held[id(model)]


def _stat_gated_zip_invalidation() -> None:
    """Make ``importlib.invalidate_caches()`` cheap in this Python worker.

    PySpark's ``worker_util.setup_spark_files`` calls it on every task.
    Before CPython 3.13 every ``zipimporter`` in the path importer cache
    then re-reads its archive's whole directory: about 0.25 s per task for
    the importers on ``pyspark.zip`` and the Spark core jar.  The
    replacement re-reads an archive only when its ``(st_mtime_ns,
    st_size)`` differs from that importer's last read.  Installed once;
    CPython 3.13+ re-reads lazily and is left alone."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "stat_gated", False):
        return

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        try:
            st = os.stat(self.archive)
            stamp: tuple[int, int] | None = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or self.__dict__.get("_read_stamp") != stamp:
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def model_stage(
    df: DataFrame,
    col: str | Column,
    fields: dict[str, str],
    models: Sequence[Any],
    kernel: Callable[..., Sequence[Any]],
) -> DataFrame:
    """Add ``fields`` (output name -> Spark SQL type) computed over Arrow
    batches of ``col`` (a column name or a ``Column``): ``kernel(*models,
    values)`` returns one sequence per field, in field order, with NULL
    values passed as ``None``.  Each model must accept a weak reference.
    A later call with the same models, fields and ``kernel`` object
    reuses the UDF instead of pickling a new one."""
    sc = df.sparkSession.sparkContext
    held = _held(sc)
    key = (tuple(map(id, models)), tuple(fields.items()))
    if held.get(key, (None,))[0] is not kernel:
        held[key] = (kernel, _stage_udf(sc, fields, models, kernel))
    scores = held[key][1](col)
    return df.withColumns({n: scores[n] for n in fields})


def _stage_udf(
    sc: SparkContext,
    fields: dict[str, str],
    models: Sequence[Any],
    kernel: Callable[..., Sequence[Any]],
) -> Callable[[str | Column], Column]:
    bcs = [_broadcast(sc, m) for m in models]
    names = list(fields)

    @pandas_udf(", ".join(f"{n} {t}" for n, t in fields.items()))
    def _stage(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        _stat_gated_zip_invalidation()  # for this worker's next tasks
        local = [bc.value for bc in bcs]  # unpickled once per Python worker
        for series in batches:
            values = series.where(series.notna(), None).tolist()
            yield pd.DataFrame(dict(zip(names, kernel(*local, values))))

    return _stage


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
        _langid_and_ppl,
    )


def _langid_and_ppl(lm: LangIdModel, pm: PerplexityModel, texts: list) -> tuple:
    return (*lm.predict(texts), pm.score(texts))


#: the fused stage's outputs: the heuristic text features, then the scores
TURN_SCORE_FIELDS = {
    "n_tokens": "int",
    "rep_ratio": "double",
    "symbol_ratio": "double",
    "has_char_run": "boolean",
    "lang": "string",
    "lang_score": "double",
    "ppl": "double",
}


def with_turn_scores(
    df: DataFrame,
    char_run: int = 10,
    langid_model: LangIdModel | None = None,
    ppl_model: PerplexityModel | None = None,
) -> DataFrame:
    """Add the four heuristic text features of ``text`` (``char_run`` is
    the run length ``has_char_run`` tests for) and ``lang``,
    ``lang_score``, ``ppl``, all in one Arrow round trip:
    ``textcore.turn_scores`` lowers and encodes each text once for all
    seven."""
    return model_stage(
        df,
        "text",
        TURN_SCORE_FIELDS,
        (langid_model or default_langid(), ppl_model or default_ppl()),
        _turn_kernel(char_run),
    )


@cache
def _turn_kernel(run: int) -> Callable[..., Sequence[list]]:
    """One kernel object per run length, so a rebuilt plan reuses its UDF."""
    return partial(turn_scores, run=run)
