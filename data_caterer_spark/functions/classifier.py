"""fastText-style quality classifier: distributed logistic-regression
TRAINING and inference over hashed n-gram features.

The standard web-corpus quality gate (GPT-3's WebText-vs-crawl filter,
CCNet/RedPajama's Wikipedia-reference classifier, FineWeb-Edu) is a
linear classifier over hashed bag-of-n-gram features, trained on weak
labels and applied to every document.  The reference has no trainer —
its closest surface is per-field rule validation — so this is a
new-build requirement of the training-data brief, built Spark-first:

* **featurize** — one crossing of the text in the shared broadcast-model
  Arrow stage (``functions/scoring.py``): hashed uni+bigram bucket
  counts per document (same md5 bucket kernel as the DSIR path, so the
  feature space is shared with importance weighting);
* **train** — batch gradient descent.  Each iteration broadcasts the
  weight vector and runs ONE ``mapInPandas`` pass emitting int64
  partial gradients per PARTITION, in one of two bit-identical shapes:
  dense (one ``n_features``-long row per partition, driver-summed,
  shuffle-free — the treeAggregate shape, right at small feature
  counts) or sparse (nonzero ``(bucket, sum)`` pairs + ONE combinable
  ``groupBy`` so nothing n_features-dense crosses to the driver — the
  fastText-scale shape, used above ``SPARSE_FEATURES_THRESHOLD``);
* **infer** — the trained model as the model of the shared
  broadcast-model stage (``functions/scoring.py``): one Arrow crossing
  of the text only, pure per-row scoring.

EXACTNESS DISCIPLINE (the package's fixed-point pattern, shared with
DSIR): float addition order varies across partitions, so per-document
gradient scalars are quantized to int64 nano-units INSIDE the shared
row kernel, and everything summed across documents is an integer —
order-independent, hence bit-identical to the sequential golden replay
no matter the partitioning or cluster size.  The driver-side weight
update is plain sequential float64 on those integer sums, so the whole
weight TRAJECTORY is reproducible.

At 10^9+ documents and n_features beyond ~2^20, the dense partial row
(8 B x n_features per partition) stops being free: fastText's default
2^21 buckets x 10^4-10^5 partitions would move 100s of GB to one
process.  ``train`` therefore uses the sparse (bucket, sum) +
combinable-groupBy reduction whenever ``n_features >
SPARSE_FEATURES_THRESHOLD`` — same integer sums, same weight
trajectory, bounded driver traffic.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import cache
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from ..operators.selection import FIXED_SCALE, bucket_of, ngram_strings
from .scoring import model_stage

# ---------------------------------------------------------------------------
# shared pure kernels — the Spark UDFs and the golden replay call THESE
# ---------------------------------------------------------------------------


def featurize_doc(
    text: "str | None", n_features: int, include_bigrams: bool = True
) -> "tuple[list[int], list[int], int]":
    """(sorted bucket ids, parallel counts, total gram count) for one
    document.  Buckets sorted ascending so every later float fold over
    them runs in ONE fixed order everywhere."""
    grams = ngram_strings(text, include_bigrams) if text else []
    counts: dict[int, int] = {}
    for g in grams:
        b = bucket_of(g, n_features)
        counts[b] = counts.get(b, 0) + 1
    buckets = sorted(counts)
    return buckets, [counts[b] for b in buckets], len(grams)


def row_margin(
    buckets: "list[int]",
    counts: "list[int]",
    total: int,
    w: "np.ndarray",
    bias: float,
) -> float:
    """z = bias + (sum_b count_b * w_b) / total — mean-of-embeddings, the
    fastText aggregation.  numpy dot over the SORTED bucket order; both
    sides call this exact function, so the float result is identical."""
    if total <= 0 or len(buckets) == 0:
        return float(bias)
    dot = float(
        np.dot(
            w[np.asarray(buckets, dtype=np.int64)],
            np.asarray(counts, dtype=np.float64),
        )
    )
    return float(bias) + dot / float(total)


def sigmoid(z: float) -> float:
    # the overflow-safe split form (exp of a non-positive arg only)
    if z >= 0:
        return 1.0 / (1.0 + math.exp(-z))
    e = math.exp(z)
    return e / (1.0 + e)


def grad_fixed(z: float, y: int) -> int:
    """round-half-away-from-zero((sigmoid(z) - y) * 1e9) — the per-doc
    gradient scalar as int64 nano-units.  Everything summed across
    documents derives from this integer, so sums commute exactly."""
    g = (sigmoid(z) - float(y)) * FIXED_SCALE
    return int(math.floor(g + 0.5)) if g >= 0 else -int(math.floor(-g + 0.5))


def loss_fixed(z: float, y: int) -> int:
    """Per-doc logistic loss in nano-units (for the metrics sidecar)."""
    # -log(sigmoid(z)) if y==1 else -log(1 - sigmoid(z)), stable form:
    # log1p(exp(-|z|)) plus |z| exactly when the sign disagrees with y
    l = math.log1p(math.exp(-abs(z))) + (
        abs(z) if (z >= 0) != (y == 1) else 0.0
    )
    v = l * FIXED_SCALE
    return int(math.floor(v + 0.5))


@dataclass
class QualityClassifier:
    """Trained model: weights (len n_features), bias, and the config
    needed to featurize identically at inference time."""

    weights: "np.ndarray"
    bias: float
    n_features: int
    include_bigrams: bool = True
    loss_history_fixed: "tuple[int, ...]" = ()


def _train_sums(
    rows: "Iterator[tuple]",
    w: "np.ndarray",
    bias: float,
    n_features: int,
) -> "tuple[np.ndarray, int, int, int]":
    """Accumulate one partial over (buckets, counts, total, y) rows:
    (dense int64 grad, bias grad, loss, n_docs).  Shared verbatim by the
    per-partition Spark pass and the sequential replay."""
    grad = np.zeros(n_features, dtype=np.int64)
    bias_g = 0
    loss = 0
    n = 0
    for buckets, counts, total, y in rows:
        z = row_margin(buckets, counts, total, w, bias)
        gf = grad_fixed(z, y)
        if len(buckets) > 0 and total > 0:
            b = np.asarray(buckets, dtype=np.int64)
            c = np.asarray(counts, dtype=np.int64)
            # integer per-bucket contribution: gf * count / total in
            # nano-units, quantized per (doc, bucket) with one fixed rule
            contrib = gf * c
            # exact integer division is NOT safe here (remainders), so
            # keep the whole contribution integral by folding 1/total
            # into the DRIVER-side float update instead would lose the
            # per-doc scaling; quantize per bucket half-away-from-zero:
            q = np.floor_divide(np.abs(contrib) * 2 + total, 2 * total)
            grad[b] += np.sign(contrib) * q
        bias_g += gf
        loss += loss_fixed(z, y)
        n += 1
    return grad, bias_g, loss, n


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

@cache
def _featurize_kernel(n_features: int, include_bigrams: bool) -> Callable:
    """One kernel object per feature space, so a rebuilt plan reuses its UDF."""

    def kernel(texts: list) -> tuple[list, list, list]:
        feats = [featurize_doc(t, n_features, include_bigrams) for t in texts]
        return [f[0] for f in feats], [f[1] for f in feats], [f[2] for f in feats]

    return kernel


def featurize(
    df: DataFrame,
    label: Column,
    n_features: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_bigrams: bool = True,
) -> DataFrame:
    """(doc_id, y, buckets, counts, total): only the text crosses into
    Python, in the shared Arrow stage; the id and the label (NULL -> 0)
    stay in the JVM."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(label.cast("int"), F.lit(0)).alias("y"),
        F.col(text_col).alias("__text"),
    )
    return model_stage(
        src,
        "__text",
        {"buckets": "array<int>", "counts": "array<int>", "total": "long"},
        (),
        _featurize_kernel(n_features, include_bigrams),
    ).drop("__text")


_PARTIAL_SCHEMA = StructType(
    [
        StructField("grad", ArrayType(LongType())),
        StructField("bias_grad", LongType()),
        StructField("loss", LongType()),
        StructField("n_docs", LongType()),
    ]
)

_SPARSE_PARTIAL_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("val", LongType()),
    ]
)

#: sentinel buckets carrying the scalar sums through the same combinable
#: aggregate as the gradient entries (real buckets are >= 0)
_BIAS_KEY, _LOSS_KEY, _NDOCS_KEY = -1, -2, -3

#: above this feature count the dense per-partition partial row
#: (8 B x n_features each, collected to the driver) stops being free —
#: fastText's own default is 2^21 bigram buckets x 10^4-10^5 partitions
#: = 100s of GB to one process — so ``train`` switches to the sparse
#: (bucket, sum) + ONE combinable groupBy reduction
SPARSE_FEATURES_THRESHOLD = 65536


def _accumulate_partial(batches, bc, n_features):
    """Shared per-partition accumulation (identical for dense and sparse
    emit): fold every Arrow batch through :func:`_train_sums`."""
    wv, bv = bc.value
    wloc = np.frombuffer(wv, dtype=np.float64)
    grad = np.zeros(n_features, dtype=np.int64)
    bias_g = 0
    loss = 0
    n = 0
    for pdf in batches:
        g2, b2, l2, n2 = _train_sums(
            zip(pdf["buckets"], pdf["counts"], pdf["total"], pdf["y"]),
            wloc,
            bv,
            n_features,
        )
        grad += g2
        bias_g += b2
        loss += l2
        n += n2
    return grad, bias_g, loss, n


def _sparse_partials_df(feat: DataFrame, bc, n_features: int) -> DataFrame:
    """The sparse reduction plan: each partition emits only its NONZERO
    (bucket, int64 sum) gradient entries plus three sentinel scalar rows,
    and ONE combinable ``groupBy(bucket).sum`` (map-side partial
    aggregate -> exchange on 8-byte keys -> final aggregate) reduces
    across partitions.  Nothing n_features-dense ever crosses to the
    driver: the collect is at most nnz(grad)+3 two-long rows AFTER the
    full combine.  Integer sums commute, so the result is bit-identical
    to the dense path and to the sequential replay."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grad, bias_g, loss, n = _accumulate_partial(batches, bc, n_features)
        nz = np.nonzero(grad)[0]
        yield pd.DataFrame(
            {
                "bucket": np.concatenate(
                    [nz, [_BIAS_KEY, _LOSS_KEY, _NDOCS_KEY]]
                ).astype(np.int64),
                "val": np.concatenate(
                    [grad[nz], [bias_g, loss, n]]
                ).astype(np.int64),
            }
        )

    return (
        feat.mapInPandas(gen, _SPARSE_PARTIAL_SCHEMA)
        .groupBy("bucket")
        .agg(F.sum("val").alias("val"))
    )


def _reduce_sparse(feat, bc, n_features):
    rows = _sparse_partials_df(feat, bc, n_features).collect()
    grad = np.zeros(n_features, dtype=np.int64)
    bias_g = 0
    loss = 0
    n = 0
    for r in rows:
        b = int(r["bucket"])
        v = int(r["val"])
        if b == _BIAS_KEY:
            bias_g = v
        elif b == _LOSS_KEY:
            loss = v
        elif b == _NDOCS_KEY:
            n = v
        else:
            grad[b] = v
    return grad, bias_g, loss, n


def _reduce_dense(feat, bc, n_features):
    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grad, bias_g, loss, n = _accumulate_partial(batches, bc, n_features)
        yield pd.DataFrame(
            {
                "grad": [grad.tolist()],
                "bias_grad": [bias_g],
                "loss": [loss],
                "n_docs": [n],
            }
        )

    parts = feat.mapInPandas(partial, _PARTIAL_SCHEMA).collect()
    grad = np.zeros(n_features, dtype=np.int64)
    bias_g = 0
    loss = 0
    n = 0
    for r in parts:
        grad += np.asarray(r["grad"], dtype=np.int64)
        bias_g += int(r["bias_grad"])
        loss += int(r["loss"])
        n += int(r["n_docs"])
    return grad, bias_g, loss, n


def train(
    df: DataFrame,
    label: Column,
    n_features: int = 4096,
    iters: int = 6,
    lr: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_bigrams: bool = True,
    features: "DataFrame | None" = None,
) -> QualityClassifier:
    """Batch-GD training: per iteration ONE pass emitting int64 partial
    gradients per partition; the driver sums the integers
    (order-independent) and takes the float step.

    ``n_features`` picks the reduction shape — identical bits either
    way, different wire cost:

    * up to ``SPARSE_FEATURES_THRESHOLD`` — dense: one
      ``n_features``-long int64 row per partition, summed on the driver.
      Shuffle-free; right while 8 B x n_features x n_partitions fits one
      process.
    * above it — sparse: each partition emits only its nonzero
      ``(bucket, sum)`` pairs (+ 3 sentinel scalars) and ONE combinable
      ``groupBy(bucket).sum`` reduces them cluster-side; the driver
      collects at most nnz+3 two-long rows.  Right at fastText-scale
      feature counts (2^21) x 10^4+ partitions, where the dense shape
      would move 100s of GB to the driver.

    ``features`` — a pre-built (and ideally persisted) :func:`featurize`
    frame.  Featurization is the expensive text pass; a caller that also
    scores should build it ONCE, train with it, then score via
    :func:`infer_from_features` instead of re-featurizing in
    :func:`infer`.  The caller owns its persistence."""
    reduce = (
        _reduce_sparse if n_features > SPARSE_FEATURES_THRESHOLD
        else _reduce_dense
    )
    owns_feat = features is None
    feat = (
        featurize(
            df, label, n_features, id_col, text_col, include_bigrams
        ).persist()
        if owns_feat
        else features
    )
    feat.count()  # pin before the iteration loop

    spark = df.sparkSession
    w = np.zeros(n_features, dtype=np.float64)
    bias = 0.0
    history: list[int] = []
    try:
        for _ in range(iters):
            bc = spark.sparkContext.broadcast((w.tobytes(), bias))
            grad, bias_g, loss, n = reduce(feat, bc, n_features)
            if n == 0:
                break
            w = w - lr * (grad.astype(np.float64) / FIXED_SCALE / n)
            bias = bias - lr * (float(bias_g) / FIXED_SCALE / n)
            history.append(loss)
    finally:
        if owns_feat:
            feat.unpersist()
    return QualityClassifier(
        w, bias, n_features, include_bigrams, tuple(history)
    )


_SCORE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("score_fixed", LongType()),
        StructField("keep", BooleanType()),
    ]
)


def score_doc(
    text: "str | None",
    w: "np.ndarray",
    bias: float,
    n_features: int,
    include_bigrams: bool = True,
) -> "tuple[int, bool]":
    """(sigmoid(z) in nano-units, keep at the 0.5 boundary) — the shared
    inference kernel."""
    buckets, counts, total = featurize_doc(text, n_features, include_bigrams)
    z = row_margin(buckets, counts, total, w, bias)
    p = sigmoid(z) * FIXED_SCALE
    sf = int(math.floor(p + 0.5))
    return sf, sf >= FIXED_SCALE // 2


def score_keyed(
    src: DataFrame,
    model: QualityClassifier,
    key_cols: list[str],
    text_col: str,
) -> DataFrame:
    """(*key_cols, score_fixed, keep): ``score_doc`` over Arrow batches of
    ``text_col`` in the shared model stage (``functions/scoring.py``),
    which broadcasts the model once; only the text crosses into Python,
    the key columns stay in the JVM with their ``src`` types.  The batch
    (:func:`infer`) and the streaming (``streaming_classifier_scores``)
    scorers share this stage."""
    fields = {"score_fixed": "bigint", "keep": "boolean"}
    return model_stage(src, text_col, fields, (model,), _score_texts).select(
        *key_cols, *fields
    )


def _score_texts(model: QualityClassifier, texts: list) -> tuple[list, list]:
    scored = [
        score_doc(t, model.weights, model.bias, model.n_features,
                  model.include_bigrams)
        for t in texts
    ]
    return [s[0] for s in scored], [s[1] for s in scored]


def infer(
    df: DataFrame,
    model: QualityClassifier,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score_fixed, keep): one Arrow pass (:func:`score_keyed`)."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("__text"),
    )
    return score_keyed(src, model, ["doc_id"], "__text")


def infer_from_features(
    feat: DataFrame, model: QualityClassifier
) -> DataFrame:
    """(doc_id, score_fixed, keep) from an existing :func:`featurize`
    frame — skips the n-gram text pass entirely (cheap numpy dots over
    the cached Arrow columns).  Identical math to :func:`infer`:
    ``featurize`` stores exactly ``featurize_doc``'s output, and both
    paths finish with ``row_margin`` + ``sigmoid`` on the same sorted
    bucket order, so scores are bit-equal."""
    spark = feat.sparkSession
    bc = spark.sparkContext.broadcast((model.weights.tobytes(), model.bias))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wv, bv = bc.value
        wloc = np.frombuffer(wv, dtype=np.float64)
        for pdf in batches:
            scored = []
            for b, c, t in zip(pdf["buckets"], pdf["counts"], pdf["total"]):
                z = row_margin(list(b), list(c), int(t), wloc, bv)
                p = sigmoid(z) * FIXED_SCALE
                sf = int(math.floor(p + 0.5))
                scored.append((sf, sf >= FIXED_SCALE // 2))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "score_fixed": [s[0] for s in scored],
                    "keep": [s[1] for s in scored],
                }
            )

    return feat.mapInPandas(gen, _SCORE_SCHEMA)


def train_sequential(
    rows: "list[tuple[int, str | None, int]]",
    n_features: int = 4096,
    iters: int = 6,
    lr: float = 0.5,
    include_bigrams: bool = True,
) -> QualityClassifier:
    """Single-threaded replay of :func:`train` over (doc_id, text, y)
    rows — the golden oracle's trainer.  Same kernels, same integer
    sums, so the weight trajectory is bit-identical to the cluster."""
    feats = [
        (*featurize_doc(t, n_features, include_bigrams), y)
        for _, t, y in rows
    ]
    w = np.zeros(n_features, dtype=np.float64)
    bias = 0.0
    history: list[int] = []
    for _ in range(iters):
        grad, bias_g, loss, n = _train_sums(
            ((b, c, tot, y) for b, c, tot, y in feats), w, bias, n_features
        )
        if n == 0:
            break
        w = w - lr * (grad.astype(np.float64) / FIXED_SCALE / n)
        bias = bias - lr * (float(bias_g) / FIXED_SCALE / n)
        history.append(loss)
    return QualityClassifier(
        w, bias, n_features, include_bigrams, tuple(history)
    )


def threshold_sweep(
    scored: DataFrame,
    label: Column,
    thresholds_fixed: "list[int]",
    score_col: str = "score_fixed",
) -> DataFrame:
    """Calibration sweep: confusion counts + precision/recall at each
    decision threshold (nano-unit fixed-point, so every comparison is
    integer-exact).  One narrow explode (x|T| rows of three ints) feeding
    ONE combinable aggregate — at 10^12 docs the map-side combiner
    reduces to |T| rows before the shuffle, so the sweep costs a single
    pass regardless of threshold count."""
    y = label.cast("int")
    t = F.explode(
        F.array(*[F.lit(int(v)).cast("long") for v in thresholds_fixed])
    ).alias("thr_fixed")
    s = F.col(score_col)
    rows = scored.select(s.alias("__s"), y.alias("__y"), t)
    pred = (F.col("__s") >= F.col("thr_fixed")).cast("int")
    agg = rows.groupBy("thr_fixed").agg(
        F.sum(pred * F.col("__y")).alias("tp"),
        F.sum(pred * (1 - F.col("__y"))).alias("fp"),
        F.sum((1 - pred) * F.col("__y")).alias("fn"),
        F.sum((1 - pred) * (1 - F.col("__y"))).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return agg.select(
        "thr_fixed",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(tp + fp > 0, F.round(tp / (tp + fp), 6)).alias("precision"),
        F.when(tp + fn > 0, F.round(tp / (tp + fn), 6)).alias("recall"),
    )
