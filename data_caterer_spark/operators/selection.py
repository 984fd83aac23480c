"""DSIR-style data selection: importance resampling toward a target
distribution (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" — public).

A 100 TB pretraining pipeline rarely wants the raw crawl mix; it wants
the subset that LOOKS LIKE a high-quality target corpus.  DSIR scores
every raw document by the log-likelihood ratio of two hashed-n-gram
unigram models — one fit on the target corpus, one on the raw corpus —
and selects by that importance weight.

Distributed shape (every step bounded):

* **featurize** — hashed word uni+bigram buckets per document, pure
  Catalyst (split -> n-gram transform -> md5 bucket);
* **fit** — each model is ONE combinable groupBy over the bucket ids;
  the bucket space is fixed (default 10k), so the collected model is a
  tiny bounded table no matter the corpus size;
* **score** — explode buckets, broadcast-join the log-ratio table
  (n_buckets rows — always broadcastable), ONE combinable groupBy(doc)
  sum.  No UDF, no driver loop over documents;
* **select** — top-k via TakeOrderedAndProject (never a global sort),
  either deterministic or Gumbel-top-k (seeded, the paper's sampled
  variant).

EXACTNESS DISCIPLINE: per-doc weights are summed in FIXED-POINT int64
(log-ratios scaled by 1e9 and rounded on the driver), because float
addition order varies across partitions — integer sums are
order-independent, so the distributed score equals the sequential
golden replay bit-for-bit.  Reference anchor: the reference's closest
surface is weighted `oneOf` sampling (RandomDataGenerator.scala) —
corpus-level importance selection is a new-build requirement of the
training-data brief, not a port.
"""

from __future__ import annotations

import hashlib
import math

from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scoring import model_stage
from .similarity import (
    TRAIN_ROWS_PER_LIST,
    batch_matrix,
    derive_n_lists,
    sq_dists,
    train_ivf_centroids,
    vectors,
)

#: fixed-point scale for log-ratio arithmetic (1e9 keeps ~nano-nat
#: resolution; a 1e6-token doc times a max-|ratio| ~20 nats stays far
#: inside int64)
FIXED_SCALE = 1_000_000_000

#: Laplace smoothing count for unseen buckets
SMOOTH = 1.0


# ---------------------------------------------------------------------------
# shared pure-Python kernels (Spark path and golden replay both call these)
# ---------------------------------------------------------------------------


def ngram_strings(text: "str | None", include_bigrams: bool = True) -> list[str]:
    """Lowercased ASCII-whitespace word unigrams (+ bigrams joined with a
    single space) — the pure-Python twin of :func:`ngram_column`.  Reuses
    the BPE module's split so every text operator normalizes identically."""
    from ..functions.bpe import split_words

    words = split_words(text)
    grams = list(words)
    if include_bigrams:
        grams += [f"{a} {b}" for a, b in zip(words, words[1:])]
    return grams


def bucket_of(gram: str, n_buckets: int) -> int:
    """Hash bucket: first 8 hex chars of md5 mod n_buckets (32-bit space —
    replayable everywhere; same construction as the sampling thresholds)."""
    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def fixed_log_ratios(
    target_counts: "dict[int, int]",
    raw_counts: "dict[int, int]",
    n_buckets: int,
) -> "dict[int, int]":
    """Per-bucket ``round(1e9 * (log p_target - log p_raw))`` with Laplace
    smoothing — computed ONCE on the driver from the two bounded count
    tables, so both the distributed sum and the golden replay consume
    identical integers."""
    t_total = sum(target_counts.values()) + SMOOTH * n_buckets
    r_total = sum(raw_counts.values()) + SMOOTH * n_buckets
    out: dict[int, int] = {}
    for b in range(n_buckets):
        p = (target_counts.get(b, 0) + SMOOTH) / t_total
        q = (raw_counts.get(b, 0) + SMOOTH) / r_total
        r = round(FIXED_SCALE * (math.log(p) - math.log(q)))
        if r:
            out[b] = r  # zero-ratio buckets contribute nothing; drop them
    return out


def score_rows_python(
    rows: "Iterable[tuple[object, str | None]]",
    ratios: "dict[int, int]",
    n_buckets: int,
    include_bigrams: bool = True,
) -> "dict[object, int]":
    """Sequential replay of the distributed scorer (the golden oracle
    kernel): per doc, sum the fixed-point ratio of every n-gram bucket."""
    out: dict[object, int] = {}
    for doc_id, text in rows:
        acc = 0
        for g in ngram_strings(text, include_bigrams):
            acc += ratios.get(bucket_of(g, n_buckets), 0)
        out[doc_id] = acc
    return out


# ---------------------------------------------------------------------------
# distributed path
# ---------------------------------------------------------------------------


def ngram_column(
    text_col: "str | Column", include_bigrams: bool = True
) -> Column:
    """array<string> of word uni(+bi)grams — same normalization as the BPE
    trainer (ASCII ``\\s+`` split, lowercase)."""
    from ..functions.bpe import words_column

    words = words_column(text_col)
    if not include_bigrams:
        return words
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(words, bigrams)


def bucket_column(gram: Column, n_buckets: int) -> Column:
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    )


def exploded_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    include_bigrams: bool = True,
) -> DataFrame:
    """(id, bucket) — one row per n-gram occurrence.  Gram STRINGS never
    leave the scan stage; only the bucket long shuffles."""
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(ngram_column(text_col, include_bigrams)).alias("__g"),
    ).select("id", bucket_column(F.col("__g"), n_buckets).alias("bucket"))


def bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    include_bigrams: bool = True,
) -> "dict[int, int]":
    """Fit one hashed unigram model: ONE combinable shuffle over bucket
    ids; the collect is bounded by n_buckets (10k rows), NOT the corpus."""
    rows = (
        exploded_buckets(df, id_col, text_col, n_buckets, include_bigrams)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {int(r["bucket"]): int(r["n"]) for r in rows}


def bucket_counts_with_target(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    include_bigrams: bool = True,
) -> "tuple[dict[int, int], dict[int, int]]":
    """Fit the TARGET and RAW hashed models in ONE corpus scan.

    DSIR's target corpus is usually a predicate over the raw corpus (the
    'en' slice, a quality stratum) — fitting the two models with separate
    ``bucket_counts`` calls scans the whole table twice.  Carrying a 0/1
    target flag through the explode lets one combinable groupBy emit both
    counts: at 100 TB the model fit halves its I/O.  Returns
    ``(target_counts, raw_counts)`` identical to two separate fits."""
    flagged = df.where(F.col(text_col).isNotNull()).select(
        target.cast("long").alias("__t"),
        F.explode(ngram_column(text_col, include_bigrams)).alias("__g"),
    )
    rows = (
        flagged.select(
            "__t", bucket_column(F.col("__g"), n_buckets).alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum("__t").alias("n_target"),
        )
        .collect()
    )
    t = {int(r["bucket"]): int(r["n_target"]) for r in rows if r["n_target"]}
    raw = {int(r["bucket"]): int(r["n_raw"]) for r in rows}
    return t, raw


def dsir_log_weights(
    df: DataFrame,
    ratios: "dict[int, int]",
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_bigrams: bool = True,
    weight_col: str = "log_weight",
) -> DataFrame:
    """(id_col, <weight_col>_fixed, <weight_col>): per-doc importance
    log-weight.  The ratio table (<= n_buckets rows) is explicitly
    broadcast; the per-doc sum is int64 (order-independent — exact)."""
    spark = df.sparkSession
    ratio_df = spark.createDataFrame(
        list(ratios.items()) or [(0, 0)], "bucket long, ratio long"
    )
    fixed = f"{weight_col}_fixed"
    scored = (
        exploded_buckets(df, id_col, text_col, n_buckets, include_bigrams)
        .join(ratio_df.hint("broadcast"), "bucket", "left")
        .groupBy("id")
        .agg(F.sum(F.coalesce(F.col("ratio"), F.lit(0))).alias(fixed))
    )
    # docs with no tokens still get a row (weight 0): left join back
    base = df.select(F.col(id_col).alias("id"))
    return (
        base.join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col(fixed), F.lit(0)).alias(fixed),
            F.round(
                F.coalesce(F.col(fixed), F.lit(0)) / F.lit(FIXED_SCALE), 6
            ).alias(weight_col),
        )
    )


def dsir_select(
    raw_df: DataFrame,
    target_df: "DataFrame | None",
    k: int,
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_bigrams: bool = True,
    seed: "int | None" = None,
    target_filter: "Column | None" = None,
) -> DataFrame:
    """Select ``k`` raw documents whose n-gram profile best matches the
    target corpus.  ``seed=None`` -> deterministic top-k by weight (ties
    by id); seeded -> Gumbel-top-k (the paper's sampled variant; noise is
    md5-derived, so the draw replays on any cluster).  Top-k compiles to
    TakeOrderedAndProject — no global sort.

    When the target corpus is a PREDICATE over the raw corpus, pass it as
    ``target_filter`` (and ``target_df=None``): both models then fit in
    one scan (:func:`bucket_counts_with_target`) instead of two."""
    if target_filter is not None:
        t_counts, r_counts = bucket_counts_with_target(
            raw_df, target_filter, text_col, n_buckets, id_col,
            include_bigrams,
        )
    else:
        t_counts = bucket_counts(
            target_df, text_col, n_buckets, id_col, include_bigrams
        )
        r_counts = bucket_counts(
            raw_df, text_col, n_buckets, id_col, include_bigrams
        )
    ratios = fixed_log_ratios(t_counts, r_counts, n_buckets)
    w = dsir_log_weights(
        raw_df, ratios, n_buckets, id_col, text_col, include_bigrams
    )
    key = F.col("log_weight_fixed")
    if seed is not None:
        g = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.lit("gumbel"),
                        F.lit(str(seed)),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        u = (g.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
        key = key + F.round(-F.log(-F.log(u)) * F.lit(FIXED_SCALE)).cast(
            "long"
        )
    return (
        w.withColumn("__key", key)
        .orderBy(F.desc("__key"), F.asc(id_col))
        .limit(k)
        .drop("__key")
    )


# --------------------------------------------------------------------------
# cluster-coverage diversity sampling (embedding-space subset selection)
# --------------------------------------------------------------------------


def with_cluster_dist(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "__cd",
) -> DataFrame:
    """Add ``{out_col}_cluster`` (int), the nearest k-means cluster, and
    ``{out_col}_d2`` (double), the squared distance to it: the IVF
    assignment plus the distance the selection sorts on, one matmul per
    Arrow batch in the shared model stage (``functions/scoring.py``).
    Shares ``sq_dists``/stable-argsort with the trainer and the golden
    replay so ordering decisions replay bit-identically; a NULL vector
    scores as all zeros."""
    return model_stage(
        df,
        vectors(vec_col),
        {f"{out_col}_cluster": "int", f"{out_col}_d2": "double"},
        (np.ascontiguousarray(centroids, dtype=np.float64),),
        _nearest_cluster,
    )


def _nearest_cluster(cent: np.ndarray, vecs: list) -> tuple[np.ndarray, np.ndarray]:
    d2 = sq_dists(batch_matrix(vecs, cent.shape[1]), cent)
    idx = np.argsort(d2, axis=1, kind="stable")[:, 0]
    return idx.astype("int32"), d2[np.arange(len(idx)), idx]


def diversity_cluster_sample(
    df: DataFrame,
    per_cluster: int = 2,
    n_lists: "int | None" = None,
    rows_per_list: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-space diversity selection: k-means the corpus (derived
    cluster count, seeded hash-sampled training — the IVF recipe), keep
    the ``per_cluster`` most-central rows per cluster (ties -> lower
    id).  The selected subset covers every region of embedding space
    with its most representative members — the cluster-coverage sampling
    used to diversify instruction-tuning subsets, where top-k-by-quality
    alone collapses onto one dominant mode.

    Plan: bounded driver-side training (sample ~40 rows/centroid), one
    broadcast-matmul assignment pass (:func:`with_cluster_dist`), then
    the EXACT salted two-phase per-cluster top-k (``operators/topk.py``)
    — per-task state is k rows per (cluster, salt) subgroup regardless
    of how skewed k-means left the clusters (``derive_n_lists`` keeps
    them near ``rows_per_list`` on well-spread data, but a degenerate
    embedding mass can put nearly everything in one cluster, and a
    collect_list there would buffer the corpus).  Null embeddings are excluded up front — a null vector
    would otherwise score as exactly central.
    """
    from .topk import grouped_topk

    df = df.where(F.col(vec_col).isNotNull())
    n_rows = df.count()
    if n_rows == 0:
        raise ValueError("diversity_cluster_sample: no non-null embeddings")
    if n_lists is None:
        n_lists = derive_n_lists(n_rows, rows_per_list)
    dim = len(df.select(vec_col).first()[0])
    centroids = train_ivf_centroids(
        df,
        dim,
        n_lists=n_lists,
        seed=seed,
        sample_rows=max(10_000, TRAIN_ROWS_PER_LIST * n_lists),
        vec_col=vec_col,
        id_col=id_col,
        n_rows=n_rows,
    )
    assigned = with_cluster_dist(df, centroids, vec_col=vec_col).select(
        F.col("__cd_cluster").alias("cluster"),
        F.col("__cd_d2").alias("__d2"),
        F.col(id_col),
    )
    # the operator is already eager (driver-side k-means, df.count());
    # materialize the SLIM (cluster, d2, id) assignment once so the
    # sizes branch and the top-k branch don't each re-run the Arrow
    # assignment pass over the full vectors
    assigned = assigned.localCheckpoint(eager=True)
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size")
    )
    top = grouped_topk(
        assigned,
        group_cols=["cluster"],
        order_col="__d2",
        k=per_cluster,
        tiebreak_cols=[id_col],
        descending=False,  # most-central = SMALLEST distance
    )
    return top.join(sizes.hint("broadcast"), "cluster").select(
        "cluster",
        F.col(id_col),
        F.round(F.col("__d2"), 6).alias("dist_sq"),
        "cluster_size",
    )
