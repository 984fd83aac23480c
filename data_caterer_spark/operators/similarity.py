"""Similarity search over embedding columns (``array<float>``).

Baseline: exact brute-force cosine top-k — a single codegen'd projection
(`zip_with` dot product) plus a top-k sort; no UDF, no Python.  Scale
path: random-hyperplane LSH bucketing — candidates meet via an equi-join
on (table, bucket) signatures instead of a cross join; multiprobe widens
recall by also visiting the buckets one sign-flip away.

At 100 TB the brute-force path is only for *one query vector against the
table* (a scan + aggregate top-k: embarrassingly parallel, no shuffle of
the big side).  All-pairs / knn-join work must go through the LSH path —
the cross join is never materialized.

Embedding cosine **near-duplicate detection** composes from these:
`lsh_knn_join` with a distance threshold instead of k.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scoring import model_stage

# --------------------------------------------------------------------------
# vector kernels (pure Catalyst)
# --------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL/zero-norm safe (returns NULL)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def cosine_given_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine where the L2 norms were PRECOMPUTED per row.

    In a pair-scoring join each id's vector appears in many candidate
    pairs; folding its norm per PAIR re-runs an interpreted array
    traversal ~candidates-per-row times.  Computing ``l2_norm`` once per
    id in the slim vector projection (2 traversals per ROW) and passing
    it through the join leaves one ``dot`` fold per pair — same
    left-to-right folds, so scores stay bit-identical to the sequential
    golden replays (``golden.fold_dot``/``fold_norm``)."""
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def normalize(a: Column) -> Column:
    """Unit-normalize so cosine becomes a plain dot product downstream."""
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x / n))


# --------------------------------------------------------------------------
# brute-force baselines (exact; oracle-able)
# --------------------------------------------------------------------------


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The query is a literal array folded into the projection (broadcast by
    construction); the plan is scan -> project -> TakeOrderedAndProject —
    no shuffle of the table, partial top-k per partition then a tiny merge.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    ).where(F.col("cos_sim").isNotNull())
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def brute_force_knn_join(
    left: DataFrame,
    right: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact knn join (every left id -> its top-k right neighbors).

    O(n*m) — correctness baseline and oracle for the LSH path; guarded for
    small inputs only.  Self-join when ``right`` is None (excludes self).
    """
    right = right if right is not None else left
    a = left.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("__va"),
    ).withColumn("__na", l2_norm(F.col("__va")))
    b = right.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("__vb"),
    ).withColumn("__nb", l2_norm(F.col("__vb")))
    pairs = (
        a.crossJoin(b)
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_given_norms(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id_a", "id_b", "cos_sim", "rank")
    )


# --------------------------------------------------------------------------
# random-hyperplane LSH (scale path)
# --------------------------------------------------------------------------


def vectors(vec_col: str) -> Column:
    """The vector column as the model stage reads it."""
    return F.col(vec_col).cast("array<double>")


def batch_matrix(vecs: list, dim: int) -> np.ndarray:
    """One Arrow batch of vectors as a (rows, dim) float64 matrix; a NULL
    vector is all zeros."""
    zero = np.zeros(dim, dtype=np.float64)
    return np.array(
        [zero if v is None else v for v in vecs], dtype=np.float64
    ).reshape(len(vecs), dim)


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes from a splitmix64 walk —
    identical on every executor/platform, no RNG object shipped."""
    planes = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_planes):
        v = []
        for _ in range(dim):
            acc = 0.0
            for _ in range(4):  # sum of 4 uniforms ~ gaussian enough
                state = (state * 6364136223846793005 + 1442695040888963407) % (
                    1 << 64
                )
                acc += state / float(1 << 64) - 0.5
            v.append(acc)
        planes.append(v)
    return planes


def with_lsh_buckets(
    df: DataFrame,
    dim: int,
    num_tables: int = 8,
    num_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "buckets",
    probes: int = 0,
) -> DataFrame:
    """Add the row's LSH bucket per hash table.

    ``probes == 0`` -> ``array<bigint>`` (element t = bucket in table t).
    ``probes  > 0`` -> ``array<array<bigint>>`` (element t = the main
    bucket followed by ``probes`` multiprobe buckets, each obtained by
    flipping one of the lowest-|margin| sign bits — the classic multiprobe
    heuristic: the planes the vector nearly touches are the ones a true
    neighbor most likely lands on the other side of).

    All tables are computed in ONE Arrow round trip as a single numpy
    matmul: (batch x dim) @ (dim x tables*planes) -> signed margins ->
    packed bucket ids (+ probe flips).  The Catalyst fold formulation
    evaluated tables*planes*dim interpreted lambdas per row (~3 ms/row
    measured); this is BLAS time.  The hyperplane matrix is the model of
    the shared broadcast-model stage (``functions/scoring.py``), as the
    langid and perplexity models are.  A NULL vector buckets as all
    zeros.
    """
    if probes >= num_planes:
        raise ValueError("probes must be < num_planes")
    mats = [
        np.array(_hyperplanes(dim, num_planes, seed + 1000 * t), dtype=np.float64).T
        for t in range(num_tables)
    ]
    # C order: the layout the batch matmul has always run on
    planes = np.ascontiguousarray(np.concatenate(mats, axis=1))  # (dim, T*P)
    out_type = "array<bigint>" if probes == 0 else "array<array<bigint>>"
    return model_stage(
        df,
        vectors(vec_col),
        {out_col: out_type},
        (planes,),
        partial(_lsh_buckets, n_tables=num_tables, n_probes=probes),
    )


def _lsh_buckets(
    planes: np.ndarray, vecs: list, n_tables: int, n_probes: int
) -> tuple[list]:
    """The bucket id per table of each vector and, with ``n_probes``, the
    ids one flip of each of its ``n_probes`` lowest-|margin| bits away."""
    n_planes = planes.shape[1] // n_tables
    pow2 = np.array([1 << i for i in range(n_planes)], dtype=np.int64)
    margins = (batch_matrix(vecs, planes.shape[0]) @ planes).reshape(
        len(vecs), n_tables, n_planes
    )
    ids = ((margins >= 0) * pow2).sum(axis=2).astype(np.int64)  # (batch, tables)
    if n_probes == 0:
        return (list(ids),)
    order = np.argsort(np.abs(margins), axis=2)[:, :, :n_probes]
    return (
        [
            [
                [main, *(int(main ^ (1 << int(b))) for b in flips)]
                for main, flips in zip(row_ids, row_order)
            ]
            for row_ids, row_order in zip(ids, order)
        ],
    )


def lsh_knn_join(
    left: DataFrame,
    dim: int,
    k: int = 5,
    num_tables: int = 8,
    num_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float | None = None,
    probes: int = 0,
) -> DataFrame:
    """Approximate self knn-join: candidates = same (table, bucket),
    scored exactly, top-k per left id (or thresholded when ``min_cosine``
    is set — that's the embedding near-dup mode).

    Shuffle profile: explode by table (xT rows) -> equi-join on
    (table, bucket) -> per-bucket pair scoring -> window top-k.  Bucket
    occupancy ~ n / 2^num_planes per table; tune num_planes so buckets fit
    a reducer, AQE splits stragglers.  ``probes`` > 0 additionally visits
    the buckets one low-margin sign-flip away (probe side only, so the
    join fans out by (1+probes) on one side, not both).
    """
    bucketed = with_lsh_buckets(
        left, dim, num_tables, num_planes, seed, vec_col, probes=probes
    )
    # both self-join sides derive from the bucket UDF output: persist the
    # slim (id, buckets) projection and populate eagerly so the matmul
    # UDF runs once, not once per branch
    bucketed = bucketed.select(F.col(id_col), F.col("buckets")).persist()
    bucketed.count()
    # the (table, bucket) candidate join carries (table, bucket, id) ONLY
    # — never the vector payload (xT tables x both sides would multiply
    # the shuffled vector bytes by 2T); full-precision vectors re-join
    # AFTER candidate dedup, one narrow shuffle per side
    if probes == 0:
        exploded = bucketed.select(
            F.col(id_col).alias("id"),
            F.posexplode("buckets").alias("table", "bucket"),
        )
        a = exploded.select("table", "bucket", F.col("id").alias("id_a"))
        b = exploded.select("table", "bucket", F.col("id").alias("id_b"))
    else:
        per_table = bucketed.select(
            F.col(id_col).alias("id"),
            F.posexplode("buckets").alias("table", "bs"),
        )
        a = per_table.select(
            "table",
            F.explode("bs").alias("bucket"),  # main + probe buckets
            F.col("id").alias("id_a"),
        )
        b = per_table.select(
            "table",
            F.element_at("bs", 1).alias("bucket"),  # main bucket only
            F.col("id").alias("id_b"),
        )
    vecs = left.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(
            vecs.select(
                F.col("id").alias("id_a"),
                F.col("__v").alias("__va"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_given_norms(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim").isNotNull())
    )
    # symmetrize so every id gets neighbors from either side of the '<'
    sym = cand.unionByName(
        cand.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cos_sim"
        )
    )
    if min_cosine is not None:
        return sym.where(F.col("cos_sim") >= min_cosine)
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id_a", "id_b", "cos_sim", "rank")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    dim: int,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 8,
    num_planes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t) via
    LSH candidates + exact rescoring — the embedding leg of the dedup
    suite (operators/dedup.py documents the other four)."""
    pairs = lsh_knn_join(
        df,
        dim,
        num_tables=num_tables,
        num_planes=num_planes,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        min_cosine=min_cosine,
    )
    return pairs.where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "cos_sim"
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# --------------------------------------------------------------------------


def sq_dists(x: "np.ndarray", cent: "np.ndarray") -> "np.ndarray":
    """Squared euclidean distances, (rows, lists) — one GEMM instead of a
    broadcast-subtract temp of shape (rows, lists, dim).  The naive form
    materializes rows*lists*dim float64s per Arrow batch (~160 MB at
    batch=10k, lists=32, dim=64); the |x|^2 + |c|^2 - 2x.c^T identity is
    ~10x faster and O(rows*lists) memory.  SHARED by the k-means trainer,
    the Spark assignment UDF, and the golden replay, so any float rounding
    difference vs the naive form is applied identically on every path
    (argmin/argsort decisions stay consistent by construction)."""
    x2 = (x * x).sum(axis=1)[:, None]
    c2 = (cent * cent).sum(axis=1)[None, :]
    return np.maximum(x2 + c2 - 2.0 * (x @ cent.T), 0.0)


def nearest_lists(
    mat: "np.ndarray", cent: "np.ndarray", probes: int
) -> "np.ndarray":
    """Indices of the ``probes`` nearest centroids per row, nearest first
    (ties broken by lower list id, numpy stable argsort) — the SHARED
    assignment kernel for the Spark UDF and the golden replay."""
    d2 = sq_dists(mat, cent)
    return np.argsort(d2, axis=1, kind="stable")[:, :probes]


def kmeans_fit(
    x: "np.ndarray", n_lists: int, iters: int = 5, seed: int = 42
) -> "np.ndarray":
    """Deterministic Lloyd iterations on a numpy sample — the SHARED
    training kernel: the Spark path (:func:`train_ivf_centroids`) and the
    sequential golden replay (``golden.ivf_knn_golden_sql``) both call
    this, so the distributed and oracle runs train bit-identical
    quantizers.

    Init = a seeded draw of actual sample POINTS (k-means++-lite).  The
    earlier gaussian-hyperplane init sat far from the data manifold and
    converged to badly unbalanced lists (one hot list held ~17% of rows,
    making the candidate join ~25% of brute force); point init keeps the
    lists near-balanced, which is what bounds the per-list quadratic
    candidate blocks at scale.  Empty clusters re-seed from the point
    farthest from its centroid (standard repair).
    """
    if len(x) < n_lists:
        raise ValueError(f"need >= {n_lists} sample rows, got {len(x)}")
    rng = np.random.RandomState(seed)
    cent = x[np.sort(rng.choice(len(x), size=n_lists, replace=False))].copy()
    for _ in range(iters):
        d2 = sq_dists(x, cent)
        assign = d2.argmin(axis=1)
        new = np.zeros_like(cent)
        for c in range(n_lists):
            members = x[assign == c]
            if len(members) == 0:
                far = d2.min(axis=1).argmax()
                new[c] = x[far]
            else:
                new[c] = members.mean(axis=0)
        cent = new
    return cent


#: FAISS guidance: >= ~39 training points per centroid; we budget 40
TRAIN_ROWS_PER_LIST = 40


def derive_n_lists(
    n_rows: int,
    rows_per_list: int = 64,
    min_lists: int = 4,
    max_lists: int = 65_536,
) -> int:
    """Size the inverted-list count from the input: a FIXED ``n_lists``
    makes the per-list candidate self-join O(n^2/L) — quadratic at 100x
    data.  Targeting a constant rows-per-list keeps candidate pairs per
    row ~rows_per_list/2, i.e. the join stays LINEAR in n (64 rows/list
    -> ~32 candidate pairs per row before multiprobe).  ``max_lists``
    caps the driver-side training sample (40 rows/list) at ~2.6M rows —
    the FAISS regime for 10^9-row tables."""
    if n_rows <= 0:
        return min_lists
    return max(min_lists, min(max_lists, -(-n_rows // rows_per_list)))


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_lists: int = 16,
    iters: int = 5,
    sample_rows: int = 10_000,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str | None = None,
    n_rows: int | None = None,
) -> "np.ndarray":
    """Coarse quantizer training: k-means on a DRIVER-SIDE sample.

    The IVF pattern (FAISS-style) separates a tiny training problem from
    the huge assignment problem: centroids come from a bounded sample
    (driver numpy Lloyd iterations — at 100 TB you sample ~100k rows, not
    the table), and the full-table work is just assignment, which
    :func:`with_ivf_list` does as one broadcast matmul per Arrow batch.

    With ``id_col`` the sample is a seeded md5-threshold hash sample
    (``operators.sampling``) ordered by id — UNBIASED on time-/source-
    clustered storage layouts and stable across cluster sizes.  A
    storage-prefix ``limit(N)`` sample (the ``id_col=None`` fallback, for
    inputs without a stable key) is biased on sorted inputs: all
    centroids land in the leading cluster and the hot trailing lists
    re-create the quadratic candidate blocks balanced training avoids.
    Deterministic either way: seeded sample-point init (:func:`kmeans_fit`).
    """
    if id_col is not None:
        from .sampling import fraction_threshold, hash_bucket

        if n_rows is None:
            n_rows = df.count()
        frac = min(1.0, sample_rows / max(n_rows, 1))
        sample = (
            df.select(
                F.col(id_col).alias("i"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
            .where(hash_bucket(["i"], seed) < F.lit(fraction_threshold(frac)))
            .collect()
        )
        # id order, not storage order: layout-independent kmeans input
        sample.sort(key=lambda r: r["i"])
    else:
        # deterministic bounded sample: first N rows in file order (sample
        # BEFORE any repartition so the slice is storage-stable)
        sample = (
            df.select(F.col(vec_col).cast("array<double>").alias("v"))
            .limit(sample_rows)
            .collect()
        )
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    return kmeans_fit(x, min(n_lists, len(x)), iters=iters, seed=seed)


def with_ivf_list(
    df: DataFrame,
    centroids: "np.ndarray",
    vec_col: str = "embedding",
    out_col: str = "ivf_list",
    probes: int = 1,
) -> DataFrame:
    """Assign each row its ``probes`` nearest inverted lists (array<int>,
    nearest first) — one matmul per Arrow batch in the shared
    broadcast-model stage (``functions/scoring.py``), the centroids being
    the model.  A NULL vector is assigned as all zeros."""
    return model_stage(
        df,
        vectors(vec_col),
        {out_col: "array<int>"},
        (np.ascontiguousarray(centroids, dtype=np.float64),),
        partial(_ivf_lists, n_probes=min(probes, len(centroids))),
    )


def _ivf_lists(cent: np.ndarray, vecs: list, n_probes: int) -> tuple[list]:
    order = nearest_lists(batch_matrix(vecs, cent.shape[1]), cent, n_probes)
    return (list(order.astype(np.int32)),)


def ivf_knn_join(
    left: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int | None = None,
    probes: int = 2,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_list: int = 64,
    sample_rows: int = 10_000,
) -> DataFrame:
    """Approximate self knn-join via inverted lists: candidates meet only
    inside a shared list (equi-join on the list id), with multiprobe on
    the QUERY side only (each row probes its ``probes`` nearest lists but
    is indexed under its single nearest — the FAISS search pattern, so
    the join fans out by probes on one side, not both).

    ``n_lists=None`` (default) derives the list count from the input size
    (:func:`derive_n_lists` — constant rows-per-list keeps the candidate
    join linear in n), and the training sample is a seeded hash sample
    keyed on ``id_col`` (unbiased on clustered layouts).  The one extra
    ``count()`` this costs is a columnless scan — negligible next to the
    signature/join stages.

    Same shuffle discipline as :func:`lsh_knn_join`: the list join
    carries (list, id) only; vectors re-join after candidate dedup.
    """
    n_rows = left.count()
    if n_lists is None:
        n_lists = derive_n_lists(n_rows, rows_per_list)
    eff_sample = max(sample_rows, TRAIN_ROWS_PER_LIST * n_lists)
    centroids = train_ivf_centroids(
        left,
        dim,
        n_lists=n_lists,
        iters=iters,
        seed=seed,
        sample_rows=eff_sample,
        vec_col=vec_col,
        id_col=id_col,
        n_rows=n_rows,
    )
    assigned = with_ivf_list(left, centroids, vec_col, probes=probes)
    slim = assigned.select(F.col(id_col).alias("id"), "ivf_list").persist()
    slim.count()
    a = slim.select(
        F.explode("ivf_list").alias("list"), F.col("id").alias("id_a")
    )
    b = slim.select(
        F.element_at("ivf_list", 1).alias("list"), F.col("id").alias("id_b")
    )
    vecs = left.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    cand = (
        a.join(b, "list")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(
            vecs.select(
                F.col("id").alias("id_a"),
                F.col("__v").alias("__va"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_given_norms(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim").isNotNull())
    )
    sym = cand.unionByName(
        cand.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cos_sim"
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id_a", "id_b", "cos_sim", "rank")
    )


# --------------------------------------------------------------------------
# int8 quantization — the storage/shuffle-compression scale path
# --------------------------------------------------------------------------


def with_quantized(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q8",
    scale_col: str = "q8_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization, pure Catalyst (no UDF).

    ``scale = max|x| / 127``; ``q_i = floor(x_i/scale + 0.5)`` (explicit
    half-up, identical in Spark and ANSI SQL — ``round()`` is banker's in
    numpy and half-away in DuckDB, so neither is used).  At 100 TB this is
    the 8x answer to vector storage and shuffle width: every candidate
    join and brute-force scan moves int8-valued arrays, and because the
    scale CANCELS in cosine (cos(q_a, q_b) needs no dequantization), the
    rescoring math stays exact integer arithmetic in double (|q| <= 127,
    so dots are exact regardless of fold order).  Zero vectors quantize to
    zeros (cosine stays NULL-safe downstream)."""
    v = F.col(vec_col).cast("array<double>")
    s = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(
        s > 0,
        F.transform(v, lambda x: F.floor(x / s + F.lit(0.5)).cast("double")),
    ).otherwise(F.transform(v, lambda x: F.lit(0.0)))
    return df.withColumn(scale_col, s).withColumn(q_col, q)


def quantize_query(query_vec: list[float]) -> list[float]:
    """The same half-up int8 kernel for a driver-side query vector."""
    import math

    m = max((abs(float(x)) for x in query_vec), default=0.0)
    if m <= 0:
        return [0.0 for _ in query_vec]
    s = m / 127.0
    return [float(math.floor(float(x) / s + 0.5)) for x in query_vec]


def quantized_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the QUANTIZED vectors — same scan ->
    TakeOrderedAndProject plan as :func:`cosine_topk`, 1/8th the bytes
    per vector at rest."""
    qdf = with_quantized(df, vec_col=vec_col)
    qq = F.array(*[F.lit(x) for x in quantize_query(query_vec)]).cast(
        "array<double>"
    )
    scored = qdf.select(
        F.col(id_col),
        F.round(cosine(F.col("q8"), qq), 6).alias("cos_sim"),
    ).where(F.col("cos_sim").isNotNull())
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


# --------------------------------------------------------------------------
# Product quantization (Jegou et al. 2011 / FAISS IVF-PQ) — the canonical
# 100 TB ANN compression: a dim-D float vector becomes M uint8-range codes
# (e.g. 768 floats = 3 KB -> 96 bytes), and query scoring needs only an
# M x K lookup table, never the original vectors.
# --------------------------------------------------------------------------


def pq_training_sample(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 10_000,
    seed: int = 42,
    n_rows: int | None = None,
) -> "np.ndarray":
    """Seeded md5-threshold hash sample in id order — the SAME layout-
    independent sample rule as :func:`train_ivf_centroids` (a storage
    prefix is biased on sorted inputs), sized driver-side: at 100 TB you
    train the quantizer on ~100k sampled rows, never the table."""
    from .sampling import fraction_threshold, hash_bucket

    if n_rows is None:
        n_rows = df.count()
    frac = min(1.0, sample_rows / max(n_rows, 1))
    sample = (
        df.select(
            F.col(id_col).alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .where(hash_bucket(["i"], seed) < F.lit(fraction_threshold(frac)))
        .collect()
    )
    sample.sort(key=lambda r: r["i"])
    return np.array([r["v"] for r in sample], dtype=np.float64)


def pq_fit_codebooks(
    x: "np.ndarray", m_subspaces: int, k_codes: int, iters: int = 5,
    seed: int = 42,
) -> "np.ndarray":
    """Train one k-means codebook PER SUBSPACE on a numpy sample — the
    SHARED kernel (Spark path and golden replay both call this, so the
    distributed and oracle runs quantize bit-identically).  Returns
    (m_subspaces, k_codes, dim/m) float64."""
    dim = x.shape[1]
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m={m_subspaces}")
    d_sub = dim // m_subspaces
    books = []
    for m in range(m_subspaces):
        sub = x[:, m * d_sub : (m + 1) * d_sub]
        books.append(kmeans_fit(sub, min(k_codes, len(sub)), iters, seed))
    return np.stack(books)


def pq_encode(mat: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """Nearest-codeword index per subspace, (rows, M) int32 — the SHARED
    encoding kernel (one small GEMM per subspace via :func:`sq_dists`)."""
    m_sub, _, d_sub = books.shape
    cols = []
    for m in range(m_sub):
        sub = mat[:, m * d_sub : (m + 1) * d_sub]
        cols.append(nearest_lists(sub, books[m], 1)[:, 0])
    return np.stack(cols, axis=1).astype(np.int32)


def pq_adc_lut(query_vec: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """Asymmetric-distance lookup table: (M, K) squared distances from the
    query's m-th subvector to every codeword — computed ONCE per query,
    driver-side, then broadcast; scoring a row is M table lookups."""
    m_sub, _, d_sub = books.shape
    return np.stack(
        [
            sq_dists(
                query_vec[m * d_sub : (m + 1) * d_sub][None, :], books[m]
            )[0]
            for m in range(m_sub)
        ]
    )


def pq_adc_scores(codes: "np.ndarray", lut: "np.ndarray") -> "np.ndarray":
    """Sum the per-subspace table entries in subspace order — the SHARED
    scoring kernel (fixed fold order makes the float64 sum bit-equal
    between the Spark UDF and the sequential replay)."""
    acc = np.zeros(len(codes), dtype=np.float64)
    for m in range(lut.shape[0]):
        acc = acc + lut[m, codes[:, m]]
    return acc


def with_pq_codes(
    df: DataFrame,
    books: "np.ndarray",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode every row to its M subspace codes (array<int>; uint8-range
    when k_codes <= 256) — one Arrow batch kernel in the shared
    broadcast-model stage (``functions/scoring.py``), the codebooks being
    the model; a NULL vector encodes as all zeros.  At rest/shuffle this is
    the dim*4 -> M bytes compression that makes 10^9-vector candidate
    joins move kilobytes per row group instead of megabytes."""
    return model_stage(
        df,
        vectors(vec_col),
        {out_col: "array<int>"},
        (np.ascontiguousarray(books, dtype=np.float64),),
        _pq_codes,
    )


def _pq_codes(books: np.ndarray, vecs: list) -> tuple[list]:
    m_sub, _, d_sub = books.shape
    return (list(pq_encode(batch_matrix(vecs, m_sub * d_sub), books)),)


def _adc_scores(lut: np.ndarray, codes: list) -> tuple[np.ndarray]:
    return (pq_adc_scores(np.array(codes, dtype=np.int64), lut),)


def pq_adc_topk(
    df: DataFrame,
    books: "np.ndarray",
    query_vec: list[float],
    k: int = 10,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k, optionally exact-reranked.

    Scan -> encode (:func:`with_pq_codes`) -> ADC score (the query's M x K
    LUT as the model of the shared broadcast-model stage, M lookups/row)
    -> TakeOrderedAndProject — no shuffle except the bounded top-k.
    With ``rerank=c`` the top-c ADC candidates (c << n) join back to their full vectors (broadcast side = c rows) for exact
    fold-order cosine, the standard IVF-PQ + re-rank recipe: ADC prunes
    10^9 rows to c using only the 96-byte codes, exact math touches c
    vectors.  Ordering uses the ROUNDED score on both engine and oracle
    sides so float ties break identically (then by id)."""
    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    lut = pq_adc_lut(q, books)
    coded = with_pq_codes(df, books, vec_col=vec_col)
    scored = model_stage(
        coded, "pq_code", {"__adc": "double"}, (lut,), _adc_scores
    ).select(
        F.col(id_col),
        vectors(vec_col).alias("__v"),
        F.round(F.col("__adc"), 6).alias("adc_dist"),
    )
    if rerank <= 0:
        return (
            scored.orderBy(F.asc("adc_dist"), F.asc(id_col))
            .limit(k)
            .select(id_col, "adc_dist")
        )
    qcol = F.array(*[F.lit(float(v)) for v in query_vec]).cast("array<double>")
    cand = scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(rerank)
    return (
        cand.select(
            id_col,
            "adc_dist",
            F.round(cosine(F.col("__v"), qcol), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim").isNotNull())
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (cluster -> within-cluster prune)
# --------------------------------------------------------------------------


def semantic_dedup_pairs(
    df: DataFrame,
    dim: int,
    eps: float = 0.05,
    n_clusters: int | None = None,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_cluster: int = 64,
    sample_rows: int = 10_000,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs: cosine >= 1 - eps AND same k-means
    cluster — the SemDeDup recipe (Abbas et al. 2023, public): cluster the
    embedding space with k-means, then compare pairs ONLY within a
    cluster, so the pairwise work is n * rows_per_cluster instead of n^2.

    Built from the shared IVF kernels: the quantizer trains on a seeded
    hash sample (:func:`train_ivf_centroids`), assignment is one
    broadcast matmul per Arrow batch (:func:`with_ivf_list`, 1 probe —
    SemDeDup compares strictly within a cluster), and the candidate join
    carries (cluster, id) only with vectors re-joined after dedup — the
    same shuffle discipline as :func:`ivf_knn_join`.  A near-dup pair
    split across a cluster boundary is missed by construction; that is
    the published algorithm's recall trade, not an implementation gap.

    ``max_cluster_size`` (default ``4 * rows_per_cluster``) is the skew
    guard: k-means on a pathological embedding distribution (e.g. a mass
    of identical vectors) can leave one huge cluster, turning the
    within-cluster join into an O(c^2) block and the downstream
    per-cluster union-find into unbounded per-group state.  Clusters
    over the cap are split into ``ceil(size / cap)`` deterministic
    sub-clusters by a seeded md5 salt of the id (replayable in the
    golden oracle), bounding every block at ~cap rows.  Pairs split
    across a salt boundary are missed — the same recall trade the
    cluster boundary already makes, and on a degenerate all-identical
    cluster the practical effect is keeping one representative per
    sub-cluster instead of one overall.  One tiny cluster-size aggregate
    + a broadcast join; no effect at all on clusters within the cap
    (ceil(size/cap) == 1 leaves the cluster key intact).
    """
    n_rows = df.count()
    if n_clusters is None:
        n_clusters = derive_n_lists(n_rows, rows_per_cluster)
    eff_sample = max(sample_rows, TRAIN_ROWS_PER_LIST * n_clusters)
    centroids = train_ivf_centroids(
        df,
        dim,
        n_lists=n_clusters,
        iters=iters,
        seed=seed,
        sample_rows=eff_sample,
        vec_col=vec_col,
        id_col=id_col,
        n_rows=n_rows,
    )
    assigned = with_ivf_list(df, centroids, vec_col, probes=1)
    slim = assigned.select(
        F.col(id_col).alias("id"),
        F.element_at("ivf_list", 1).alias("cluster"),
    ).persist()
    slim.count()
    cap = (
        max_cluster_size
        if max_cluster_size is not None
        else 4 * rows_per_cluster
    )
    # skew guard: split oversized clusters into ceil(size/cap) salted
    # sub-clusters (seeded md5 of the id — bit-replayable in the golden
    # oracle).  The size table is n_clusters rows -> broadcast.
    sizes = slim.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__csize")
    )
    n_sub = F.ceil(F.col("__csize") / F.lit(cap)).cast("long")
    salt = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.lit("sub"),
                        F.lit(str(seed)),
                        F.col("id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        n_sub,
    )
    slim = (
        slim.join(sizes.hint("broadcast"), "cluster")
        .withColumn(
            "cluster",
            F.concat_ws(
                "#", F.col("cluster").cast("string"), salt.cast("string")
            ),
        )
        .select("cluster", "id")
    )
    a = slim.select("cluster", F.col("id").alias("id_a"))
    b = slim.select("cluster", F.col("id").alias("id_b"))
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    thr = 1.0 - eps
    return (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .select("cluster", "id_a", "id_b")
        .join(
            vecs.select(
                F.col("id").alias("id_a"),
                F.col("__v").alias("__va"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .select(
            "cluster",
            "id_a",
            "id_b",
            F.round(
                cosine_given_norms(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= thr)
    )


def per_cluster_components(
    pairs: DataFrame, cluster_col: str = "cluster"
) -> DataFrame:
    """Connected components when every edge is CONFINED to a cluster key
    — which SemDeDup guarantees by construction (pairs only form within a
    k-means cluster).  One shuffle keyed by the cluster + a per-group
    union-find in an Arrow batch: no iterative label propagation, no
    checkpoint rounds, and the per-group state is bounded by the cluster
    size (rows-per-cluster choose 2 edges max).  Returns (id, rep) with
    rep = min member id, same semantics as the generic
    ``dedup.connected_components``."""

    def _components(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(u):
            while parent.setdefault(u, u) != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for a, b in zip(pdf["id_a"], pdf["id_b"]):
            a, b = int(a), int(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        rows = sorted(parent)
        return pd.DataFrame(
            {"id": rows, "rep": [find(u) for u in rows]}
        )

    return (
        pairs.select(cluster_col, "id_a", "id_b")
        .groupBy(cluster_col)
        .applyInPandas(_components, "id long, rep long")
    )


def semantic_dedup_drops(
    df: DataFrame,
    dim: int,
    eps: float = 0.05,
    n_clusters: int | None = None,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_cluster: int = 64,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Rows a SemDeDup pass would DROP: components over the
    within-cluster near-dup pairs (one-shuffle per-cluster union-find —
    edges never cross clusters, so no iterative global propagation is
    needed), keep the min-id representative of each component
    (deterministic), drop the rest.  Returns (vec_id)."""
    pairs = semantic_dedup_pairs(
        df,
        dim,
        eps=eps,
        n_clusters=n_clusters,
        iters=iters,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        rows_per_cluster=rows_per_cluster,
        max_cluster_size=max_cluster_size,
    )
    comps = per_cluster_components(pairs)
    return comps.where(F.col("id") != F.col("rep")).select(
        F.col("id").alias(id_col)
    )


def hard_negative_pairs(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the k
    most-similar vectors with a DIFFERENT label (the negatives a random
    sampler never finds).  Exact form: slim (id, label, vec, norm)
    projection — norms precomputed per row, never per pair — theta-join
    on label mismatch, cosine, per-anchor top-k window on the ROUNDED
    score.  This bounded-slice exact form defines the semantics; the
    100 TB path swaps the pair source for ANN candidates (LSH buckets /
    IVF lists / PQ-ADC shortlists, all above) filtered on label
    mismatch, identical scoring."""
    v = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(label_col).alias("lbl"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("n", l2_norm(F.col("v")))
        .where(F.col("n") > 0)
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b,
        (F.col("a.id") != F.col("b.id")) & (F.col("a.lbl") != F.col("b.lbl")),
    ).select(
        F.col("a.id").alias("anchor_id"),
        F.col("b.id").alias("negative_id"),
        F.round(
            cosine_given_norms(
                F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("anchor_id", "negative_id", "cos_sim", "rank")
    )
