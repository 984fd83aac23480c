"""Quality-classifier tests: distributed-vs-sequential weight trajectory
identity, partitioning invariance (the fixed-point guarantee), planted
separability, and null handling."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_caterer_spark.functions import classifier as CLS

GOOD = [
    "spark executors shuffle partitioned data across the cluster",
    "the query optimizer prunes columns and pushes filters down",
    "broadcast joins keep the big side partitioned in place",
    "adaptive execution replans skewed shuffles at runtime",
    "columnar parquet scans skip row groups by min max stats",
    "the scheduler assigns tasks to executors by data locality",
]
BAD = [
    "zzz qqq xxx lorem ipsum dolor sit amet amet amet",
    "buy cheap buy cheap buy cheap click here now",
    "asdf asdf asdf qwer qwer zxcv zxcv zxcv zxcv",
    "random noise tokens jumble scramble nonsense filler",
    "blah blah blah yada yada yada etc etc etc",
    "one two three four five six seven eight nine ten",
]
ROWS = [(i, t, 1) for i, t in enumerate(GOOD)] + [
    (100 + i, t, 0) for i, t in enumerate(BAD)
]

N_FEATURES = 512


def _df(spark, partitions=4):
    return spark.createDataFrame(
        [(d, t, y) for d, t, y in ROWS], "doc_id long, text string, y int"
    ).repartition(partitions)


def test_spark_train_matches_sequential_exactly(spark):
    m_spark = CLS.train(
        _df(spark), F.col("y") == 1, n_features=N_FEATURES, iters=5, lr=0.5
    )
    m_seq = CLS.train_sequential(
        [(d, t, y) for d, t, y in ROWS], n_features=N_FEATURES, iters=5, lr=0.5
    )
    assert m_spark.weights.tobytes() == m_seq.weights.tobytes()
    assert m_spark.bias == m_seq.bias
    assert m_spark.loss_history_fixed == m_seq.loss_history_fixed


def test_training_is_partitioning_invariant(spark):
    """int64 gradient sums commute: 1 partition and 8 partitions must
    produce the IDENTICAL weight trajectory, not just a close one."""
    m1 = CLS.train(
        _df(spark, 1), F.col("y") == 1, n_features=N_FEATURES, iters=4
    )
    m8 = CLS.train(
        _df(spark, 8), F.col("y") == 1, n_features=N_FEATURES, iters=4
    )
    assert m1.weights.tobytes() == m8.weights.tobytes()
    assert m1.bias == m8.bias


def test_classifier_separates_planted_labels(spark):
    df = _df(spark)
    model = CLS.train(df, F.col("y") == 1, n_features=N_FEATURES, iters=12, lr=1.0)
    out = {r["doc_id"]: r["keep"] for r in CLS.infer(df, model).collect()}
    assert all(out[i] for i in range(len(GOOD)))
    assert not any(out[100 + i] for i in range(len(BAD)))
    # loss decreases over training
    h = model.loss_history_fixed
    assert h[-1] < h[0]


def test_empty_and_null_text_score_bias_only(spark):
    df = spark.createDataFrame(
        [(1, None, 0), (2, "", 0), (3, "spark executors shuffle", 1)],
        "doc_id long, text string, y int",
    )
    model = CLS.train(df, F.col("y") == 1, n_features=64, iters=2)
    rows = {r["doc_id"]: r for r in CLS.infer(df, model).collect()}
    # featureless docs score sigmoid(bias) — identical for both
    assert rows[1]["score_fixed"] == rows[2]["score_fixed"]


def _spy_reductions(monkeypatch):
    """Record which reduction shape each ``train`` iteration calls."""
    used = []

    def spy(name):
        fn = getattr(CLS, name)

        def reduce(*args):
            used.append(name)
            return fn(*args)

        return reduce

    for name in ("_reduce_dense", "_reduce_sparse"):
        monkeypatch.setattr(CLS, name, spy(name))
    return used


def test_sparse_partials_match_dense_bit_exactly(spark, monkeypatch):
    """The fastText-scale sparse (bucket, sum) + combinable-groupBy
    reduction must produce the IDENTICAL weight trajectory as the dense
    per-partition rows and the sequential replay — integer sums commute
    regardless of the reduction wire shape.  Lowering the threshold below
    ``N_FEATURES`` sends the same-size run down the sparse path."""
    used = _spy_reductions(monkeypatch)
    kw = dict(n_features=N_FEATURES, iters=5, lr=0.5)
    m_dense = CLS.train(_df(spark), F.col("y") == 1, **kw)
    assert set(used) == {"_reduce_dense"}
    used.clear()
    monkeypatch.setattr(CLS, "SPARSE_FEATURES_THRESHOLD", N_FEATURES - 1)
    m_sparse = CLS.train(_df(spark, 8), F.col("y") == 1, **kw)
    assert set(used) == {"_reduce_sparse"}
    m_seq = CLS.train_sequential([(d, t, y) for d, t, y in ROWS], **kw)
    assert m_sparse.weights.tobytes() == m_dense.weights.tobytes()
    assert m_sparse.weights.tobytes() == m_seq.weights.tobytes()
    assert m_sparse.bias == m_dense.bias == m_seq.bias
    assert (
        m_sparse.loss_history_fixed
        == m_dense.loss_history_fixed
        == m_seq.loss_history_fixed
    )


def test_auto_mode_picks_sparse_above_threshold(spark, monkeypatch):
    """``n_features`` alone picks the reduction: dense up to and at
    ``SPARSE_FEATURES_THRESHOLD``, sparse above it — and the sparse run
    still replays the sequential trainer bit for bit."""
    assert CLS.SPARSE_FEATURES_THRESHOLD < 2**21  # fastText default size
    used = _spy_reductions(monkeypatch)
    for nf, shape in [
        (CLS.SPARSE_FEATURES_THRESHOLD, "_reduce_dense"),
        (CLS.SPARSE_FEATURES_THRESHOLD + 1, "_reduce_sparse"),
    ]:
        used.clear()
        kw = dict(n_features=nf, iters=3, lr=0.5)
        m = CLS.train(_df(spark, 8), F.col("y") == 1, **kw)
        assert set(used) == {shape}, nf
        if shape == "_reduce_sparse":
            m_seq = CLS.train_sequential(
                [(d, t, y) for d, t, y in ROWS], **kw
            )
            assert m.weights.tobytes() == m_seq.weights.tobytes(), nf
            assert m.bias == m_seq.bias, nf
            assert m.loss_history_fixed == m_seq.loss_history_fixed, nf


def test_sparse_reduction_shape_no_dense_rows_to_driver(spark):
    """Plan + payload shape of the sparse path: map-side partial
    aggregate before the exchange (combinable groupBy on 8-byte keys),
    and the collected result is (bucket, val) pairs bounded by nnz+3 —
    nothing n_features-dense crosses to the driver."""
    feat = CLS.featurize(
        _df(spark, 4).select("doc_id", "text", "y"),
        F.col("y") == 1,
        N_FEATURES,
    ).persist()
    feat.count()
    try:
        w = np.zeros(N_FEATURES, dtype=np.float64)
        bc = spark.sparkContext.broadcast((w.tobytes(), 0.0))
        sp = CLS._sparse_partials_df(feat, bc, N_FEATURES)
        plan = sp._jdf.queryExecution().executedPlan().toString()
        # partial agg -> exchange -> final agg: the combine happens
        # BEFORE the shuffle, and the row payload is two longs
        assert plan.count("HashAggregate") >= 2
        assert "Exchange hashpartitioning(bucket" in plan
        rows = sp.collect()
        assert len(rows[0].asDict()) == 2  # (bucket, val) only
        assert len(rows) <= N_FEATURES + 3
        # sentinel scalars present exactly once each after the combine
        sentinels = [r["bucket"] for r in rows if r["bucket"] < 0]
        assert sorted(sentinels) == [-3, -2, -1]
    finally:
        feat.unpersist()


def test_partial_gradient_pass_is_shuffle_free(spark):
    """The per-iteration pass must be mapInPandas over the persisted
    features with NO exchange (the treeAggregate shape)."""
    feat = CLS.featurize(
        _df(spark, 4).select("doc_id", "text", "y"),
        F.col("y") == 1,
        N_FEATURES,
    )
    plan = feat._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    # featurize itself adds no exchange beyond the input's repartition
    assert plan.count("Exchange") <= 1
