"""Window-operator tests: turn ordering, salted aggregation, skew safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_caterer_spark.fixtures import generate_transcripts_df
from data_caterer_spark.operators.windows import (
    salted_conversation_stats,
    with_turn_order_features,
)


@pytest.fixture(scope="module")
def hot(spark):
    # one pathological conversation with 100k turns among 50 normal ones
    # (SURVEY.md §7.4: planted hot key)
    return generate_transcripts_df(
        spark, n_convs=50, hot_conv_turns=100_000, num_partitions=16
    ).localCheckpoint()


def test_turn_order_features_correct(spark):
    df = generate_transcripts_df(spark, n_convs=40)
    out = with_turn_order_features(df)
    rows = sorted(
        ((r["conv_id"], r["turn_idx"], r["prev_turn_idx"], r["turn_rank"])
         for r in out.collect())
    )
    by_conv: dict[str, list] = {}
    for conv, idx, prev, rank in rows:
        by_conv.setdefault(conv, []).append((idx, prev, rank))
    for conv, turns in by_conv.items():
        turns.sort()
        assert turns[0][1] is None  # first turn has no lag
        assert [t[2] for t in turns] == list(range(1, len(turns) + 1))
        for (i0, _, _), (i1, p1, _) in zip(turns, turns[1:]):
            assert p1 == i0  # lag chains through sorted turn order


def test_salted_stats_equal_plain_groupby(hot):
    got = {
        r["conv_id"]: (r["conv_len"], r["conv_min_idx"], r["conv_max_idx"])
        for r in salted_conversation_stats(hot).collect()
    }
    want = {
        r["conv_id"]: (r["n"], r["mn"], r["mx"])
        for r in hot.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("turn_idx").alias("mn"),
            F.max("turn_idx").alias("mx"),
        )
        .collect()
    }
    assert got == want
    assert got["CONVHOT00000001"][0] == 100_000


def test_salted_partials_bounded(hot):
    # the stage-1 partial aggregate spreads the hot conversation over the
    # salt buckets: no single (conv, salt) group exceeds len/buckets
    from data_caterer_spark.operators.windows import DEFAULT_SALT_BUCKETS

    partial = hot.groupBy(
        "conv_id", F.pmod(F.col("turn_idx"), F.lit(DEFAULT_SALT_BUCKETS)).alias("s")
    ).agg(F.count(F.lit(1)).alias("n"))
    mx = partial.where(F.col("conv_id") == "CONVHOT00000001").agg(
        F.max("n")
    ).first()[0]
    assert mx <= 100_000 / DEFAULT_SALT_BUCKETS + 1


def test_window_survives_hot_conversation(hot):
    # streaming-frame lag/row_number over a 100k-turn conversation: must
    # complete (sort-based, not buffered) and rank correctly at the tail
    out = with_turn_order_features(hot)
    tail = (
        out.where(F.col("conv_id") == "CONVHOT00000001")
        .orderBy(F.desc("turn_idx"))
        .select("turn_idx", "turn_rank", "prev_turn_idx")
        .limit(1)
        .collect()[0]
    )
    assert tail["turn_rank"] == 100_000
    assert tail["prev_turn_idx"] == tail["turn_idx"] - 1


def test_budget_prefix_keeps_ordered_prefix(spark):
    from data_caterer_spark.operators.windows import budget_prefix

    rows = [("c1", 0, 100), ("c1", 1, 200), ("c1", 2, 250), ("c1", 3, 10),
            ("c2", 0, 600), ("c3", 0, 500)]
    df = spark.createDataFrame(rows, "conv string, idx int, cost int")
    out = budget_prefix(df, "conv", "idx", "cost", budget=500)
    got = sorted((r["conv"], r["idx"], r["cum_cost"]) for r in out.collect())
    # c1: 100, 300 fit; 550 exceeds -> idx 2 AND everything after it drop
    # (prefix semantics: the later cheap turn idx=3 must NOT sneak back in)
    assert got == [("c1", 0, 100), ("c1", 1, 300), ("c3", 0, 500)]


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    from data_caterer_spark.operators.windows import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", base),
        ("u1", base + dt.timedelta(minutes=10)),     # same session
        ("u1", base + dt.timedelta(minutes=50)),     # 40min gap -> new
        ("u2", base),                                # separate key
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    out = {(r["user"], r["ts"].minute): r["session_id"]
           for r in sessionize(df, "user", "ts", gap_s=1800).collect()}
    assert out[("u1", 0)] == out[("u1", 10)] == 1
    assert out[("u1", 50)] == 2
    assert out[("u2", 0)] == 1


def test_sessionize_single_exchange(spark):
    from data_caterer_spark.operators.windows import sessionize

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = sessionize(df, "user_id", "ts")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # both windows share one shuffle


def test_concat_pack_bins_and_invariance(spark, sf_dir):
    """GPT-style concat packing: offsets stay inside the budget, bin count
    matches ceil(total/budget), assignment is identical on any input
    partitioning (the distributed two-stage sum is cluster-size
    invariant), and the plan has no single-partition global window."""
    from data_caterer_spark.operators.windows import concat_pack

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    ).where("n_chars IS NOT NULL")
    out = concat_pack(docs, budget=5000, size_col="n_chars")
    rows = out.collect()
    assert all(0 <= r["bin_offset"] < 5000 for r in rows)
    total = sum(r["n_chars"] for r in rows)
    assert max(r["bin"] for r in rows) + 1 == -(-total // 5000)
    again = {
        r["doc_id"]: (r["bin"], r["bin_offset"])
        for r in concat_pack(
            docs.repartition(7), budget=5000, size_col="n_chars"
        ).collect()
    }
    assert {r["doc_id"]: (r["bin"], r["bin_offset"]) for r in rows} == again
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window must be keyed (per range partition), never a global
    # single-partition sort: no Exchange SinglePartition anywhere
    assert "SinglePartition" not in plan


def test_concat_pack_exact_past_double_mantissa(spark):
    """bin must come from EXACT integer division: once the cumulative
    size passes 2^53 a double-typed floor(a/b) rounds (off-by-one bins
    inconsistent with the exact long offset beside them).  Verified
    against a pure-Python exact replay of the same md5 stream order."""
    import hashlib

    from data_caterer_spark.operators.windows import concat_pack

    budget = 4
    sizes = {1: (1 << 53) + 3, 2: 1, 3: 2, 4: (1 << 52) + 1, 5: 3}
    df = spark.createDataFrame(
        [(k, v) for k, v in sizes.items()], "doc_id long, sz long"
    )
    got = {
        r["doc_id"]: (r["bin"], r["bin_offset"])
        for r in concat_pack(df, budget=budget, size_col="sz").collect()
    }
    order = sorted(
        sizes, key=lambda i: (hashlib.md5(f"42\x1f{i}".encode()).hexdigest(), i)
    )
    cum = 0
    for doc in order:
        assert got[doc] == (cum // budget, cum % budget), doc
        cum += sizes[doc]


def test_sliding_chunks_overlap_semantics(spark):
    from data_caterer_spark.operators.windows import sliding_chunks

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "a b"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_text"])
        for r in sliding_chunks(df, window=4, stride=2).collect()
    )
    # doc 1: 10 tokens, window 4 stride 2 -> ceil((10-4)/2)+1 = 4 chunks
    d1 = [r for r in rows if r[0] == 1]
    assert [r[1] for r in d1] == [0, 1, 2, 3]
    assert d1[0][3] == "w0 w1 w2 w3"
    assert d1[1][3] == "w2 w3 w4 w5"      # overlap = window - stride
    assert d1[3][3] == "w6 w7 w8 w9"
    # short doc -> ONE (possibly short) chunk; empty/null -> none
    assert [r for r in rows if r[0] == 2] == [(2, 0, 2, "a b")]
    assert not [r for r in rows if r[0] in (3, 4)]


def test_sliding_chunks_is_shuffle_free(spark):
    from data_caterer_spark.operators.windows import sliding_chunks

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        sliding_chunks(df, window=2, stride=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_tool_call_integrity_flags(spark):
    from data_caterer_spark.operators.windows import (
        tool_call_integrity_flags,
    )

    rows = [
        # well-formed: user -> assistant -> tool(search)
        ("c1", 0, "user", None),
        ("c1", 1, "assistant", None),
        ("c1", 2, "tool", "search"),
        # tool with no preceding assistant call AND no name
        ("c2", 0, "tool", None),
        # user turn carrying a tool name
        ("c2", 1, "user", "code"),
        # NULL role carrying a tool name counts as wrong-role
        ("c2", 2, None, "browser"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string"
    )
    out = {
        (r.conv_id, r.turn_idx): r
        for r in tool_call_integrity_flags(df).collect()
    }
    ok = out[("c1", 2)]
    assert not (ok.tool_missing_name or ok.tool_on_wrong_role
                or ok.tool_no_request)
    bad = out[("c2", 0)]
    assert bad.tool_missing_name and bad.tool_no_request
    assert out[("c2", 1)].tool_on_wrong_role
    assert out[("c2", 2)].tool_on_wrong_role
    # flags are never NULL (three-valued logic guarded)
    for r in out.values():
        assert r.tool_missing_name is not None
        assert r.tool_on_wrong_role is not None
        assert r.tool_no_request is not None
