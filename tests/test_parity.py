"""Golden-label parity: Spark pipeline vs pure-Python reference labeler.

This is the BASELINE.json criterion at test scale: keep/drop F1 ≥ 0.99
(we assert exact agreement, which implies it) and byte-equal scrubbed text
under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import random

import pytest

from data_caterer_spark.fixtures import TOOLS, generate_transcripts, transcripts_df
from data_caterer_spark.labeler import ReferenceLabeler
from data_caterer_spark.plans.pipeline import QualityFilterPipeline


@pytest.fixture(scope="module")
def fixture_rows():
    return generate_transcripts(n_convs=150, seed=42)


@pytest.fixture(scope="module")
def golden(fixture_rows):
    return {
        (t.conv_id, t.turn_idx): t
        for t in ReferenceLabeler().label_rows(fixture_rows)
    }


def _run_pipeline(spark, fixture_rows):
    df = transcripts_df(spark, fixture_rows).repartition(8)
    out = QualityFilterPipeline().run(df)
    return out.select(
        "conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text"
    ).collect()


def _assert_parity(rows, golden):
    assert len(rows) == len(golden)
    mismatch_keep = mismatch_hits = mismatch_text = 0
    tp = fp = fn = 0
    for r in rows:
        g = golden[(r.conv_id, r.turn_idx)]
        if r.keep != g.keep:
            mismatch_keep += 1
        if list(r.rule_hits) != g.rule_hits:
            mismatch_hits += 1
        if r.scrubbed_text != g.scrubbed_text:
            mismatch_text += 1
        if r.keep and g.keep:
            tp += 1
        elif r.keep and not g.keep:
            fp += 1
        elif not r.keep and g.keep:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 1.0
    assert f1 >= 0.99, f"keep/drop F1 {f1} < 0.99"
    assert mismatch_keep == 0, f"{mismatch_keep} keep mismatches"
    assert mismatch_hits == 0, f"{mismatch_hits} rule_hits mismatches"
    assert mismatch_text == 0, f"{mismatch_text} scrubbed_text byte mismatches"


def _off_fixture_rows() -> list[dict]:
    """Rows the generator never produces: ~15% NULL ``role``, ~15% NULL
    ``ts`` and ~10% of non-tool turns carrying a ``tool``."""
    rng = random.Random(5)
    rows = [dict(r) for r in generate_transcripts(n_convs=60, seed=5)]
    for r in rows:
        if rng.random() < 0.15:
            r["role"] = None
        if rng.random() < 0.15:
            r["ts"] = None
        if r["role"] != "tool" and rng.random() < 0.10:
            r["tool"] = rng.choice(TOOLS)
    return rows


def test_pipeline_matches_reference_labels(spark, fixture_rows, golden):
    rows = _run_pipeline(spark, fixture_rows)
    _assert_parity(rows, golden)
    off = _off_fixture_rows()
    assert any(r["role"] is None for r in off) and any(r["ts"] is None for r in off)
    off_golden = {
        (t.conv_id, t.turn_idx): t for t in ReferenceLabeler().label_rows(off)
    }
    _assert_parity(_run_pipeline(spark, off), off_golden)


def test_pipeline_rerun_replaces_its_own_columns(spark, fixture_rows):
    # every stage replaces an input column of the same name, as withColumn
    # does, so labelling a labelled frame again changes nothing
    pipe = QualityFilterPipeline()
    once = pipe.run(transcripts_df(spark, fixture_rows[:200]))
    twice = pipe.run(once)
    assert sorted(twice.columns) == sorted(once.columns)
    assert twice.exceptAll(once.select(*twice.columns)).count() == 0


def test_duplicate_keys_do_not_collide(fixture_rows):
    keys = [(r["conv_id"], r["turn_idx"]) for r in fixture_rows]
    # planted turn-gaps may duplicate (conv, idx)? generator advances idx
    # past gaps, so keys must be unique for the golden dict to be sound
    assert len(set(keys)) == len(keys)


def test_kernel_feature_parity_sql_vs_python(spark, fixture_rows):
    """JVM feature columns == pure-Python kernels on every fixture text."""
    from pyspark.sql import functions as F

    from data_caterer_spark.functions import text as T
    from data_caterer_spark.functions import textcore as tc

    texts = sorted({r["text"] for r in fixture_rows if r["text"] is not None})
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = (
        df.select(
            "text",
            T.token_count("text").alias("n_tokens"),
            T.word_repetition_ratio("text").alias("rep"),
            T.symbol_ratio("text").alias("sym"),
            T.char_run_flag("text").alias("run"),
            T.fingerprint("text").alias("fp"),
        )
        .collect()
    )
    import re

    run_re = re.compile(r"(.)\1{9,}")
    for row in got:
        t = row.text
        assert row.n_tokens == tc.token_count(t), t
        assert row.rep == tc.word_repetition_ratio(t), t
        assert row.sym == tc.symbol_ratio(t), t
        assert row.run == (run_re.search(t) is not None), t
        assert row.fp == tc.fingerprint(t), t


def test_scrub_examples():
    from data_caterer_spark.functions.textcore import scrub_text

    s, hits = scrub_text("mail me at a.b@x.co and call +1 555-123-4567 ok")
    assert s == "mail me at [EMAIL] and call [PHONE] ok"
    assert hits == ["pii_email", "pii_phone"]
    s, hits = scrub_text("card 4111 1111 1111 1111 and ip 10.0.0.1")
    assert s == "card [CARD] and ip [IP]"
    assert hits == ["pii_card", "pii_ip"]
    # sequential semantics: bare digit-run card must NOT also flag phone
    s, hits = scrub_text("card 4111111111111111 end")
    assert s == "card [CARD] end"
    assert hits == ["pii_card"]
    s, hits = scrub_text("that Frakking build")
    assert s == "that [TOX] build"
    assert hits == ["toxicity"]
    assert scrub_text(None) == (None, [])


def test_pipeline_exact_on_hot_conversation(spark):
    """Full pipeline under planted skew: one 30k-turn conversation among
    normal ones — completes, loses no rows, and every hot-conversation
    turn matches the sequential labeler exactly (cross-turn rules
    included, which stress the window ordering on the skewed key)."""
    from data_caterer_spark.fixtures import generate_transcripts
    from data_caterer_spark.fixtures import transcripts_df
    from data_caterer_spark.plans.pipeline import QualityFilterPipeline

    rows = generate_transcripts(n_convs=20, hot_conv_turns=30_000)
    df = transcripts_df(spark, rows).repartition(16)
    out = QualityFilterPipeline().run(df)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["keep"], r["scrubbed_text"])
        for r in out.select(
            "conv_id", "turn_idx", "keep", "scrubbed_text"
        ).collect()
    }
    assert len(got) == len(rows)
    golden = {
        (t.conv_id, t.turn_idx): (t.keep, t.scrubbed_text)
        for t in ReferenceLabeler().label_rows(rows)
    }
    hot = [k for k in golden if k[0] == "CONVHOT00000001"]
    assert len(hot) == 30_000
    for k in hot:
        assert got[k] == golden[k]
