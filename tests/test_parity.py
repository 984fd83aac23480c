"""Golden-label parity: Spark pipeline vs pure-Python reference labeler.

This is the BASELINE.json criterion at test scale: keep/drop F1 ≥ 0.99
(we assert exact agreement, which implies it) and byte-equal scrubbed text
under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import datetime
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


#: texts whose whitespace, case mapping or character runs differ between
#: the engines or between text and bytes: NULL, a vertical tab (no token
#: separator, yet bytes.split splits on it), an information separator
#: (str.split splits on it), U+3000, Greek final sigma, a dotted capital
#: I (lowers to two characters), the Kelvin sign (lowers to ASCII k),
#: and runs of \r, \n, é and an emoji
EDGE_TEXTS = [
    None,
    "",
    "\x0b",
    "\x1c",
    "\u3000",
    "a\x0bb c\x1cd e\u3000f",
    "ΟΔΟΣ οδοσ ΟΔΟΣ ΣΑΣ",
    "İ İstanbul iSTANBUL",
    "\u212a\u212a kelvin",
    "a" + "\r" * 12,
    "a" + "\n" * 12 + "b",
    "caf" + "é" * 12,
    "ok " + "\U0001F600" * 12,
    "Aaaaaaaaaa",
    "aaaaaaaaaa",
]


def _edge_rows() -> list[dict]:
    """One conversation whose turns are :data:`EDGE_TEXTS`."""
    return [
        {
            "conv_id": "CONVEDGE0001",
            "turn_idx": i,
            "role": ("user", "assistant")[i % 2],
            "text": t,
            "tool": None,
            "ts": datetime.datetime(2025, 1, 1, 0, 0, i),
        }
        for i, t in enumerate(EDGE_TEXTS)
    ]


def test_pipeline_matches_reference_labels(spark, fixture_rows, golden):
    rows = _run_pipeline(spark, fixture_rows)
    _assert_parity(rows, golden)
    off = _off_fixture_rows() + _edge_rows()
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
    """JVM feature columns == pure-Python kernels == the fused batch
    kernel on every fixture text and every edge text."""
    from data_caterer_spark.functions import text as T
    from data_caterer_spark.functions import textcore as tc

    fixture_texts = sorted({r["text"] for r in fixture_rows if r["text"] is not None})
    texts = [*fixture_texts, *EDGE_TEXTS]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = (
        df.select(
            "i",
            T.token_count("text").alias("n_tokens"),
            T.word_repetition_ratio("text").alias("rep"),
            T.symbol_ratio("text").alias("sym"),
            T.char_run_flag("text").alias("run"),
            T.fingerprint("text").alias("fp"),
        )
        .orderBy("i")
        .collect()
    )
    batch = list(zip(*tc.turn_features(texts, 10)))
    for row, t, b in zip(got, texts, batch):
        jvm = (row.n_tokens, row.rep, row.sym, row.run)
        assert jvm == b, t
        if t is None:
            assert jvm == (None,) * 4 and row.fp is None
            continue
        assert row.n_tokens == tc.token_count(t), t
        assert row.rep == tc.word_repetition_ratio(t), t
        assert row.sym == tc.symbol_ratio(t), t
        assert row.run == tc.has_char_run(t, 10), t
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
