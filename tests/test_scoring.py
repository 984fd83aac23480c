"""The shared model stage (functions/scoring.py) and the batch kernels
behind it (functions/textcore.py).

Every public model stage must score each row exactly as the model's
per-row method does — with a custom model, not just the default one —
and every model-free text stage as its per-row kernel does, reusing its
UDF when a plan is rebuilt; each must map NULL and empty text the same
way and leave no temporary column behind.  The stage must hold no model
after it dies, and every vector and classifier scorer built on it must
map a NULL input as its documented rule says.  The batch kernels must
equal the per-row methods bit for bit, and keep the bits they had before
the grouped gather was rewritten (a pinned digest)."""

from __future__ import annotations

import gc
import hashlib
import importlib
import struct
import sys
import zipfile
import zipimport

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from data_caterer_spark.fixtures import generate_transcripts
from data_caterer_spark.functions import bpe, docs, scoring
from data_caterer_spark.functions.classifier import (
    QualityClassifier,
    featurize,
    featurize_doc,
    score_doc,
    score_keyed,
)
from data_caterer_spark.functions.langid import (
    with_language,
    with_language_margin,
)
from data_caterer_spark.functions.perplexity import with_perplexity
from data_caterer_spark.functions import textcore as tc
from data_caterer_spark.functions.scoring import (
    default_langid,
    default_ppl,
    with_model_scores,
    with_turn_scores,
)
from data_caterer_spark.functions.textcore import LangIdModel, PerplexityModel
from data_caterer_spark.golden import _spark_round
from data_caterer_spark.operators import dedup, selection, similarity

LM = LangIdModel.train(
    {
        "aa": "the quick brown fox jumps over the lazy dog " * 20,
        "bb": "zyx wvut srqp onml kjih gfed cba zyx wvut " * 20,
        "cc": "lorem ipsum dolor sit amet consectetur adipiscing " * 20,
    }
)
PM = PerplexityModel.train("lorem ipsum dolor sit amet consectetur adipiscing " * 20)

# texts whose case mapping, whitespace or UTF-8 length is unusual: a
# batch kernel that cleaned or split the whole batch at once would differ
# from the per-row methods on them
EDGE_TEXTS = [
    "a",
    "ab",
    "\x00",
    "İ ẞ Σ Ÿ \u212a",
    "ΣΑΣ the quick brown fox ΟΔΟΣ",
    "lorem\x1cipsum\x1ddolor\x1esit\x1famet\x85consectetur\u3000adipiscing",
    "\x00the quick brown\x00fox jumps",
    "a\x0bb c\x0cd\x1ce\u3000f",
    "\u212a\u212a kelvin",
    "a" + "\r" * 12,
    "caf" + "é" * 12,
    "ok " + "\U0001F600" * 12,
    ("the quick brown fox İẞ dolor sit Ÿ amet \u212a " * 260)[:10_500],
]

TEXTS = [
    None,
    "",
    "the quick brown fox jumps over the lazy dog",
    "zyx wvut srqp onml kjih",
    "lorem ipsum dolor sit amet",
    "ok",
    "mixed: the lazy dog dolor sit amet",
    *EDGE_TEXTS,
]

# stage name -> (stage call, expected output columns for one text)
def features_one(t, run):
    """The per-row (n_tokens, rep_ratio, symbol_ratio, has_char_run)."""
    if t is None:
        return (None,) * 4
    return (
        tc.token_count(t),
        tc.word_repetition_ratio(t),
        tc.symbol_ratio(t),
        tc.has_char_run(t, run),
    )


def scores_one(t, lm, pm):
    """The per-row (lang, lang_score, ppl)."""
    return (*lm.predict_one(t), pm.score_one(t))


MERGES = bpe.train_bpe({"the": 9, "quick": 4, "lorem": 5, "dolor": 3, "ipsum": 2}, 12)
RANKS = {m: i for i, m in enumerate(MERGES)}


def bpe_one(t):
    toks = bpe.tokenize_text(t, RANKS)
    return {"bpe_tokens": toks, "n_bpe_tokens": len(toks)}


def compression_one(t):
    """The per-row compression columns; the ratio rounded as Spark's
    ``round`` does, and NULL for an empty text (a zero byte length)."""
    if t is None:
        return dict.fromkeys(("raw_bytes", "comp_bytes", "comp_ratio", "flag_repetitive"))
    raw, comp = len(t.encode("utf-8")), docs.compressed_len(t)
    ratio = comp / raw if raw else None
    return {
        "raw_bytes": raw,
        "comp_bytes": comp,
        "comp_ratio": None if ratio is None else _spark_round(ratio, 6),
        "flag_repetitive": None if ratio is None else ratio < 0.4,
    }


def featurize_stage(df):
    """``featurize`` keyed back onto the input rows; a NULL label is 0."""
    feat = featurize(df, F.lit(None), 64, id_col="id").withColumnRenamed("doc_id", "id")
    return df.join(feat, "id")


STAGES = {
    "with_language": (
        lambda df: with_language(df, model=LM),
        lambda t: dict(zip(("lang", "lang_score"), LM.predict_one(t))),
    ),
    "with_language_margin": (
        lambda df: with_language_margin(df, model=LM),
        lambda t: dict(zip(("lang_pred", "lang_margin"), LM.predict_margin_one(t))),
    ),
    "with_perplexity": (
        lambda df: with_perplexity(df, model=PM),
        lambda t: {"ppl": PM.score_one(t)},
    ),
    "with_model_scores": (
        lambda df: with_model_scores(df, langid_model=LM, ppl_model=PM),
        lambda t: {
            **dict(zip(("lang", "lang_score"), LM.predict_one(t))),
            "ppl": PM.score_one(t),
        },
    ),
    "with_turn_scores": (
        lambda df: with_turn_scores(df, 4, langid_model=LM, ppl_model=PM),
        lambda t: dict(
            zip(scoring.TURN_SCORE_FIELDS, features_one(t, 4) + scores_one(t, LM, PM))
        ),
    ),
    "with_minhash_signature": (
        lambda df: dedup.with_minhash_signature(df, num_hashes=8, k=2, seed=3),
        lambda t: {
            "minhash_sig": dedup.minhash_signature(t, 2, dedup._perm_params(8, 3)).tolist()
        },
    ),
    "with_simhash": (
        lambda df: dedup.with_simhash(df, k=2),
        lambda t: {"simhash": dedup.simhash_fingerprint(t, 2)},
    ),
    "with_bpe_tokens": (
        lambda df: bpe.with_bpe_tokens(df, MERGES, tokens_col="bpe_tokens"),
        bpe_one,
    ),
    "with_compression_ratio": (docs.with_compression_ratio, compression_one),
    "featurize": (
        featurize_stage,
        lambda t: dict(zip(("y", "buckets", "counts", "total"), (0, *featurize_doc(t, 64)))),
    ),
}


@pytest.mark.parametrize("name", sorted(STAGES))
def test_model_stage_matches_per_row_kernel(spark, name):
    stage, expected = STAGES[name]
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
    out = stage(df)
    fields = list(expected("x"))
    assert out.columns == ["id", "text", *fields]
    got = {r["id"]: r.asDict() for r in out.collect()}
    assert len(got) == len(TEXTS)
    for i, t in enumerate(TEXTS):
        row = got[i]
        assert {f: row[f] for f in fields} == expected(t), (name, t)


def test_model_stage_broadcasts_each_model_once_per_context(spark, monkeypatch):
    sc = spark.sparkContext
    calls = []
    real = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda v: calls.append(v) or real(v))
    built = []
    real_udf = scoring._stage_udf
    monkeypatch.setattr(
        scoring, "_stage_udf", lambda *a: built.append(a[1]) or real_udf(*a)
    )
    lm = LangIdModel.train({"aa": "the lazy dog " * 20, "bb": "dolor sit amet " * 20})
    pm = PerplexityModel.train("dolor sit amet " * 20)
    df = spark.createDataFrame([(0, "the lazy dog sat")], "id int, text string")
    for _ in range(3):
        with_model_scores(df, langid_model=lm, ppl_model=pm).collect()
    with_language(df, model=lm).collect()
    assert [id(v) for v in calls] == [id(lm), id(pm)]
    # and one stage UDF per (models, fields), reused while the kernel is the same
    assert [list(f) for f in built] == [["lang", "lang_score", "ppl"], ["lang", "lang_score"]]
    # the fused stage: a rebuilt plan with the same run length reuses the
    # UDF, another run length builds one
    for run in (10, 10, 7):
        with_turn_scores(df, run, langid_model=lm, ppl_model=pm).collect()
    assert [list(f) for f in built[2:]] == [list(scoring.TURN_SCORE_FIELDS)] * 2
    assert [id(v) for v in calls] == [id(lm), id(pm)]


def test_row_kernel_stages_build_one_udf_per_parameter_set(spark, monkeypatch):
    """The model-free text stages reuse their UDF when a plan is rebuilt
    with the same parameters.  (``with_bpe_tokens`` stages the caller's
    merge table, a new model per call.)"""
    monkeypatch.setattr(scoring, "_built", (None, {}))  # nothing built yet
    built = []
    real_udf = scoring._stage_udf
    monkeypatch.setattr(
        scoring, "_stage_udf", lambda *a: built.append(list(a[1])) or real_udf(*a)
    )
    df = spark.createDataFrame([(0, "the lazy dog sat")], "id int, text string")
    stages = [
        lambda: dedup.with_minhash_signature(df, num_hashes=4, k=1, seed=11),
        lambda: dedup.with_simhash(df, k=5),
        lambda: docs.with_compression_ratio(df),
        lambda: featurize(df, F.lit(1), 16, id_col="id", include_bigrams=False),
    ]
    for stage in stages:
        stage().collect()
        stage().collect()
    assert built == [["minhash_sig"], ["simhash"], ["comp_bytes"], ["buckets", "counts", "total"]]


def test_model_stage_forgets_a_dead_model(spark):
    df = spark.createDataFrame([(0, "the lazy dog sat")], "id int, text string")
    pm = PerplexityModel.train("dolor sit amet " * 20)
    with_perplexity(df, model=pm).collect()
    dead = id(pm)
    del pm
    gc.collect()
    held = scoring._built[1]
    assert [k for k in held if k == dead or (isinstance(k, tuple) and dead in k[0])] == []
    # a model staged afterwards (it may reuse the id) scores with its own values
    other = PerplexityModel.train("the quick brown fox " * 20)
    got = with_perplexity(df, model=other).first()["ppl"]
    assert got == other.score_one("the lazy dog sat")


VEC_DIM = 8
_rng = np.random.default_rng(7)
CENTROIDS = _rng.normal(size=(4, VEC_DIM))
BOOKS = similarity.pq_fit_codebooks(_rng.normal(size=(32, VEC_DIM)), 2, 4)
CLASSIFIER = QualityClassifier(_rng.normal(size=64), 0.3, 64)


def _null_vector_vs_zeros(stage):
    """The stage's outputs for a NULL vector and for an all-zeros one."""

    def run(spark):
        df = spark.createDataFrame(
            [(0, None), (1, [0.0] * VEC_DIM), (2, [float(i) - 3 for i in range(VEC_DIM)])],
            "id int, v array<float>",
        )
        rows = {r["id"]: r.asDict() for r in stage(df).drop("v").collect()}
        assert len(rows) == 3
        del rows[0]["id"], rows[1]["id"]
        return rows[0], rows[1]

    return run


def _null_text_vs_score_doc(spark):
    df = spark.createDataFrame([(0, None), (1, "the lazy dog")], "id int, text string")
    rows = {r["id"]: r for r in score_keyed(df, CLASSIFIER, ["id"], "text").collect()}
    m = CLASSIFIER
    return (
        (rows[0]["score_fixed"], rows[0]["keep"]),
        score_doc(None, m.weights, m.bias, m.n_features, m.include_bigrams),
    )


NULL_CASES = {
    "with_lsh_buckets": _null_vector_vs_zeros(
        lambda df: similarity.with_lsh_buckets(df, VEC_DIM, 3, 6, vec_col="v")
    ),
    "with_lsh_buckets_multiprobe": _null_vector_vs_zeros(
        lambda df: similarity.with_lsh_buckets(df, VEC_DIM, 3, 6, vec_col="v", probes=2)
    ),
    "with_ivf_list": _null_vector_vs_zeros(
        lambda df: similarity.with_ivf_list(df, CENTROIDS, vec_col="v", probes=2)
    ),
    "with_pq_codes": _null_vector_vs_zeros(
        lambda df: similarity.with_pq_codes(df, BOOKS, vec_col="v")
    ),
    "pq_adc_topk": _null_vector_vs_zeros(
        lambda df: similarity.pq_adc_topk(
            df, BOOKS, [1.0] * VEC_DIM, k=10, id_col="id", vec_col="v"
        )
    ),
    "with_cluster_dist": _null_vector_vs_zeros(
        lambda df: selection.with_cluster_dist(df, CENTROIDS, vec_col="v")
    ),
    "score_keyed": _null_text_vs_score_doc,
}


@pytest.mark.parametrize("name", sorted(NULL_CASES))
def test_null_input_scores_by_the_stage_rule(spark, name):
    """A NULL vector scores as an all-zeros vector; a NULL text as
    ``score_doc(None, ...)``."""
    got, expected = NULL_CASES[name](spark)
    assert got == expected


def bits(value):
    """A kernel output as comparable bytes: floats by their IEEE-754 bits."""
    if isinstance(value, (tuple, list)):
        return tuple(bits(v) for v in value)
    return struct.pack("<d", value) if isinstance(value, float) else value


def batch_rows(texts, lm, pm, run):
    """Per-row (lang, lang_score, lang_pred, margin, ppl, then the fused
    kernel's seven outputs) from the batch kernels, and the same from the
    per-row methods."""
    batch = list(
        zip(
            *lm.predict(texts),
            *lm.predict_margin(texts),
            pm.score(texts),
            *tc.turn_scores(lm, pm, texts, run),
        )
    )
    one = [
        (
            *lm.predict_one(t),
            *lm.predict_margin_one(t),
            pm.score_one(t),
            *features_one(t, run),
            *scores_one(t, lm, pm),
        )
        for t in texts
    ]
    return batch, one


EDGE_ALPHABET = (
    "abcdefghij tns\n\t.,éàçñüß" "İẞΣςŸ\u212a" "\x00\x0b\x0c\r\x1c\x1d\x1e\x1f\x85\u3000"
    "AB\U0001F600"
)

# texts made of runs, so that every run length near the limit occurs
RUNS = st.lists(
    st.tuples(st.sampled_from(EDGE_ALPHABET), st.integers(1, 12)), max_size=6
).map(lambda parts: "".join(c * k for c, k in parts))

# many rows of one gram count: equal-length texts over letters the
# cleaning keeps one byte each
SAME_GRAM_COUNT = st.integers(0, 40).flatmap(
    lambda k: st.lists(
        st.text(alphabet="abcdefghijklmnop", min_size=k, max_size=k),
        min_size=2,
        max_size=40,
    )
)

BATCHES = st.one_of(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=EDGE_ALPHABET, max_size=60),
            RUNS,
            st.sampled_from(["", *EDGE_TEXTS]),
        ),
        max_size=40,
    ),
    SAME_GRAM_COUNT,
)


@given(BATCHES, st.integers(1, 11))
@settings(max_examples=300, deadline=None)
def test_batch_kernels_equal_per_row_bits(texts, run):
    for lm, pm in ((default_langid(), default_ppl()), (LM, PM)):
        batch, one = batch_rows(texts, lm, pm, run)
        assert bits(batch) == bits(one)


# computed with the per-text grouped-gather kernels this package shipped
# before the one-pass gram gather replaced them
PINNED_DIGEST = "a5388a08f7c5883277505df1ff47664b714e06e8cb8efaec055061483603f7fc"


def test_batch_kernels_keep_pinned_bits():
    texts = [r["text"] for r in generate_transcripts(200, seed=7)]
    assert len(texts) == 1463 and texts.count(None) == 3
    lm, pm = default_langid(), default_ppl()
    langs, scores = lm.predict(texts)
    mlangs, margins = lm.predict_margin(texts)
    digest = hashlib.sha256()
    digest.update("\x00".join(langs).encode())
    digest.update("\x00".join(mlangs).encode())
    for xs in (scores, margins, pm.score(texts)):
        digest.update(np.asarray(xs, dtype="<f8").tobytes())
    assert digest.hexdigest() == PINNED_DIGEST


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ zipimport is lazy")
def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"

    def write(body):
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("lazy_zip_probe.py", body)

    write("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "lazy_zip_probe", raising=False)
    assert importlib.import_module("lazy_zip_probe").VALUE == 1
    # restored at teardown, so the replacement stays local to this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    scoring._stat_gated_zip_invalidation()
    scoring._stat_gated_zip_invalidation()  # installing twice wraps once
    importlib.invalidate_caches()  # stamps every importer
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real_read(path)
    )
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    write("VALUE = 2  # rewritten in place, with a new size\n")
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    del sys.modules["lazy_zip_probe"]
    assert importlib.import_module("lazy_zip_probe").VALUE == 2
