"""Bloom-filter paragraph dedup (operators/dedup.py bloom_* family).

The structure is probabilistic, so correctness is defined as BIT-EXACT
agreement with the pure-Python twin (hashing.spark_xxhash64_str +
golden._py_bloom_positions): same bitmap, same hits, same false
positives.  Tests pin the hash twin, the broadcast literal-array
membership test, the forced-FP regime, and the JVM-only plan.
"""

import hashlib

import pyspark.sql.functions as F
import pytest

from data_caterer_spark.hashing import spark_xxhash64_str, xxh64
from data_caterer_spark.operators.dedup import (
    bloom_build,
    bloom_paragraph_dedup,
    bloom_positions,
    doc_spans,
)


def test_xxhash64_twin_matches_spark_all_length_branches(spark):
    # covers <4, <8, 4-7 tail, 8+ tail, exactly 32, >32 bulk, unicode
    strs = [
        "",
        "a",
        "abc",
        "abcd",
        "abcdefg",
        "abcdefgh",
        "x" * 31,
        "x" * 32,
        "x" * 33,
        "x" * 100,
        "naïve café 你好 🙂",
        " ".join(str(i * 7919 % 101) for i in range(50)),
    ]
    rows = (
        spark.createDataFrame([(s,) for s in strs], ["s"])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in rows:
        assert r["h"] == spark_xxhash64_str(r["s"]), r["s"]


def test_xxh64_known_vector():
    # xxHash spec sanity: seed-0 empty input is the published constant
    assert xxh64(b"", seed=0) == -1205034819632174695


def test_bloom_positions_match_python_twin(spark):
    from data_caterer_spark.golden import _py_bloom_positions

    n_bits, n_hashes = 1 << 12, 5
    spans = ["hello world", "key agg row", "", "x", "the quick brown fox"]
    got = (
        spark.createDataFrame([(s,) for s in spans], ["span"])
        .select(
            "span",
            bloom_positions("span", n_bits, n_hashes).alias("pos"),
        )
        .collect()
    )
    for r in got:
        assert list(r["pos"]) == _py_bloom_positions(
            r["span"], n_bits, n_hashes
        ), r["span"]


@pytest.fixture()
def corpus(spark):
    # ids chosen so the seeded md5 split puts some docs on each side;
    # doc 1 (query side) repeats doc 0's opening span verbatim
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta unique zero"),
        (1, "alpha beta gamma delta epsilon zeta eta theta fresh tail"),
        (2, "totally different words here nothing shared at all okay"),
        (3, "iota kappa lambda mu nu xi omicron pi rho sigma"),
        (4, "iota kappa lambda mu nu xi omicron pi copy again"),
        (5, None),
        (6, "short"),
        (7, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_seen(doc_id: int) -> bool:
    return (
        int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 2 == 0
    )


def test_bloom_dedup_matches_sequential_replay(spark, corpus):
    from data_caterer_spark.golden import (
        _py_bloom_positions,
        _py_doc_spans,
    )

    n_bits, n_hashes, k = 1 << 12, 5, 8
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["clean_text"])
        for r in bloom_paragraph_dedup(
            corpus, k=k, n_bits=n_bits, n_hashes=n_hashes
        ).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    bits: set[int] = set()
    for doc_id, text in rows:
        if text is not None and _py_seen(doc_id):
            for s in _py_doc_spans(text, k):
                bits.update(_py_bloom_positions(s, n_bits, n_hashes))
    expected = {}
    for doc_id, text in rows:
        if text is None or _py_seen(doc_id):
            continue
        spans = _py_doc_spans(text, k)
        dup = [
            all(
                p in bits
                for p in _py_bloom_positions(s, n_bits, n_hashes)
            )
            for s in spans
        ]
        expected[doc_id] = (
            len(spans),
            sum(dup),
            " ".join(s for s, d in zip(spans, dup) if not d),
        )
    assert got == expected
    # the fixture plants one genuine cross-split duplicate span
    assert sum(v[1] for v in expected.values()) >= 1


def test_bloom_false_positives_replay_exactly(spark, corpus):
    """A 64-bit bloom saturates: false positives are guaranteed, and the
    replay must reproduce each one bit-for-bit (the defining test that
    the oracle covers hash INTERNALS, not just happy paths)."""
    from data_caterer_spark.golden import (
        _py_bloom_positions,
        _py_doc_spans,
    )

    n_bits, n_hashes, k = 8, 2, 8
    got = {
        r["doc_id"]: r["n_dup_spans"]
        for r in bloom_paragraph_dedup(
            corpus, k=k, n_bits=n_bits, n_hashes=n_hashes
        ).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    bits: set[int] = set()
    builder_spans: set[str] = set()
    for doc_id, text in rows:
        if text is not None and _py_seen(doc_id):
            for s in _py_doc_spans(text, k):
                builder_spans.add(s)
                bits.update(_py_bloom_positions(s, n_bits, n_hashes))
    fp_count = 0
    for doc_id, text in rows:
        if text is None or _py_seen(doc_id):
            continue
        n_dup = 0
        for s in _py_doc_spans(text, k):
            hit = all(
                p in bits for p in _py_bloom_positions(s, n_bits, n_hashes)
            )
            n_dup += int(hit)
            if hit and s not in builder_spans:
                fp_count += 1
        assert got[doc_id] == n_dup, doc_id
    assert fp_count >= 1, "saturated bloom produced no false positive"


def test_bloom_plan_stays_jvm_side(spark, corpus):
    plan = bloom_paragraph_dedup(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
