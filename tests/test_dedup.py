"""Dedup operator tests: exact, n-gram Jaccard, MinHash LSH, SimHash.

Strategy mirrors the reference's exact-output operator tests
(``DataGeneratorFactoryTest.scala``): tiny planted fixtures with known
answers, plus recall checks of the probabilistic paths against the exact
path on the driver-provided documents table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_caterer_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "the  quick BROWN fox jumps over the lazy dog"),  # exact dup (norm)
            (3, "The quick brown fox jumps over the lazy cat"),  # near dup
            (4, "Completely different text about spark pipelines"),
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicate_groups(docs):
    got = {r["rep_id"]: r["dup_count"] for r in D.exact_duplicate_groups(docs).collect()}
    assert got == {1: 2}


def test_drop_exact_duplicates_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in D.drop_exact_duplicates(docs).collect())
    # 2 collapses into 1; null (5) and empty (6) are distinct keys by design
    assert kept == [1, 3, 4, 5, 6]


def test_ngram_jaccard_exact_values(docs):
    rows = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()
    }
    # docs 1,2 identical after normalization: jaccard == 1.0
    assert rows[(1, 2)] == 1.0
    # docs 1,3 differ in last word: shingle sets share 6 of 7+7 3-shingles
    # |A|=7 |B|=7 inter=6 => 6/8
    assert rows[(1, 3)] == pytest.approx(0.75)
    assert (1, 4) not in rows


def test_jaccard_cap_on_equals_cap_off(spark, sf_dir):
    """The shipped skew guard must not change results on clean data:
    capped blocking + full-set verification == the uncapped exact join."""
    table = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(
            table, threshold=0.6, max_block=1000
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(
            table, threshold=0.6, max_block=None
        ).collect()
    }
    assert capped == exact and len(exact) > 0


def test_jaccard_capped_verification_is_exact(spark):
    """A pair that shares BOTH hot and rare shingles: the hot shingles are
    dropped from blocking but MUST still count in the verified Jaccard
    (the old formulation underestimated the intersection)."""
    hot = "alpha beta gamma"  # shared 3-shingle across every doc
    rows = [(i, hot + f" filler{i} unique{i} tail{i}") for i in range(10)]
    # docs 100/101: same rare tail AND the hot prefix => high true jaccard
    rows += [(100, hot + " rare tail shared one"),
             (101, hot + " rare tail shared two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, k=3, threshold=0.3, max_block=5
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, k=3, threshold=0.3, max_block=None
        ).collect()
    }
    assert (100, 101) in got
    # verified value equals the true (uncapped) jaccard, hot shingles included
    assert got[(100, 101)] == exact[(100, 101)]


def test_minhash_recall_against_exact(spark, sf_dir):
    table = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(table, threshold=0.6).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(table, threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-duplicate documents"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall} too low ({exact - approx})"


def test_minhash_estimate_tracks_true_jaccard(docs):
    rows = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    assert rows[(1, 2)] == 1.0  # identical signatures
    if (1, 3) in rows:
        assert abs(rows[(1, 3)] - 0.75) < 0.25  # 64-hash estimator tolerance


def test_simhash_identical_and_near(docs, spark):
    fp = D.with_simhash(docs.where(F.col("text").isNotNull()), k=2)
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    assert vals[1] == vals[2]  # normalization-identical => same fingerprint
    assert D.hamming64(F.lit(vals[1]), F.lit(vals[3])) is not None
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0


def test_simhash_pairs_on_fixture(spark, sf_dir):
    table = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.simhash_pairs(table, max_hamming=3).collect()
    # exact duplicates in the fixture must appear at hamming 0
    exact = D.ngram_jaccard_pairs(table, threshold=0.999).collect()
    exact_ids = {(r["id_a"], r["id_b"]) for r in exact}
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert exact_ids <= got


def test_connected_components_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster"] for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_connected_components_raises_when_unconverged(spark):
    """A planted 8-node path needs 7 propagation rounds: 3 rounds leave
    labels changing, which must raise instead of returning split
    clusters; the default cap converges to one cluster."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8 - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match=r"in 3 rounds: \d+ labels"):
        D.connected_components(pairs, max_iter=3)
    got = {r["id"]: r["cluster"] for r in D.connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(8)}


def test_get_spark_defaults_checkpoint_dir(spark):
    """config.get_spark must default a checkpoint dir so iterative
    operators never silently downgrade to non-fault-tolerant
    localCheckpoint (the session fixture goes through get_spark)."""
    assert spark.sparkContext.getCheckpointDir() is not None


def test_connected_components_uses_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured, every round materializes through
    RELIABLE checkpointing (files on checkpoint storage — survives
    executor loss, unlike localCheckpoint), and the result is unchanged."""
    import os

    sc = spark.sparkContext
    # checkpoint dir stays set for the session (it cannot be unset on a
    # live SparkContext); later CC calls simply keep using it
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )  # chain: needs multiple propagation rounds
    got = {
        r["id"]: r["cluster"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {i: 1 for i in range(1, 6)}
    ckpt_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(str(tmp_path / "ckpt"))
        for f in fs
    ]
    assert ckpt_files, "no reliable checkpoint files written"


def test_drop_near_duplicates_keeps_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(1, 11)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"] for r in D.drop_near_duplicates(docs, pairs).collect()
    )
    # clusters {1,2,3} -> keep 1; {8,9} -> keep 8; everything unpaired stays
    assert kept == [1, 4, 5, 6, 7, 8, 10]


def test_end_to_end_near_dedup(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8, max_block=None)
    kept = D.drop_near_duplicates(docs, pairs)
    n_pairs_members = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    n_clusters = D.connected_components(pairs).select("cluster").distinct().count()
    assert kept.count() == docs.count() - (n_pairs_members - n_clusters)


def test_repeated_span_removal_cuts_planted_boilerplate(spark):
    """Plant an identical 8-token boilerplate span in several docs: the
    span is cut everywhere, unique content survives verbatim, and a doc
    that is ONLY boilerplate comes back empty."""
    boiler = "subscribe to our newsletter for all the updates"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsilon zeta eta theta {boiler}"),
            (2, f"{boiler} one two three four five six seven eight"),
            (3, boiler),
            (4, "iota kappa lambda mu nu xi omicron pi"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.drop_repeated_spans(docs, k=8, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # null-text doc excluded
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon zeta eta theta"
    assert out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "one two three four five six seven eight"
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    # unique doc untouched (its span occurs once)
    assert out[4]["clean_text"] == "iota kappa lambda mu nu xi omicron pi"
    assert out[4]["n_removed"] == 0


def test_winnowing_guarantee_on_planted_copy(spark):
    """The MOSS guarantee: a shared substring of >= k+window-1 tokens
    (here 8) must produce at least one shared fingerprint; disjoint texts
    share none."""
    copied = "one two three four five six seven eight nine ten"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {copied} closing remark"),
            (2, f"{copied} completely different ending text"),
            (3, "unrelated body of text with no overlap at all whatsoever"),
            (4, "tiny"),  # < k tokens: no fingerprints
        ],
        "doc_id long, text string",
    )
    fps = {
        (r["id"], r["fp"])
        for r in D.winnow_fingerprints(docs, k=4, window=5).collect()
    }
    by_id = {}
    for i, fp in fps:
        by_id.setdefault(i, set()).add(fp)
    assert 4 not in by_id  # too short to fingerprint
    assert by_id[1] & by_id[2], "planted copy must share a fingerprint"
    assert not (by_id[1] & by_id[3])
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in D.winnowing_overlap_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_winnowing_cap_on_equals_cap_off(spark, sf_dir):
    """The shipped skew guard must not change results on clean data:
    capped blocking + full-list verification == the uncapped join."""
    table = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = {
        (r["id_a"], r["id_b"], r["shared_fps"])
        for r in D.winnowing_overlap_pairs(
            table, min_shared=2, max_block=1000
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["shared_fps"])
        for r in D.winnowing_overlap_pairs(
            table, min_shared=2, max_block=None
        ).collect()
    }
    assert capped == exact and len(exact) > 0


def test_winnowing_hot_fingerprint_cap_bounds_block(spark):
    """A boilerplate passage planted in m >> max_block docs: the hot
    fingerprints must be dropped from candidate BLOCKING (bounding the
    join block at max_block postings, not m) while the re-verification
    still reports the TRUE shared count — hot fingerprints included —
    for every pair that also shares a rare fingerprint."""
    boiler = (
        "this site uses cookies to improve your browsing experience "
        "please accept our terms"
    )  # 13 tokens >> k+window-1: every doc shares its fingerprints
    rows = [(i, f"{boiler} unique{i} filler{i} tail{i}") for i in range(30)]
    copied = "the actual copied passage spans nine whole tokens here"
    rows += [(1000, f"{boiler} {copied} ending alpha"),
             (1001, f"{boiler} {copied} ending beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in D.winnowing_overlap_pairs(
            df, min_shared=1, max_block=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in D.winnowing_overlap_pairs(
            df, min_shared=1, max_block=10
        ).collect()
    }
    # the hot path engaged: boilerplate-only pairs (every fingerprint
    # hotter than the cap) are dropped — that's the bounded-blocking
    # trade, and it's what keeps the block O(max_block^2) not O(m^2)
    assert (0, 1) in exact and (0, 1) not in capped
    # the true-copy pair survives with its EXACT shared count, hot
    # fingerprints included (verification runs over full lists)
    assert capped[(1000, 1001)] == exact[(1000, 1001)]
    # the blocking layer itself is bounded: no surviving fingerprint
    # posting list exceeds the cap
    from pyspark.sql import functions as _F

    fps = D.winnow_fingerprints(df, k=4, window=5)
    freq = fps.groupBy("fp").agg(_F.count(_F.lit(1)).alias("df"))
    rare_max = (
        freq.where(_F.col("df") <= 10).agg(_F.max("df")).first()[0]
    )
    assert rare_max is not None and rare_max <= 10


def test_exact_substring_dedup_marks_only_shared_tokens(spark):
    from data_caterer_spark.operators.dedup import exact_substring_dedup

    shared = "one two three four five six seven eight nine ten"  # 10 toks
    rows = [
        (1, f"A B C {shared} X Y Z"),  # 16 tokens, 10 dup
        (2, f"{shared} P Q"),  # 12 tokens, 10 dup
        (3, "totally unrelated words that appear exactly once here ok"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, k=8, min_docs=2).collect()
    }
    # overlapping 8-windows of the shared 10-token run cover exactly
    # those 10 tokens in both docs; flanks are untouched
    assert got[1]["n_tokens"] == 16 and got[1]["n_dup_tokens"] == 10
    assert got[1]["clean_text"] == "A B C X Y Z"
    assert got[2]["n_tokens"] == 12 and got[2]["n_dup_tokens"] == 10
    assert got[2]["clean_text"] == "P Q"
    assert got[3]["n_dup_tokens"] == 0
    assert 4 not in got  # null text excluded


def test_exact_substring_dedup_short_docs_pass_through(spark):
    from data_caterer_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame(
        [(1, "short doc"), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, k=8, min_docs=2).collect()
    }
    # < k tokens: no windows exist, nothing can be marked
    assert got[1]["n_dup_tokens"] == 0 and got[1]["clean_text"] == "short doc"
    assert got[3]["n_tokens"] == 1 and got[3]["clean_text"] == ""


def test_exact_substring_dedup_plan_has_no_pair_join(spark):
    from data_caterer_spark.operators.dedup import exact_substring_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        exact_substring_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shingle_containment_asymmetric(spark):
    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated words here")],
        "doc_id long, text string",
    )
    out = {
        (r.id_a, r.id_b): r
        for r in D.shingle_containment_pairs(df, threshold=0.9).collect()
    }
    assert list(out) == [(1, 2)]
    pair = out[(1, 2)]
    # every shingle of the short doc appears in the long one...
    assert pair.containment_a_in_b == 1.0
    # ...but the long doc is NOT contained in the short one (and the
    # pair's Jaccard is far below any dedup threshold)
    assert pair.containment_b_in_a < 0.5


def test_shingle_containment_cap_matches_uncapped(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    capped = {
        (r.id_a, r.id_b): (r.containment_a_in_b, r.containment_b_in_a)
        for r in D.shingle_containment_pairs(
            docs, threshold=0.8, max_block=5
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b): (r.containment_a_in_b, r.containment_b_in_a)
        for r in D.shingle_containment_pairs(
            docs, threshold=0.8, max_block=None
        ).collect()
    }
    assert capped == exact


def test_edit_distance_neardups_vs_python(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),  # 2 edits
        (3, "the quick brown fox jumps over the lazy cat"),   # 3 edits
        (4, "a completely different sentence about parquet files"),
        (5, None),
        (6, "   "),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.distance
        for r in D.edit_distance_neardup_pairs(df, max_distance=5).collect()
    }
    # python reference on the same normalization
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    norm = {
        i: " ".join(t.lower().split())[:120]
        for i, t in rows
        if t is not None
    }
    want = {
        (a, b): lev(norm[a], norm[b])
        for a, b in itertools.combinations(sorted(norm), 2)
        if lev(norm[a], norm[b]) <= 5
    }
    assert out == want
    assert (1, 2) in out and out[(1, 2)] == 2


def test_edit_distance_blocking_is_lossless_on_fixture(spark):
    # the bucketed plan finds exactly the pairs the unblocked scan finds
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    got = {
        (r.id_a, r.id_b): r.distance
        for r in D.edit_distance_neardup_pairs(
            docs, max_distance=12, prefix_chars=80
        ).collect()
    }
    texts = {
        r.doc_id: " ".join((r.text or "").lower().split())[:80]
        for r in docs.collect()
        if r.text is not None
    }
    from pyspark.sql import Row

    naive = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    a = naive.selectExpr("doc_id id_a", "text ta")
    b = naive.selectExpr("doc_id id_b", "text tb")
    from pyspark.sql import functions as FF

    want = {
        (r.id_a, r.id_b): r.d
        for r in a.join(b, FF.col("id_a") < FF.col("id_b"))
        .select(
            "id_a", "id_b", FF.levenshtein("ta", "tb", 12).alias("d")
        )
        .where(FF.col("d") >= 0)
        .collect()
    }
    assert got == want
