"""Deduplication operators for large-scale training-data pipelines.

Five families, each designed around one shuffle discipline (the reference
has only exact `dropDuplicates` + anti-join, ``UniqueFieldsUtil.scala:17-22``;
everything else here is new-build per the target brief):

* **exact**        — hash-groupBy on a normalized-text fingerprint; one
  shuffle on the fingerprint, no text comparison after the hash.
* **n-gram Jaccard** — exact set-similarity self-join blocked on shared
  shingles (a pair is only compared if it shares >=1 shingle, and each
  shingle block is a tiny join group); the standard "inverted index" join.
* **MinHash + LSH** — signature = per-doc min over permuted shingle hashes;
  banding turns near-dup search into an equi-join on (band, band_hash):
  candidate generation never compares documents pairwise.
* **SimHash**      — 64-bit weighted-bit fingerprint; near-dup = small
  Hamming distance, found by banding the fingerprint into 16-bit chunks
  (pigeonhole: hamming<=3 over 4 chunks => at least one chunk equal).
* **embedding cosine** — see operators/similarity.py (shared kernels).

Scale notes: every candidate-generation path is an equi-join on a derived
key (shingle / band hash / chunk), so Spark shuffles both sides on that key
— no cross join anywhere.  Hot blocks (a shingle shared by millions of
docs, e.g. "the quick brown") are the skew risk; `max_block` caps block
size by dropping top-frequency shingles from *blocking only* (they still
count toward verification), the standard prefix-filter trick.

Signature computation (MinHash permutation grids, SimHash bit votes) is
numpy per text in the shared Arrow stage (``functions/scoring.py``) —
measured 40-100x faster than the interpreted Catalyst lambda folds —
over crc32 shingle hashes; the golden replays call the same per-text
kernels (:func:`minhash_signature`, :func:`simhash_fingerprint`).
Candidate generation, verification, and clustering stay JVM-side
(equi-joins + aggregates).
"""

from __future__ import annotations

import zlib
from functools import cache
from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.scoring import model_stage

# --------------------------------------------------------------------------
# shared text canonicalization
# --------------------------------------------------------------------------


def normalized_text(text: str | Column) -> Column:
    """Lowercased, whitespace-collapsed text (mirror of
    ``textcore.fingerprint`` normalization; oracle: DuckDB expressible)."""
    return T.normalized(text)


def word_shingles(text: str | Column, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text: array<string>.

    Sliding window over the token array via transform(sequence) — pure
    Catalyst, no UDF.  Documents shorter than k tokens get their whole
    normalized text as a single shingle so they can still block/match.
    """
    toks = T.tokens_lower(text)
    n = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.when(n >= k, F.array_distinct(windows)).otherwise(
        F.array(F.array_join(toks, " "))
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates (after normalization).

    Returns one row per duplicated normalized text: (rep_id, dup_count)
    where rep_id is the smallest member id — deterministic representative.
    One shuffle, map-side combined.  At 100 TB the groupBy key is the
    *fingerprint hash*, not the text, so shuffle rows stay small; the
    normalized text never needs to leave the scan stage.
    """
    fp = F.xxhash64(normalized_text(text_col)).alias("__fp")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
        .select("rep_id", "dup_count")
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id representative of every normalized-text group.

    Window-free formulation: groupBy fingerprint -> min id, then semi-join
    back.  Two narrow shuffles on a long key; no full-row shuffle of the
    text payload (the semi join carries only ids until the final join).
    """
    fp = F.xxhash64(normalized_text(text_col))
    with_fp = df.withColumn("__fp", fp)
    keepers = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return (
        with_fp.join(keepers, on=["__fp", id_col], how="left_semi").drop("__fp")
    )


def incremental_ingest_decisions(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental corpus ingestion: classify every incoming document as
    ``new`` / ``dup_in_batch`` (a smaller id in the same batch has the
    same normalized text) / ``dup_of_corpus`` (the standing corpus
    already holds it) — the production shape where dedup runs per
    arriving crawl snapshot against a persisted fingerprint index, never
    re-scanning the corpus text.

    Plan: both sides reduce to fingerprint keys immediately (the corpus
    contributes a DISTINCT hash index — at 100 TB that index is a
    bucketed table maintained across ingests, so the probe is a
    co-located join with NO corpus scan); the batch resolves first-
    occurrence via one combinable min-id aggregate.  Only ids and 8-byte
    hashes shuffle.
    """
    fp = F.xxhash64(normalized_text(text_col))
    corpus_idx = corpus.select(fp.alias("__fp")).distinct()
    b = batch.select(F.col(id_col), fp.alias("__fp"))
    first = b.groupBy("__fp").agg(F.min(id_col).alias("__first_id"))
    return (
        b.join(first, "__fp")
        .join(corpus_idx.withColumn("__in_corpus", F.lit(True)), "__fp", "left")
        .select(
            id_col,
            F.when(F.col("__in_corpus").isNotNull(), "dup_of_corpus")
            .when(F.col(id_col) != F.col("__first_id"), "dup_in_batch")
            .otherwise("new")
            .alias("decision"),
        )
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index self-join)
# --------------------------------------------------------------------------


def _shingle_pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_block: int | None,
) -> DataFrame:
    """Shared candidate machinery for the set-overlap near-dup family:
    returns every blocked pair ``(id_a < id_b)`` with its EXACT shingle
    intersection and both set sizes — the sufficient statistics for any
    overlap metric (Jaccard, containment, overlap coefficient).

    Plan: explode distinct shingles -> self equi-join on shingle
    (blocking) -> count shared shingles per pair -> join per-doc sizes.

    ``max_block`` (the web-scale guard): shingles whose posting list
    exceeds the cap are dropped from CANDIDATE BLOCKING only — a stopword
    shingle would otherwise create a quadratic join block.  Every
    discovered candidate pair is then re-verified against the FULL
    posting lists, so the reported intersection is always the TRUE
    intersection (no underestimation from the dropped shingles, no false
    positives).  The cap is a recall-only approximation: the only
    possible misses are pairs whose EVERY shared shingle occurs in
    > max_block documents — on clean corpora such pairs are far below
    any useful threshold.
    """
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            word_shingles(text_col, k).alias("__sh"),
        )
        .withColumn("__set_size", F.size("__sh"))
        .where(F.col("__set_size") > 0)
    )
    # shingle STRINGS never leave the scan stage: every join/groupBy key is
    # the xxhash64 of the shingle (8-byte longs shuffle ~5-10x fewer bytes
    # than k-word strings; a hash collision would need ~2^32 distinct
    # shingles per doc pair to matter)
    posts = sh.select(
        "id",
        "__set_size",
        F.explode(F.transform("__sh", lambda s: F.xxhash64(s))).alias("sh"),
    )
    def exact_pairs(p: DataFrame) -> DataFrame:
        # block on every shingle; the block join itself counts the
        # intersection
        a = p.select(
            "sh",
            F.col("id").alias("id_a"),
            F.col("__set_size").alias("size_a"),
        )
        b = p.select(
            "sh",
            F.col("id").alias("id_b"),
            F.col("__set_size").alias("size_b"),
        )
        return (
            a.join(b, "sh")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )

    if max_block is None:
        return exact_pairs(posts)
    else:
        # postings feed four branches (frequency, blocking, two
        # verification sides): persist AND populate eagerly — branches
        # racing an empty cache would each re-run tokenize+explode.  The
        # production analog is a materialized inverted index.
        posts = posts.persist()
        posts.count()
        freq = posts.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        # adaptive guard: one tiny existence probe decides the plan.  No
        # hot shingle -> the capped plan IS the exact plan, so skip the
        # blocking+verification joins entirely (same adaptive spirit as
        # AQE's runtime re-plan; the probe costs one scan of the already
        # persisted postings)
        has_hot = (
            len(freq.where(F.col("__df") > max_block).limit(1).take(1)) > 0
        )
        if not has_hot:
            return exact_pairs(posts)
        rare = posts.join(
            freq.where(F.col("__df") <= max_block), "sh"
        ).select("id", "sh")
        cand = (
            rare.select("sh", F.col("id").alias("id_a"))
            .join(rare.select("sh", F.col("id").alias("id_b")), "sh")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # exact re-verification: true intersection over FULL posting lists,
        # restricted to the candidate ids (candidates are few; this join
        # fans out by |shingles(a)| per pair, not by block size)
        pa = posts.select(F.col("id").alias("id_a"), "sh")
        pb = posts.select(F.col("id").alias("id_b"), "sh")
        inter = (
            cand.join(pa, "id_a")
            .join(pb, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
        sizes = sh.select("id", "__set_size")
        return inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("__set_size").alias("size_a")),
            "id_a",
        ).join(
            sizes.select(F.col("id").alias("id_b"), F.col("__set_size").alias("size_b")),
            "id_b",
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_block: int | None = 1000,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold —
    the symmetric near-dup metric (see :func:`_shingle_pair_stats` for
    the blocking plan and the ``max_block`` web-scale guard)."""
    pairs = _shingle_pair_stats(df, id_col, text_col, k, max_block)
    jac = F.col("__inter") / (
        F.col("size_a") + F.col("size_b") - F.col("__inter")
    )
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_block: int | None = 1000,
) -> DataFrame:
    """All pairs where either document's shingle set is >= ``threshold``
    CONTAINED in the other: ``C(A→B) = |A∩B| / |A|``.

    Containment is the asymmetric complement to Jaccard — the
    quote/excerpt/boilerplate-wrapper case: a short document fully
    embedded in a long one has near-1 containment but arbitrarily low
    Jaccard, so a Jaccard-only dedup pass keeps both copies.  (Broder's
    original resemblance/containment pair, 1997.)  Same blocked +
    cap-re-verified plan as :func:`ngram_jaccard_pairs` via
    :func:`_shingle_pair_stats`; emits both directions so the caller
    picks survivor policy (keep the superset, usually)."""
    pairs = _shingle_pair_stats(df, id_col, text_col, k, max_block)
    c_ab = F.col("__inter") / F.col("size_a")
    c_ba = F.col("__inter") / F.col("size_b")
    return (
        pairs.withColumn("containment_a_in_b", c_ab)
        .withColumn("containment_b_in_a", c_ba)
        .where(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        .select(
            "id_a",
            "id_b",
            F.round("containment_a_in_b", 6).alias("containment_a_in_b"),
            F.round("containment_b_in_a", 6).alias("containment_b_in_a"),
        )
    )


def edit_distance_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 10,
    prefix_chars: int = 120,
    block_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """All pairs within ``max_distance`` Levenshtein edits on the
    normalized ``prefix_chars``-char prefix — the character-level
    near-dup metric (catches typo-level variants n-gram Jaccard blurs
    over).

    Scale plan: edit distance is bounded below by the LENGTH difference,
    so blocking on ``len div max_distance`` is lossless — any qualifying
    pair lands in the same or adjacent bucket (each left row probes both,
    each pair joins once after canonicalization).  ``block_cols`` adds
    exact-match keys (language, domain, an LSH band) to shrink blocks
    further at corpus scale.  The refilter uses Spark's thresholded
    ``levenshtein(a, b, d)`` — O(d·n) banded DP, not O(n²) — and the
    candidate set is deduplicated BEFORE the DP runs.  ``prefix_chars``
    bounds per-pair cost; a full-text verify pass (same thresholded
    call, larger cap) composes downstream when exact distances on long
    documents are required."""
    if max_distance <= 0:
        raise ValueError(f"max_distance must be positive, got {max_distance}")
    blocks = list(block_cols)
    norm = F.substring(normalized_text(text_col), 1, prefix_chars)
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in blocks],
        norm.alias("__t"),
    ).withColumn("__len", F.length("__t"))
    w = max_distance  # bucket width >= d => qualifying pairs are <=1 apart
    a = base.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"__ba_{c}") for c in blocks],
        F.col("__t").alias("__ta"),
        F.col("__len").alias("__la"),
        F.explode(
            F.array(
                F.expr(f"__len div {w}"), F.expr(f"__len div {w} + 1")
            )
        ).alias("__bucket"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"__bb_{c}") for c in blocks],
        F.col("__t").alias("__tb"),
        F.col("__len").alias("__lb"),
        F.expr(f"__len div {w}").alias("__bucket"),
    )
    on = [a["__bucket"] == b["__bucket"]]
    on += [a[f"__ba_{c}"] == b[f"__bb_{c}"] for c in blocks]
    cand = (
        a.join(b, on)
        .where(F.col("id_a") != F.col("id_b"))
        # canonical orientation, then dedup BEFORE the DP refilter (a
        # same-bucket pair is discovered from both sides)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.when(a["id_a"] < b["id_b"], a["__ta"]).otherwise(b["__tb"]).alias("__ta"),
            F.when(a["id_a"] < b["id_b"], b["__tb"]).otherwise(a["__ta"]).alias("__tb"),
            F.abs(F.col("__la") - F.col("__lb")).alias("__ldiff"),
        )
        .where(F.col("__ldiff") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.levenshtein("__ta", "__tb", max_distance)
    return (
        cand.withColumn("distance", dist)
        .where(F.col("distance") >= 0)
        .select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

# Mersenne prime 2^31-1; permutation family h_i(x) = (a_i*x + b_i) mod p.
# 31-bit domain keeps h*a+b < 2^63 so ANSI-mode long arithmetic never
# overflows (Spark 4 defaults to spark.sql.ansi.enabled=true).
_MERSENNE = (1 << 31) - 1


def _perm_params(num_hashes: int, seed: int) -> np.ndarray:
    """Deterministic ``(num_hashes, 2)`` array of (a, b) pairs derived
    from a seeded splitmix-style walk (no RNG object: reproducible across
    platforms and executor counts)."""
    params = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state % (_MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % _MERSENNE
        params.append((a, b))
    return np.array(params, dtype=np.int64).reshape(num_hashes, 2)


def _shingles(text: str | None, k: int) -> list[bytes]:
    """Distinct UTF-8 word-k-shingles, with the normalization of
    :func:`word_shingles`; a text shorter than k words is one shingle."""
    if text is None:
        return []
    toks = text.lower().split()
    if len(toks) >= k:
        shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    else:
        shingles = {" ".join(toks)}
    return [s.encode("utf-8") for s in shingles]


def _py_shingle_hashes(text: str | None, k: int) -> np.ndarray:
    """Shingle hashes in the 31-bit domain (crc32: C speed, deterministic
    everywhere)."""
    shingles = _shingles(text, k)
    return np.fromiter(
        (zlib.crc32(s) % _MERSENNE for s in shingles),
        dtype=np.int64,
        count=len(shingles),
    )


def minhash_signature(text: str | None, k: int, params: np.ndarray) -> np.ndarray:
    """The MinHash signature of one text: per (a, b) row of ``params``
    (:func:`_perm_params`), the min over shingle hashes h of
    ``(a*h + b) mod p``; all ``p`` when the text has no shingle (NULL)."""
    h = _py_shingle_hashes(text, k)
    if h.size == 0:
        return np.full(len(params), _MERSENNE, dtype=np.int64)
    # (num_hashes, n_shingles) grid; int64 safe: p^2 < 2^63
    return ((params[:, :1] * h[None, :] + params[:, 1:]) % _MERSENNE).min(axis=1)


@cache
def _minhash_kernel(num_hashes: int, k: int, seed: int) -> Callable[[list], tuple]:
    """One kernel object per parameter set, so a rebuilt plan reuses its UDF."""
    params = _perm_params(num_hashes, seed)
    return lambda texts: ([minhash_signature(t, k, params) for t in texts],)


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "minhash_sig",
    num_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Add an ``array<bigint>`` MinHash signature without explode/shuffle.

    One Arrow round trip (``functions/scoring.py::model_stage``); per
    text, the permutation matrix ``(a*h + b) mod p`` evaluates as a numpy
    broadcast over the (num_hashes x shingles) grid — measured ~40x
    faster than a Catalyst fold (lambda HOFs are interpreted per element,
    ~3.5 ms/doc).
    """
    return model_stage(
        df,
        text_col,
        {out_col: "array<bigint>"},
        (),
        _minhash_kernel(num_hashes, k, seed),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs via banded MinHash, verified with estimated Jaccard.

    rows-per-band r = num_hashes/bands; the S-curve midpoint is
    (1/bands)^(1/r).  Candidates come from an equi-join on
    (band_idx, xxhash64(band slice)) — doc pairs never meet unless a whole
    band collides, so the join fans out by bands (x16 rows), not by pairs.
    Verification = signature agreement fraction (unbiased Jaccard
    estimate); for byte-certainty chain `ngram_jaccard_pairs` on the
    output's candidate ids.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide into bands evenly")
    r = num_hashes // bands
    sig = with_minhash_signature(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col=text_col,
        out_col="__sig",
        num_hashes=num_hashes,
        k=k,
        seed=seed,
    ).select("id", "__sig")
    # the signature column feeds three plan branches (banding + both sides
    # of the verification re-join); persist AND populate eagerly — three
    # branches racing an empty cache would each run the Arrow UDF.  The
    # production analog is checkpointing signatures to the warehouse.
    sig = sig.persist()
    sig.count()
    # banding join carries (band, bh, id) ONLY — never the 64-long
    # signature payload (x16 bands x both sides ≈ 5-10x shuffle bytes);
    # signatures re-join AFTER candidate dedup, shuffled once per side
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("__sig", i * r + 1, r),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("__b"),
    ).select("id", F.col("__b.band").alias("band"), F.col("__b.bh").alias("bh"))
    a = banded.select("band", "bh", F.col("id").alias("id_a"))
    b = banded.select("band", "bh", F.col("id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        sig.select(F.col("id").alias("id_a"), F.col("__sig").alias("__sig_a")),
        "id_a",
    ).join(
        sig.select(F.col("id").alias("id_b"), F.col("__sig").alias("__sig_b")),
        "id_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 64
_CHUNKS = 4  # 4 x 16-bit chunks => finds all pairs with hamming <= 3
_BIT_IDX = np.arange(SIMHASH_BITS, dtype=np.uint64)


def _py_shingle_hashes64(text: str | None, k: int) -> np.ndarray:
    """64-bit shingle hashes (two salted crc32 halves)."""
    shingles = _shingles(text, k)
    return np.fromiter(
        (zlib.crc32(b) | (zlib.crc32(b, 0x9E3779B9) << 32) for b in shingles),
        dtype=np.uint64,
        count=len(shingles),
    )


def simhash_fingerprint(text: str | None, k: int) -> int:
    """The 64-bit SimHash of one text as a signed long: bit i is set when
    more shingle hashes have it set than not; 0 when the text has no
    shingle (NULL)."""
    h = _py_shingle_hashes64(text, k)
    if h.size == 0:
        return 0
    bits = ((h[:, None] >> _BIT_IDX[None, :]) & 1).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    fp = np.bitwise_or.reduce(
        np.where(votes > 0, np.uint64(1) << _BIT_IDX, np.uint64(0))
    )
    return int(np.uint64(fp).view(np.int64))


@cache
def _simhash_kernel(k: int) -> Callable[[list], tuple]:
    """One kernel object per shingle length, so a rebuilt plan reuses its UDF."""
    return lambda texts: ([simhash_fingerprint(t, k) for t in texts],)


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
    k: int = 2,
) -> DataFrame:
    """Add a 64-bit SimHash fingerprint column (Charikar construction).

    One Arrow round trip (``functions/scoring.py::model_stage``); per
    text, the vote matrix is one broadcast ``(shingles x 64) -> sum ->
    sign`` in numpy (~100x faster than a Catalyst fold, measured 3.6
    ms/doc there).
    """
    return model_stage(df, text_col, {out_col: "long"}, (), _simhash_kernel(k))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    k: int = 2,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the 64-bit fingerprint into 4 x 16-bit
    chunks; any pair within Hamming<=3 agrees on at least one whole chunk,
    so an equi-join on (chunk_idx, chunk_value) finds every such pair
    without pairwise comparison.  Requires max_hamming < _CHUNKS.
    """
    if max_hamming >= _CHUNKS:
        raise ValueError(f"max_hamming must be < {_CHUNKS} for chunk blocking")
    fp = with_simhash(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col=text_col,
        out_col="__fp",
        k=k,
    ).select("id", "__fp")
    # both self-join sides derive from fp: persist+populate so the numpy
    # signature UDF runs once, not once per join branch
    fp = fp.persist()
    fp.count()
    chunked = fp.select(
        "id",
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("__fp"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for i in range(_CHUNKS)
                ]
            )
        ).alias("__c"),
    ).select("id", "__fp", F.col("__c.chunk").alias("chunk"), F.col("__c.cv").alias("cv"))
    a = chunked.select("chunk", "cv", F.col("id").alias("id_a"), F.col("__fp").alias("fp_a"))
    b = chunked.select("chunk", "cv", F.col("id").alias("id_b"), F.col("__fp").alias("fp_b"))
    return (
        a.join(b, ["chunk", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("fp_a"), F.col("fp_b")).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# near-duplicate clustering (connected components over candidate pairs)
# --------------------------------------------------------------------------


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize and cut lineage for an iterative-loop round.

    Uses RELIABLE checkpointing whenever a checkpoint dir is configured
    (``spark.sparkContext.setCheckpointDir`` — on a real cluster that is
    HDFS/S3, so losing an executor after round k re-reads round-k labels
    instead of failing an unrecoverable lineage).  ``localCheckpoint``
    (executor-local blocks, NOT fault-tolerant) is only the small-job
    fallback when no dir is set.
    """
    sc = df.sparkSession.sparkContext
    has_dir = not sc._jsc.sc().getCheckpointDir().isEmpty()
    if not has_dir:
        # config.get_spark defaults a dir, so this path means a session
        # built elsewhere — make the durability downgrade visible
        import warnings

        warnings.warn(
            "no checkpoint dir configured; falling back to localCheckpoint "
            "(NOT fault-tolerant — an executor loss mid-iteration fails "
            "the run). Call sc.setCheckpointDir or use config.get_spark.",
            stacklevel=3,
        )
    return df.checkpoint(eager=True) if has_dir else df.localCheckpoint()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster duplicate pairs into components: (id, cluster) with cluster
    = min member id.

    Hash-min label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors; converges in O(component
    diameter) rounds — near-dup clusters are shallow (stars/cliques), so
    2-4 rounds in practice.  Each round is ONE job: the join + label
    update materializes through :func:`truncate_lineage` (reliable
    checkpoint on clusters, see above) and the convergence signal rides
    the same action as an ``observe`` sum of per-row changed flags — no
    separate old-vs-new comparison job.

    Raises ``RuntimeError`` when ``max_iter`` rounds pass and the last
    one still changed a label: unconverged labels would silently split
    clusters.
    """
    from pyspark.sql import Observation

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = truncate_lineage(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    labels = truncate_lineage(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
    )
    changed = None
    for i in range(max_iter):
        neigh = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("cluster").alias("dst_cluster")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_cluster").alias("min_neigh"))
        )
        obs = Observation(f"cc_round_{i}")
        new_labels = truncate_lineage(
            labels.join(neigh.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce("min_neigh", F.col("cluster"))
                ).alias("new_cluster"),
                F.col("cluster").alias("old_cluster"),
            )
            .observe(
                obs,
                F.count_if(
                    F.col("new_cluster") != F.col("old_cluster")
                ).alias("changed"),
            )
            .select("id", F.col("new_cluster").alias("cluster"))
        )
        labels = new_labels
        changed = obs.get["changed"]
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds: "
        f"{changed} labels still changed in the last round"
    )


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Keep one representative (min id) per near-dup cluster plus every
    unpaired row.  ``pairs`` comes from any detector (minhash_lsh_pairs,
    ngram_jaccard_pairs, simhash_pairs, embedding_neardup_pairs)."""
    comps = connected_components(pairs, pair_a, pair_b)
    drop = comps.where(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# --------------------------------------------------------------------------
# benchmark decontamination (training-data hygiene)
# --------------------------------------------------------------------------


def contamination_overlap(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap: int = 3,
) -> DataFrame:
    """Corpus documents sharing >= ``min_overlap`` distinct word
    k-shingles with ANY document of an evaluation set: (id, n_shared).

    The decontamination shape for 100 TB: the eval/benchmark side is tiny
    (thousands of documents), so its distinct shingle hashes BROADCAST —
    the corpus is a single scan + broadcast-hash semi-join + partial
    aggregation, no corpus shuffle of text (shingle strings never leave
    the scan stage; the join key is ``xxhash64(shingle)``, 8 bytes)."""
    ev = (
        eval_df.select(word_shingles(text_col, k).alias("__sh"))
        .select(F.explode("__sh").alias("s"))
        .select(F.xxhash64("s").alias("sh"))
        .distinct()
    )
    posts = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, k)).alias("s"),
    ).select("id", F.xxhash64("s").alias("sh"))
    # (id, sh) is unique by construction (word_shingles is array_distinct,
    # ev is distinct), so a plain count IS the distinct count — no
    # per-group hash-set aggregation needed
    return (
        posts.join(F.broadcast(ev), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
        .select(F.col("id").alias(id_col), "n_shared")
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap: int = 3,
) -> DataFrame:
    """Drop corpus documents that overlap the evaluation set (see
    :func:`contamination_overlap`) — broadcast anti-join, corpus stays
    partition-local."""
    hits = contamination_overlap(
        corpus, eval_df, id_col, text_col, k, min_overlap
    ).select(id_col)
    return corpus.join(F.broadcast(hits), id_col, "left_anti")


# --------------------------------------------------------------------------
# corpus-level repeated-span removal (C4 / RefinedWeb line-dedup analog)
# --------------------------------------------------------------------------


def doc_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Explode each document into consecutive non-overlapping k-token
    spans: (id, cidx, span, n_toks).  The tail span may carry < k tokens
    — it never participates in repetition counting or removal.  Pure
    Catalyst (split + sequence/slice HOFs), no UDF."""
    toks = F.split(F.col(text_col), " ")
    spans = F.transform(
        F.sequence(
            F.lit(0),
            (F.ceil(F.size(toks) / F.lit(k)) - 1).cast("int"),
        ),
        lambda c: F.struct(
            c.alias("cidx"),
            F.array_join(F.slice(toks, c * k + 1, k), " ").alias("span"),
            F.size(F.slice(toks, c * k + 1, k)).alias("n_toks"),
        ),
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(spans).alias("s"))
        .select("id", "s.cidx", "s.span", "s.n_toks")
    )


def drop_repeated_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove exact k-token spans that occur in >= ``min_docs`` distinct
    documents — the C4/RefinedWeb "repeated line/span" hygiene step
    (boilerplate, licenses, navigation chrome repeat verbatim across a
    crawl; their repetition count IS the detector).

    Returns (id_col, clean_text, n_removed) for every non-null-text row;
    a document whose every span repeats keeps an empty clean_text.

    Scale shape: repetition counting shuffles (xxhash64(span), id) longs
    — never span text — with a map-side combine; only the reassembly
    shuffle carries surviving span text, keyed by the document id (the
    output's own key, no skew beyond document length).  The hot-span set
    is NOT broadcast: it stays an equi-join on the hash (boilerplate sets
    can reach millions of spans at crawl scale).
    """
    spans = doc_spans(df, k=k, id_col=id_col, text_col=text_col)
    spans = spans.withColumn("__h", F.xxhash64("span"))
    hot = (
        spans.where(F.col("n_toks") == k)
        .groupBy("__h")
        .agg(F.count_distinct("id").alias("docs"))
        .where(F.col("docs") >= min_docs)
        .select("__h")
    )
    kept = spans.join(hot, "__h", "left_anti")
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cidx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = spans.groupBy("id").agg(F.count(F.lit(1)).alias("__total"))
    return (
        totals.join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (
                F.col("__total") - F.coalesce(F.col("__kept"), F.lit(0))
            ).cast("int").alias("n_removed"),
        )
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. 2003 — the MOSS algorithm)
# --------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowed document fingerprints: hash every positional k-gram, then
    keep the MINIMUM hash of each ``window`` consecutive positions — the
    MOSS guarantee (any shared substring of length >= k+window-1 yields
    at least one shared fingerprint, with ~2/(window+1) density).  Used
    for copy/plagiarism detection where full shingle sets are too big to
    index.

    Pure Catalyst HOFs over (lowercased, space-split) tokens; the k-gram
    hash is ``substr(md5(gram), 1, 16)`` so the DuckDB oracle computes
    the identical selection.  Documents shorter than a full window fall
    back to their single minimum hash (the standard boundary rule);
    shorter than k tokens emit nothing.  Returns (id, fp) exploded — the
    downstream overlap join is an equi-join on fp, same discipline as
    every other candidate generator here.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    gram_hash = lambda i: F.substring(  # noqa: E731
        F.md5(F.array_join(F.slice(toks, i + 1, k), " ")), 1, 16
    )
    sh = F.when(
        n >= k, F.transform(F.sequence(F.lit(0), n - k), gram_hash)
    ).otherwise(F.array().cast("array<string>"))
    d = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), sh.alias("__sh")
    )
    m = F.size("__sh")
    mins = F.transform(
        F.sequence(F.lit(0), m - window),
        lambda p: F.array_min(F.slice("__sh", p + 1, window)),
    )
    fps = (
        F.when(m >= window, F.array_distinct(mins))
        .when(m > 0, F.array(F.array_min("__sh")))
        .otherwise(F.array().cast("array<string>"))
    )
    return d.select("id", F.explode(fps).alias("fp"))


def winnowing_overlap_pairs(
    df: DataFrame,
    k: int = 4,
    window: int = 5,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_block: int | None = 1000,
) -> DataFrame:
    """Pairs sharing >= ``min_shared`` winnowed fingerprints — the copy-
    detection candidate set.  Equi-join on the 16-hex-char fingerprint
    (ids only in the join), map-side-combinable count.

    ``max_block`` (the web-scale guard, same discipline as
    :func:`ngram_jaccard_pairs`): a boilerplate fingerprint shared by m
    documents (license headers, navigation chrome) would otherwise make
    an O(m^2) join block.  Fingerprints whose posting list exceeds the
    cap are dropped from CANDIDATE BLOCKING only; every discovered pair
    is re-verified against the FULL fingerprint lists, so ``shared_fps``
    is always the TRUE shared count (hot fingerprints included).  The
    only possible misses are pairs whose EVERY shared fingerprint is
    hotter than the cap — pure boilerplate overlap, which copy detection
    deliberately ignores.  An existence probe skips the two-phase plan
    entirely when no fingerprint is hot (the common case), so the capped
    plan IS the exact plan there.
    """
    fps = winnow_fingerprints(
        df, k=k, window=window, id_col=id_col, text_col=text_col
    )

    def direct(p: DataFrame) -> DataFrame:
        a = p.select("fp", F.col("id").alias("id_a"))
        b = p.select("fp", F.col("id").alias("id_b"))
        return (
            a.join(b, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .where(F.col("shared_fps") >= min_shared)
        )

    if max_block is None:
        return direct(fps)
    # the fingerprint table feeds four branches (frequency probe,
    # blocking, two verification sides): persist + populate eagerly, the
    # production analog being a materialized fingerprint index
    fps = fps.persist()
    fps.count()
    freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    has_hot = len(freq.where(F.col("__df") > max_block).limit(1).take(1)) > 0
    if not has_hot:
        return direct(fps)
    rare = fps.join(freq.where(F.col("__df") <= max_block), "fp").select(
        "id", "fp"
    )
    cand = (
        rare.select("fp", F.col("id").alias("id_a"))
        .join(rare.select("fp", F.col("id").alias("id_b")), "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact re-verification: TRUE shared-fingerprint count over the full
    # lists, restricted to candidate ids (fans out by |fps(a)| per pair,
    # not by block size)
    pa = fps.select(F.col("id").alias("id_a"), "fp")
    pb = fps.select(F.col("id").alias("id_b"), "fp")
    return (
        cand.join(pa, "id_a")
        .join(pb, ["id_b", "fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def cluster_representatives(
    labels: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor per near-dup cluster: keep the member with
    the highest ``quality_col`` (ties -> smallest id) — the RefinedWeb-
    style keep-longest policy, instead of blind min-id.  One join of the
    (id, cluster) labels to the per-doc quality column and one
    combinable struct-max per cluster: ``max(struct(quality, -id))``
    needs no window and shuffles |labels| slim rows once."""
    j = labels.join(
        docs.select(F.col(id_col).alias("id"), F.col(quality_col).alias("q")),
        "id",
    )
    best = F.max(F.struct(F.col("q"), (-F.col("id")).alias("negid")))
    return (
        j.groupBy("cluster")
        .agg(
            best.alias("__b"),
            F.count(F.lit(1)).alias("members"),
        )
        .select(
            "cluster",
            (-F.col("__b.negid")).alias("rep_id"),
            F.col("__b.q").alias("rep_quality"),
            "members",
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter paragraph dedup (the Dolma deduper's scale technique)
# --------------------------------------------------------------------------


def bloom_positions(
    span: "Column | str", n_bits: int, n_hashes: int
) -> Column:
    """Bloom bit positions for one span: Kirsch-Mitzenmacher double
    hashing ``pos_i = (h1 + i*h2) mod m`` with ``h1 = xxhash64(span)``
    and ``h2 = xxhash64(span || '\\x01')``.

    The arithmetic is done entirely in modular space (``pmod`` each hash
    BEFORE the multiply-add) so no long overflow exists under ANSI mode,
    and the pure-Python twin (``golden`` replays via
    ``hashing.spark_xxhash64_str``) reproduces every position — and
    therefore every false positive — bit-exactly."""
    col = F.col(span) if isinstance(span, str) else span
    h1 = F.pmod(F.xxhash64(col), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(F.concat(col, F.lit("\x01"))), F.lit(n_bits))
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.pmod(h1 + i * h2, F.lit(n_bits)).cast("int"),
    )


def bloom_build(
    spans: DataFrame,
    span_col: str = "span",
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
) -> list[int]:
    """Distributed Bloom-filter build over a span column.

    Shuffle shape: explode to (bit position) ints, distinct them (one
    combinable shuffle of ints), pack ``word = pos div 64`` with a
    ``bit_or`` of single-bit masks (second tiny shuffle over <= m/64
    keys), and collect the BOUNDED m/64 longs.  The collect is m/8 bytes
    regardless of corpus size — the whole point of the structure: Dolma
    dedupes multi-TB batches against a fixed-RAM bitmap of everything
    seen so far.  Returns the bitmap as signed-long words (LSB-first
    within a word)."""
    words = (
        spans.select(
            F.explode(
                bloom_positions(span_col, n_bits, n_hashes)
            ).alias("pos")
        )
        .distinct()
        .select(
            F.expr("pos div 64").cast("long").alias("word"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("pos"), F.lit(64)),
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * ((n_bits + 63) // 64)
    for r in words:
        bitmap[int(r["word"])] = int(r["bits"])
    return bitmap


def _bloom_member_broadcast(
    df: DataFrame,
    bitmap: list[int],
    span_col: str,
    n_bits: int,
    n_hashes: int,
    out_col: str,
) -> DataFrame:
    """Membership via a literal bitmap array (fits small/medium blooms:
    the array rides the plan, one copy per executor — the Dolma
    in-memory shape)."""
    lit_map = F.lit(bitmap)
    pos = bloom_positions(span_col, n_bits, n_hashes)
    # positions are non-negative ints < n_bits, so floor(p/64) is exact
    hit = F.forall(
        pos,
        lambda p: (
            F.element_at(lit_map, F.floor(p / F.lit(64)).cast("int") + 1)
        ).bitwiseAND(
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64))
            )
        )
        != 0,
    )
    return df.withColumn(out_col, hit)


def bloom_paragraph_dedup(
    df: DataFrame,
    k: int = 8,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dolma-style Bloom-filter paragraph dedup (allenai/dolma's deduper:
    a fixed-RAM Bloom filter over paragraph hashes marks re-seen
    paragraphs across multi-TB batches without holding the corpus).

    The corpus splits deterministically in half by a seeded md5 salt on
    the id (the repo's replayable-split idiom): the SEEN half's k-token
    spans build the bitmap; the QUERY half's spans test against it.  A
    span testing positive is dropped as already-seen boilerplate.
    Returns one row per query document: (id, n_spans, n_dup_spans,
    clean_text) with spans in original order.

    Exactness: positions derive from ``xxhash64`` twinned bit-for-bit in
    pure Python (``hashing.spark_xxhash64_str``), so the golden oracle
    replays the IDENTICAL bitmap — including false positives — making a
    probabilistic structure hash-exactly verifiable.

    Scale shape: the build collects only m/8 bitmap bytes to the driver;
    the probe side is one literal-array test per span against that
    bitmap, which rides the plan (one copy per executor)."""
    # doc_spans emits the id as "id"; the split salts THAT column
    is_seen = (
        F.conv(
            F.substring(F.md5(F.col("id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    spans = doc_spans(
        df.where(F.col(text_col).isNotNull()),
        k=k,
        id_col=id_col,
        text_col=text_col,
    ).withColumn("__seen", is_seen)
    builder = spans.where(F.col("__seen"))
    query = spans.where(~F.col("__seen"))
    bitmap = bloom_build(
        builder, span_col="span", n_bits=n_bits, n_hashes=n_hashes
    )
    marked = _bloom_member_broadcast(
        query, bitmap, "span", n_bits, n_hashes, "__dup"
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("__dup").cast("int")).alias("n_dup_spans"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct("cidx", "span", "__dup")
                            )
                        ),
                        lambda s: ~s["__dup"],
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_spans").cast("int").alias("n_spans"),
            F.col("n_dup_spans").cast("int").alias("n_dup_spans"),
            "clean_text",
        )
    )


def template_turn_counts(
    df: DataFrame,
    min_convs: int = 3,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Canned-turn (template) detection over conversation transcripts:
    a turn text appearing VERBATIM in >= ``min_convs`` distinct
    conversations is boilerplate (system prompts, canned apologies,
    templated tool output), the message-level analog of corpus
    repeated-span removal.  Returns (conv, n_turns, n_template_turns).

    Plan: one combinable count-distinct groupBy builds the template
    bank, one 1:N equi-join marks turns (the bank side is DISTINCT
    texts, so a hot template fans out linearly — no quadratic block),
    one combinable per-conversation aggregate.  At crawl scale the bank
    key becomes ``xxhash64(text)`` so the shuffle carries 8-byte longs;
    kept verbatim here so the sequential oracle shares the exact
    equality semantics."""
    bank = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(text_col)
        .agg(F.count_distinct(F.col(conv_col)).alias("__cv"))
        .where(F.col("__cv") >= min_convs)
        .select(text_col, F.lit(1).alias("__tmpl"))
    )
    marked = df.join(bank, [text_col], "left")
    return (
        marked.groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_turns"),
            F.sum(F.coalesce(F.col("__tmpl"), F.lit(0)))
            .cast("int")
            .alias("n_template_turns"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): remove every token that lies inside
    a substring of >= k tokens shared verbatim with another document.

    The paper builds suffix arrays; the Spark-first re-expression uses
    OVERLAPPING k-token windows, which is EXACT for this semantics: a
    duplicated substring of length >= k contains only duplicated
    k-windows covering it, and any duplicated k-window is itself a
    duplicated k-substring — so "tokens covered by some cross-document
    duplicated k-window" is precisely the paper's per-token mark, with
    no suffix array and no pairwise comparison.

    Scale shape (everything linear in corpus tokens, NO doc-pair path):
    window hashing shuffles (xxhash64, doc) longs once with a map-side
    combine; the duplicated-hash set comes back as a 1:1 equi-join on
    the hash (marking never pairs documents, so a window duplicated in
    a million docs costs a million MARKS, not a trillion pairs); token
    cover explodes (doc, token_idx) ints; reassembly groups by the doc
    id, bounded by document length.  Returns (id, n_tokens,
    n_dup_tokens, clean_text) for non-null-text rows.
    """
    toks = F.split(F.col(text_col), " ")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), toks.alias("__t")
    )
    # overlapping windows: start positions 1..n-k+1 (1-based slice)
    wins = base.select(
        "id",
        F.explode(
            F.when(
                F.size("__t") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(
                            F.array_join(F.slice("__t", i, k), " ")
                        ).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,h:long>>"))
        ).alias("w"),
    ).select("id", "w.pos", "w.h")
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.count_distinct("id").alias("d"))
        .where(F.col("d") >= min_docs)
        .select("h")
    )
    # 1:1 mark per window (left semi): no document pairing anywhere
    dup_wins = wins.join(dup_hashes, "h", "left_semi")
    covered = dup_wins.select(
        "id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (k - 1))
        ).alias("ti"),
    ).distinct()
    toks_pos = base.select(
        "id", F.posexplode("__t").alias("ti0", "tok")
    ).select("id", (F.col("ti0") + 1).alias("ti"), "tok")
    kept = toks_pos.join(covered, ["id", "ti"], "left_anti")
    totals = base.select(
        "id", F.size("__t").alias("n_tokens")
    )
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ti", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    return (
        totals.join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("int")
            .alias("n_dup_tokens"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
