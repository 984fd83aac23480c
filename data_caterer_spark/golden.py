"""Golden-oracle rendering for the flagship transcript quality filter.

The BASELINE criterion grades the Spark pipeline against *reference
labels*: the single-threaded pure-Python :class:`ReferenceLabeler`
replays the same rule bank row-by-row (``labeler.py``).  This module runs
that labeler over the deterministic seed-42 fixture and renders its
output as a literal ``VALUES`` relation in ANSI SQL, so the driver's
DuckDB harness can hash-compare the distributed plan against the
sequential reference — the F1/byte-equality criterion as an oracle query.

Byte-equality of scrubbed text is checked via md5 (hex over UTF-8 bytes):
Spark computes ``md5(cast(scrubbed_text as binary))`` and the golden side
``hashlib.md5(text.encode("utf-8"))`` — identical digests iff identical
bytes, and the oracle SQL stays small enough to ship as a literal.
"""

from __future__ import annotations

import hashlib
import math
import os
from functools import lru_cache

#: sf dir the VALUES oracles are rendered against — must match the sf the
#: driver runs queries at (its correctness harness uses sf0.01; pytest
#: overrides via this env var to its own fixture dir)
ORACLE_SF_ENV = "SPARK_GRAFT_ORACLE_SF"
DEFAULT_ORACLE_SF = "/root/testdata/sf0.01"


def _oracle_sf_dir() -> str:
    return os.environ.get(ORACLE_SF_ENV, DEFAULT_ORACLE_SF)


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Dot product summed left to right, one float add per element: the
    order of the Spark side's ``aggregate`` fold
    (``operators/similarity.py``), so the cosines match bit for bit."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _fold_norm(a: list[float]) -> float:
    """Euclidean norm, the squares summed left to right."""
    acc = 0.0
    for x in a:
        acc += x * x
    return math.sqrt(acc)


def _spark_round(x: float, scale: int) -> float:
    """Replicate Spark's ROUND on doubles exactly: BigDecimal(double) is
    the exact binary value, setScale(scale, HALF_UP), back to double.
    Python's built-in round() is banker's rounding — NOT equivalent."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(x).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
    )


def _documents(sf_dir: str) -> list[tuple[int, "str | None"]]:
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()


def _values_sql(rows: list[str], cols: str) -> str:
    return f"SELECT * FROM (VALUES {', '.join(rows)}) AS g({cols})"


def langid_golden_sql(sf_dir: str | None = None) -> str:
    """Independent single-threaded replay of the langid kernel over the
    documents parquet — verifies the Spark side's broadcast-model Arrow
    UDF plumbing end-to-end (same deterministic kernel, textcore.py)."""
    from .functions.textcore import LangIdModel

    model = LangIdModel.train()
    rows = []
    for doc_id, text in _documents(sf_dir or _oracle_sf_dir()):
        lang, score = model.predict_one(text)
        rows.append(
            f"(CAST({doc_id} AS BIGINT), '{lang}', "
            f"CAST('{_spark_round(score, 6)!r}' AS DOUBLE))"
        )
    return _values_sql(rows, "doc_id, doc_lang, lang_score")


def langid_margin_golden_sql(
    sf_dir: str | None = None, confident_at: float = 0.3
) -> str:
    """Sequential replay of the language-ID confidence margin (same
    predict_margin_one kernel; batch grouping proven margin-invariant)."""
    from .functions.textcore import LangIdModel

    model = LangIdModel.train()
    rows = []
    for doc_id, text in _documents(sf_dir or _oracle_sf_dir()):
        lang, margin = model.predict_margin_one(text)
        conf = "TRUE" if margin >= confident_at else "FALSE"
        rows.append(
            f"(CAST({doc_id} AS BIGINT), '{lang}', "
            f"CAST('{_spark_round(margin, 6)!r}' AS DOUBLE), {conf})"
        )
    return _values_sql(rows, "doc_id, lang_pred, lang_margin, confident")


def perplexity_golden_sql(sf_dir: str | None = None) -> str:
    """Same for the hashed-trigram perplexity kernel."""
    from .functions.textcore import PerplexityModel

    model = PerplexityModel.train()
    rows = []
    for doc_id, text in _documents(sf_dir or _oracle_sf_dir()):
        rows.append(
            f"(CAST({doc_id} AS BIGINT), "
            f"CAST('{_spark_round(model.score_one(text), 2)!r}' AS DOUBLE))"
        )
    return _values_sql(rows, "doc_id, ppl")


def media_golden_sql(n: int = 300) -> str:
    """Pure-Python replay of synthesize_media_df + the deterministic fake
    image decode — verifies the mapInPandas batching/schema plumbing
    (operators/multimodal.py) independent of Spark."""
    rows = []
    for media_id in range(0, n, 3):  # pmod(id,3)==0 -> 'image'
        hexdigest = hashlib.sha256(str(media_id).encode()).hexdigest()
        payload = (hexdigest * 64)[:128].encode("utf-8")
        h = int.from_bytes(payload[:8], "big", signed=False)
        width = h % 1920 + 16
        height = h // 1920 % 1080 + 16
        mean_luma = (h % 255) / 255.0
        rows.append(
            f"(CAST({media_id} AS BIGINT), CAST({width} AS INTEGER), "
            f"CAST({height} AS INTEGER), CAST(3 AS INTEGER), "
            f"CAST('{mean_luma!r}' AS DOUBLE))"
        )
    return _values_sql(rows, "media_id, width, height, channels, mean_luma")


def minhash_golden_sql(
    sf_dir: str | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """Independent single-process replay of MinHash+LSH banding over the
    documents parquet: signatures via the shared kernel, but banding,
    candidate bucketing, dedup, and the agreement estimate re-implemented
    with plain dicts — verifies the distributed band-join plumbing."""
    from .operators.dedup import _perm_params, minhash_signature

    params = _perm_params(num_hashes, seed)
    sigs = {
        doc_id: minhash_signature(text, k, params)
        for doc_id, text in _documents(sf_dir or _oracle_sf_dir())
    }
    r = num_hashes // bands
    buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
    for doc_id, sig in sigs.items():
        for band in range(bands):
            key = (band, tuple(int(x) for x in sig[band * r : (band + 1) * r]))
            buckets.setdefault(key, []).append(doc_id)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i, ia in enumerate(ids):
            for ib in ids[i + 1 :]:
                pairs.add((ia, ib))
    rows = []
    for ia, ib in sorted(pairs):
        est = float((sigs[ia] == sigs[ib]).sum()) / num_hashes
        if est >= threshold:
            rows.append(
                f"(CAST({ia} AS BIGINT), CAST({ib} AS BIGINT), "
                f"CAST('{_spark_round(est, 6)!r}' AS DOUBLE))"
            )
    return _values_sql(rows, "id_a, id_b, est_jaccard")


def simhash_golden_sql(
    sf_dir: str | None = None, max_hamming: int = 3, k: int = 2
) -> str:
    """Independent replay of SimHash chunk blocking (shared fingerprint
    kernel; blocking/dedup/hamming re-implemented with dicts)."""
    from .operators.dedup import _CHUNKS, simhash_fingerprint

    # unsigned, so the chunk shifts and the XOR popcount see 64 bits
    fps = {
        doc_id: simhash_fingerprint(text, k) % (1 << 64)
        for doc_id, text in _documents(sf_dir or _oracle_sf_dir())
    }
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, fp in fps.items():
        for c in range(_CHUNKS):
            buckets.setdefault((c, (fp >> (c * 16)) & 0xFFFF), []).append(doc_id)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i, ia in enumerate(ids):
            for ib in ids[i + 1 :]:
                pairs.add((ia, ib))
    rows = []
    for ia, ib in sorted(pairs):
        ham = bin(fps[ia] ^ fps[ib]).count("1")
        if ham <= max_hamming:
            rows.append(
                f"(CAST({ia} AS BIGINT), CAST({ib} AS BIGINT), "
                f"CAST({ham} AS INTEGER))"
            )
    return _values_sql(rows, "id_a, id_b, hamming")


def lsh_knn_golden_sql(
    sf_dir: str | None = None,
    k: int = 3,
    num_tables: int = 8,
    num_planes: int = 12,
    seed: int = 42,
) -> str:
    """Independent replay of the random-hyperplane LSH knn join over the
    embeddings parquet: same hyperplane family and one whole-table matmul
    for buckets, then dict-bucket candidates, exact cosine re-scored with
    the SAME left-to-right fold order Spark's aggregate() uses (float sum
    order is part of the value), symmetrize, top-k by (desc cos, asc id)."""
    import duckdb
    import numpy as np

    from .operators.similarity import _hyperplanes

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet') "
        "ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in recs]
    vecs = {r[0]: [float(x) for x in r[1]] for r in recs}
    dim = len(recs[0][1])
    mats = [
        np.array(_hyperplanes(dim, num_planes, seed + 1000 * t), dtype=np.float64).T
        for t in range(num_tables)
    ]
    planes = np.concatenate(mats, axis=1)
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    margins = (mat @ planes).reshape(len(ids), num_tables, num_planes)
    pow2 = np.array([1 << i for i in range(num_planes)], dtype=np.int64)
    bucket_ids = ((margins >= 0) * pow2).sum(axis=2).astype(np.int64)

    buckets: dict[tuple[int, int], list[int]] = {}
    for row, vid in enumerate(ids):
        for t in range(num_tables):
            buckets.setdefault((t, int(bucket_ids[row, t])), []).append(vid)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        members = sorted(members)
        for i, ia in enumerate(members):
            for ib in members[i + 1 :]:
                cand.add((ia, ib))

    scored: dict[int, list[tuple[float, int]]] = {}
    for ia, ib in cand:
        na, nb = _fold_norm(vecs[ia]), _fold_norm(vecs[ib])
        if not (na > 0 and nb > 0):
            continue
        cos = _spark_round(_fold_dot(vecs[ia], vecs[ib]) / (na * nb), 6)
        scored.setdefault(ia, []).append((cos, ib))
        scored.setdefault(ib, []).append((cos, ia))
    rows = []
    for ia in sorted(scored):
        ranked = sorted(scored[ia], key=lambda cv: (-cv[0], cv[1]))
        for rank, (cos, ib) in enumerate(ranked[:k], start=1):
            rows.append(
                f"(CAST({ia} AS BIGINT), CAST({ib} AS BIGINT), "
                f"CAST('{cos!r}' AS DOUBLE), CAST({rank} AS INTEGER))"
            )
    return _values_sql(rows, "id_a, id_b, cos_sim, rank")


def ivf_knn_golden_sql(
    sf_dir: str | None = None,
    k: int = 3,
    n_lists: int | None = None,
    probes: int = 2,
    iters: int = 5,
    seed: int = 42,
    rows_per_list: int = 64,
    sample_rows: int = 10_000,
) -> str:
    """Independent replay of the IVF knn join: same n_lists derivation
    (rows-per-list), same seeded md5-threshold training sample in id
    order, same numpy k-means, dict-based inverted lists (query-side
    multiprobe), fold-order-exact cosine rescoring."""
    import hashlib

    import duckdb
    import numpy as np

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()  # storage order == Spark scan order (single file)
    ids = [r[0] for r in recs]
    vecs = {r[0]: [float(x) for x in r[1]] for r in recs}
    dim = len(recs[0][1])

    from .operators.sampling import fraction_threshold
    from .operators.similarity import (
        TRAIN_ROWS_PER_LIST,
        derive_n_lists,
        kmeans_fit,
        nearest_lists,
    )

    n = len(ids)
    if n_lists is None:
        n_lists = derive_n_lists(n, rows_per_list)
    # the SAME sample rule + training kernel the Spark path runs:
    # md5("{seed}\x1f{id}")[:8] < threshold, kmeans input in id order
    eff_sample = max(sample_rows, TRAIN_ROWS_PER_LIST * n_lists)
    thr = fraction_threshold(min(1.0, eff_sample / max(n, 1)))
    samp = sorted(
        vid
        for vid in ids
        if hashlib.md5(f"{seed}\x1f{vid}".encode()).hexdigest()[:8] < thr
    )
    x = np.array([vecs[i] for i in samp], dtype=np.float64)
    cent = kmeans_fit(x, min(n_lists, len(x)), iters=iters, seed=seed)
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    order = nearest_lists(mat, cent, probes)
    lists: dict[int, list[int]] = {}
    probe_lists: dict[int, list[int]] = {}
    for row, vid in enumerate(ids):
        probe_lists[vid] = [int(c) for c in order[row]]
        lists.setdefault(int(order[row, 0]), []).append(vid)
    cand: set[tuple[int, int]] = set()
    for vid in ids:
        for c in probe_lists[vid]:
            for other in lists.get(c, ()):  # indexed under nearest list only
                # Spark join condition: PROBER id < INDEXED id
                if vid < other:
                    cand.add((vid, other))

    scored: dict[int, list[tuple[float, int]]] = {}
    for ia, ib in cand:
        na, nb = _fold_norm(vecs[ia]), _fold_norm(vecs[ib])
        if not (na > 0 and nb > 0):
            continue
        cos = _spark_round(_fold_dot(vecs[ia], vecs[ib]) / (na * nb), 6)
        scored.setdefault(ia, []).append((cos, ib))
        scored.setdefault(ib, []).append((cos, ia))
    rows = []
    for ia in sorted(scored):
        ranked = sorted(set(scored[ia]), key=lambda cv: (-cv[0], cv[1]))
        for rank, (cos, ib) in enumerate(ranked[:k], start=1):
            rows.append(
                f"(CAST({ia} AS BIGINT), CAST({ib} AS BIGINT), "
                f"CAST('{cos!r}' AS DOUBLE), CAST({rank} AS INTEGER))"
            )
    return _values_sql(rows, "id_a, id_b, cos_sim, rank")


def pq_adc_golden_sql(
    sf_dir: str | None = None,
    m_subspaces: int = 16,
    k_codes: int = 32,
    k: int = 10,
    rerank: int = 50,
    iters: int = 5,
    seed: int = 42,
    sample_rows: int = 10_000,
) -> str:
    """Independent replay of the PQ ADC top-k + exact re-rank: the SAME
    seeded md5-threshold training sample in id order, the SAME shared
    kernels (pq_fit_codebooks / pq_encode / pq_adc_lut / pq_adc_scores —
    bit-identical to the Spark UDF path by construction), fold-order-exact
    cosine on the re-rank candidates, ordering on ROUNDED scores."""
    import hashlib

    import duckdb
    import numpy as np

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()
    ids = [r[0] for r in recs]
    vecs = {r[0]: [float(x) for x in r[1]] for r in recs}

    from .operators.sampling import fraction_threshold
    from .operators.similarity import (
        pq_adc_lut,
        pq_adc_scores,
        pq_encode,
        pq_fit_codebooks,
    )

    n = len(ids)
    thr = fraction_threshold(min(1.0, sample_rows / max(n, 1)))
    samp = sorted(
        vid
        for vid in ids
        if hashlib.md5(f"{seed}\x1f{vid}".encode()).hexdigest()[:8] < thr
    )
    x = np.array([vecs[i] for i in samp], dtype=np.float64)
    books = pq_fit_codebooks(x, m_subspaces, k_codes, iters=iters, seed=seed)
    q = np.array(vecs[0], dtype=np.float64)
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    codes = pq_encode(mat, books)
    adc = pq_adc_scores(codes, pq_adc_lut(q, books))
    scored = sorted(
        ((_spark_round(float(d), 6), vid) for d, vid in zip(adc, ids)),
        key=lambda t: (t[0], t[1]),
    )[:rerank]

    qn = _fold_norm(vecs[0])
    finals = []
    for adc_r, vid in scored:
        nv = _fold_norm(vecs[vid])
        if not (nv > 0 and qn > 0):
            continue
        cos = _spark_round(_fold_dot(vecs[vid], vecs[0]) / (nv * qn), 6)
        finals.append((cos, vid, adc_r))
    finals.sort(key=lambda t: (-t[0], t[1]))
    rows = [
        f"(CAST({vid} AS BIGINT), CAST('{adc_r!r}' AS DOUBLE), "
        f"CAST('{cos!r}' AS DOUBLE))"
        for cos, vid, adc_r in finals[:k]
    ]
    return _values_sql(rows, "vec_id, adc_dist, cos_sim")


@lru_cache(maxsize=4)
def transcript_golden_rows(
    n_convs: int = 200, seed: int = 42
) -> tuple[tuple[str, int, bool, str, str | None], ...]:
    """Reference-labeler output as (conv_id, turn_idx, keep, rule_hits
    joined with '|', md5-of-scrubbed-text-or-None) tuples."""
    from .fixtures import generate_transcripts
    from .labeler import ReferenceLabeler

    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    if len(set(keys)) != len(keys):
        raise ValueError(
            "fixture produced duplicate (conv_id, turn_idx) keys; "
            "golden rows would be ambiguous"
        )
    labeled = ReferenceLabeler().label_rows(rows)
    out = []
    for t in labeled:
        digest = (
            None
            if t.scrubbed_text is None
            else hashlib.md5(t.scrubbed_text.encode("utf-8")).hexdigest()
        )
        out.append(
            (t.conv_id, t.turn_idx, t.keep, "|".join(t.rule_hits), digest)
        )
    return tuple(out)


def role_transitions_golden_sql(n_convs: int = 200, seed: int = 42) -> str:
    """Sequential count of (prev role -> role) transitions over the
    transcripts fixture, conversation starts entering from 'START'."""
    from .fixtures import generate_transcripts

    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    convs: dict[str, list[tuple[int, str]]] = {}
    for r in rows:
        convs.setdefault(r["conv_id"], []).append((r["turn_idx"], r["role"]))
    counts: dict[tuple[str, str], int] = {}
    for turns in convs.values():
        prev = "START"
        for _, role in sorted(turns):
            counts[(prev, role)] = counts.get((prev, role), 0) + 1
            prev = role
    vals = [
        f"('{a}', '{b}', CAST({n} AS BIGINT))"
        for (a, b), n in sorted(counts.items())
    ]
    return _values_sql(vals, "role_from, role_to, n")


def compression_golden_sql(
    sf_dir: str | None = None, repetitive_below: float = 0.4
) -> str:
    """Sequential replay of the DEFLATE compression-ratio signal (same
    zlib level-6 kernel, py_compression_ratio)."""
    from .functions.docs import py_compression_ratio

    rows = []
    for doc_id, text in _documents(sf_dir or _oracle_sf_dir()):
        if text is None or len(text.encode("utf-8")) == 0:
            continue
        raw, comp, ratio = py_compression_ratio(text)
        rows.append(
            f"(CAST({doc_id} AS BIGINT), CAST({raw} AS INTEGER), "
            f"CAST({comp} AS INTEGER), "
            f"CAST('{_spark_round(ratio, 6)!r}' AS DOUBLE), "
            f"{'TRUE' if ratio < repetitive_below else 'FALSE'})"
        )
    return _values_sql(
        rows, "doc_id, raw_bytes, comp_bytes, comp_ratio, flag_repetitive"
    )


def chat_export_golden_sql(n_convs: int = 200, seed: int = 42) -> str:
    """Sequential replay of the chat-jsonl export: label every turn with
    the reference labeler, keep (keep AND scrubbed_text non-null) turns
    in turn order, render each conversation with the SAME Jackson-twin
    escaper (functions/chatfmt.py), md5 the bytes."""
    from .fixtures import generate_transcripts
    from .functions.chatfmt import py_chat_json
    from .labeler import ReferenceLabeler

    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    roles = {(r["conv_id"], r["turn_idx"]): r["role"] for r in rows}
    convs: dict[str, list[tuple[int, str, str]]] = {}
    for t in ReferenceLabeler().label_rows(rows):
        if t.keep and t.scrubbed_text is not None:
            convs.setdefault(t.conv_id, []).append(
                (t.turn_idx, roles[(t.conv_id, t.turn_idx)], t.scrubbed_text)
            )
    vals = []
    for conv_id in sorted(convs):
        msgs = sorted(convs[conv_id])
        digest = hashlib.md5(
            py_chat_json([(r, c) for _, r, c in msgs]).encode("utf-8")
        ).hexdigest()
        vals.append(
            f"('{conv_id}', CAST({len(msgs)} AS INTEGER), '{digest}')"
        )
    return _values_sql(vals, "conv_id, n_msgs, chat_md5")


def transcript_golden_sql(n_convs: int = 200, seed: int = 42) -> str:
    """The golden rows as one ``SELECT ... FROM (VALUES ...)`` statement.

    All values are plain literals from a closed alphabet (CONV ids, rule
    ids, hex digests) — no escaping hazards.
    """
    vals = []
    for conv_id, turn_idx, keep, hits, digest in transcript_golden_rows(
        n_convs, seed
    ):
        md5_lit = "CAST(NULL AS VARCHAR)" if digest is None else f"'{digest}'"
        vals.append(
            f"('{conv_id}', {turn_idx}, {'TRUE' if keep else 'FALSE'}, "
            f"'{hits}', {md5_lit})"
        )
    return (
        "SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, keep, "
        "rule_hits, scrub_md5 FROM (VALUES "
        + ", ".join(vals)
        + ") AS g(conv_id, turn_idx, keep, rule_hits, scrub_md5)"
    )


# --------------------------------------------------------------------------
# real-codec media oracles: sequential replay of synth + REAL decode
# (operators/mediacodec.py) — the distributed mapInPandas plan is
# hash-compared against the same pure-numpy kernels run single-process
# --------------------------------------------------------------------------


def real_image_golden_sql(n: int = 120, seed: int = 42) -> str:
    from .operators import mediacodec as C

    rows = []
    for media_id in range(0, n):
        kind, _, payload = C.synth_real_payload(media_id, seed)
        if kind != "image":
            continue
        w, h, ch, luma = C.image_features(payload)
        rows.append(
            f"(CAST({media_id} AS BIGINT), CAST({w} AS INTEGER), "
            f"CAST({h} AS INTEGER), CAST({ch} AS INTEGER), "
            f"CAST('{luma!r}' AS DOUBLE))"
        )
    return _values_sql(rows, "media_id, width, height, channels, mean_luma")


def real_audio_golden_sql(n: int = 120, seed: int = 42) -> str:
    from .operators import mediacodec as C

    rows = []
    for media_id in range(0, n):
        kind, _, payload = C.synth_real_payload(media_id, seed)
        if kind != "audio":
            continue
        sr, ns, dur, rms = C.audio_features(payload)
        rows.append(
            f"(CAST({media_id} AS BIGINT), CAST({sr} AS INTEGER), "
            f"CAST({ns} AS BIGINT), CAST('{dur!r}' AS DOUBLE), "
            f"CAST('{rms!r}' AS DOUBLE))"
        )
    return _values_sql(rows, "media_id, sample_rate, n_samples, duration_s, rms")


def video_frames_golden_sql(
    n: int = 120, seed: int = 42, every_n: int = 2, max_frames: int = 8
) -> str:
    from .operators import mediacodec as C

    rows = []
    for media_id in range(0, n):
        kind, _, payload = C.synth_real_payload(media_id, seed)
        if kind != "video":
            continue
        for idx, luma in C.video_frame_features(
            payload, every_n=every_n, max_frames=max_frames
        ):
            rows.append(
                f"(CAST({media_id} AS BIGINT), CAST({idx} AS INTEGER), "
                f"CAST('{round(luma, 6)!r}' AS DOUBLE))"
            )
    return _values_sql(rows, "media_id, frame_idx, frame_luma")


def media_resize_golden_sql(
    n: int = 120, seed: int = 42, out_w: int = 16, out_h: int = 12
) -> str:
    """Replay resize(decode) -> re-encode -> decode -> features: pins the
    full payload-in/payload-out composition, not just one kernel."""
    from .operators import mediacodec as C

    rows = []
    for media_id in range(0, n):
        kind, _, payload = C.synth_real_payload(media_id, seed)
        if kind != "image":
            continue
        resized = C.encode_ppm(
            C.resize_nearest(C.decode_image(payload), out_w, out_h)
        )
        w, h, ch, luma = C.image_features(resized)
        rows.append(
            f"(CAST({media_id} AS BIGINT), CAST({len(resized)} AS BIGINT), "
            f"CAST({w} AS INTEGER), CAST({h} AS INTEGER), "
            f"CAST('{luma!r}' AS DOUBLE))"
        )
    return _values_sql(rows, "media_id, n_bytes, width, height, mean_luma")


# --------------------------------------------------------------------------
# streaming oracles: sequential labeler replay restricted to the stateless
# rule bank (streaming/quality_stream.py drops the three cross-turn rules,
# which are flag-severity — keep/drop is unaffected, hits lists shrink)
# --------------------------------------------------------------------------


def _streaming_labeled(n_convs: int, seed: int):
    from .fixtures import generate_transcripts
    from .labeler import ReferenceLabeler
    from .plans.pipeline import CROSS_TURN_RULE_IDS

    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    for t in ReferenceLabeler().label_rows(rows):
        hits = [h for h in t.rule_hits if h not in CROSS_TURN_RULE_IDS]
        digest = (
            None
            if t.scrubbed_text is None
            else hashlib.md5(t.scrubbed_text.encode("utf-8")).hexdigest()
        )
        yield t.conv_id, t.turn_idx, t.keep, "|".join(hits), digest


def streaming_golden_sql(n_convs: int = 120, seed: int = 42) -> str:
    """Per-turn streaming output (keep, stateless rule hits, scrub md5)."""
    vals = []
    for conv_id, turn_idx, keep, hits, digest in _streaming_labeled(
        n_convs, seed
    ):
        md5_lit = "CAST(NULL AS VARCHAR)" if digest is None else f"'{digest}'"
        vals.append(
            f"('{conv_id}', {turn_idx}, {'TRUE' if keep else 'FALSE'}, "
            f"'{hits}', {md5_lit})"
        )
    return (
        "SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, keep, "
        "rule_hits, scrub_md5 FROM (VALUES "
        + ", ".join(vals)
        + ") AS g(conv_id, turn_idx, keep, rule_hits, scrub_md5)"
    )


def streaming_window_golden_sql(
    n_convs: int = 120, seed: int = 42, window_s: int = 300
) -> str:
    """Tumbling-window (turns, kept, flagged) aggregates of the labeled
    stream — the sequential replay of windowed_conversation_metrics.  The
    fixture's ts values are deterministic epoch seconds; a window is
    [floor(epoch/window_s)*window_s, +window_s)."""
    from collections import defaultdict

    from .fixtures import generate_transcripts

    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in generate_transcripts(n_convs=n_convs, seed=seed)
    }
    agg: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0])
    for conv_id, turn_idx, keep, hits, _d in _streaming_labeled(n_convs, seed):
        ts = rows[(conv_id, turn_idx)]["ts"]
        bucket = int(ts.timestamp() // window_s) * window_s
        a = agg[bucket]
        a[0] += 1
        a[1] += int(keep)
        a[2] += int(bool(hits))
    vals = [
        f"({b}, {a[0]}, {a[1]}, {a[2]})" for b, a in sorted(agg.items())
    ]
    return (
        "SELECT CAST(window_epoch AS BIGINT) AS window_epoch, "
        "CAST(turns AS BIGINT) AS turns, CAST(kept AS BIGINT) AS kept, "
        "CAST(flagged AS BIGINT) AS flagged FROM (VALUES "
        + ", ".join(vals)
        + ") AS g(window_epoch, turns, kept, flagged)"
    )


# --------------------------------------------------------------------------
# decontamination oracle: sequential shingle-overlap replay
# --------------------------------------------------------------------------


def _py_word_shingles(text: "str | None", k: int) -> set[str]:
    """Python mirror of dedup.word_shingles (same tokenization contract as
    _py_shingle_hashes, shingle STRINGS instead of hashes)."""
    if text is None:
        return set()
    toks = text.lower().split()
    if not toks:
        return set()
    if len(toks) >= k:
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    return {" ".join(toks)}


def decontamination_golden_sql(
    sf_dir: str | None = None,
    k: int = 3,
    min_overlap: int = 3,
    eval_mod: int = 25,
) -> str:
    """Corpus docs overlapping the eval slice (doc_id % eval_mod == 0) in
    >= min_overlap distinct shingles — replayed with plain Python sets."""
    docs = _documents(sf_dir or _oracle_sf_dir())
    eval_sh: set[str] = set()
    for doc_id, text in docs:
        if doc_id % eval_mod == 0:
            eval_sh |= _py_word_shingles(text, k)
    rows = []
    for doc_id, text in docs:
        if doc_id % eval_mod == 0:
            continue
        n = len(_py_word_shingles(text, k) & eval_sh)
        if n >= min_overlap:
            rows.append(
                f"(CAST({doc_id} AS BIGINT), CAST({n} AS BIGINT))"
            )
    return _values_sql(rows, "doc_id, n_shared")


def conversation_rollup_golden_sql(
    n_convs: int = 200, seed: int = 42, min_keep_ratio: float = 0.5
) -> str:
    """Conversation-level keep decision from the per-turn golden labels:
    (conv_id, n_turns, n_kept, conv_keep = kept/turns >= ratio)."""
    from collections import defaultdict

    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for conv_id, _idx, keep, _hits, _d in transcript_golden_rows(
        n_convs, seed
    ):
        agg[conv_id][0] += 1
        agg[conv_id][1] += int(keep)
    vals = []
    for conv_id, (n, kept) in sorted(agg.items()):
        flag = "TRUE" if kept >= min_keep_ratio * n else "FALSE"
        vals.append(f"('{conv_id}', {n}, {kept}, {flag})")
    return (
        "SELECT conv_id, CAST(n_turns AS BIGINT) AS n_turns, "
        "CAST(n_kept AS BIGINT) AS n_kept, conv_keep FROM (VALUES "
        + ", ".join(vals)
        + ") AS g(conv_id, n_turns, n_kept, conv_keep)"
    )


def seeded_table_golden_rows(
    n_rows: int = 1000, n_parts: int = 4
) -> list[tuple]:
    """Independent replay of ``generate_seeded_table``: the exact value
    stream of every seeded Spark expression the generator emits, via the
    pure-Python ``sparkrng.XORShiftRandom`` (bit-exact vs Spark RAND —
    0/10,000 cell mismatches measured).

    Stream bookkeeping mirrors Catalyst's evaluation semantics:

    * every ``RAND(seed)`` occurrence is its own instance seeded
      ``seed + partitionIndex`` (``spark.range(0, n, 1, parts)`` splits
      evenly, so partition p holds rows [p*n/parts, (p+1)*n/parts));
    * the null-injection wrapper ``CASE WHEN RAND(44) <= p THEN NULL
      ELSE ...RAND(44)... END`` evaluates its ELSE lazily, so the value
      stream advances only on non-null rows while the condition stream
      advances every row;
    * the regex renderer derives seed 48 for the single ``[0-9]`` class
      draw (47 + 1) and evaluates it 5x per row inside TRANSFORM;
    * struct subfield seeds derive as parent + 31*(i+1): tier=80,
      limits=111, daily=142;
    * ROUND follows BigDecimal.valueOf(double) HALF_UP (repr-based),
      matching Spark's Round on DoubleType.
    """
    import datetime
    from decimal import ROUND_HALF_UP, Decimal

    from .sparkrng import XORShiftRandom

    def rnd(x: float, scale: int) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
            )
        )

    out = []
    per = n_rows // n_parts
    d_lo = datetime.date(2015, 1, 1)
    dd = (datetime.date(2024, 12, 31) - d_lo).days
    for p in range(n_parts):
        acct = XORShiftRandom(42, p)
        status = XORShiftRandom(43, p)
        bal_c = XORShiftRandom(44, p)
        bal_v = XORShiftRandom(44, p)
        opened = XORShiftRandom(45, p)
        fee = XORShiftRandom(46, p)
        ref = XORShiftRandom(48, p)
        score = XORShiftRandom(48, p)
        tier = XORShiftRandom(80, p)
        daily = XORShiftRandom(142, p)
        for _ in range(per):
            a = int(rnd(acct.next_double() * 1000000000 + 1000000000, 0))
            st = ["open", "closed", "pending"][int(status.next_double() * 3)]
            bal = (
                None
                if bal_c.next_double() <= 0.05
                else rnd(bal_v.next_double() * 10000 + 0, 4)
            )
            op = d_lo + datetime.timedelta(
                days=int(opened.next_double() * dd)
            )
            rich = None if bal is None else bal > 9000
            fe = rnd(fee.next_double() * 500 + 0, 2)
            rc = "ACC100" + "".join(
                "0123456789"[int(ref.next_double() * 10)] for _ in range(5)
            )
            sc = rnd(score.next_gaussian() * 5.0 + 100.0, 4)
            ti = ["gold", "silver"][int(tier.next_double() * 2)]
            da = int(rnd(daily.next_double() * 899 + 100, 0))
            dj = '{"tier":"%s","limits":{"daily":%d}}' % (ti, da)
            out.append((a, st, bal, op, op.year, rich, fe, rc, sc, dj))
    return out


def seeded_table_golden_sql(n_rows: int = 1000, n_parts: int = 4) -> str:
    """The replayed generation table as a typed VALUES oracle."""
    vals = []
    for a, st, bal, op, yr, rich, fe, rc, sc, dj in seeded_table_golden_rows(
        n_rows, n_parts
    ):
        bal_s = "CAST(NULL AS DOUBLE)" if bal is None else f"CAST({bal!r} AS DOUBLE)"
        # nullable boolean and decimal(8,2) travel as strings/doubles in
        # the driver query (see generate_seeded_table_query) — mirror that
        rich_s = "null" if rich is None else ("true" if rich else "false")
        vals.append(
            f"(CAST({a} AS BIGINT), '{st}', {bal_s}, DATE '{op.isoformat()}', "
            f"CAST({yr} AS INT), '{rich_s}', CAST({fe!r} AS DOUBLE), "
            f"'{rc}', CAST({sc!r} AS DOUBLE), '{dj}')"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS g(acct_id, status, balance, opened, year, is_rich, fee, "
        "ref_code, score, details)"
    )


def semantic_dedup_golden_sql(
    sf_dir: str | None = None,
    eps: float = 0.75,
    n_clusters: int | None = None,
    iters: int = 5,
    seed: int = 42,
    rows_per_cluster: int = 64,
    sample_rows: int = 10_000,
    max_cluster_size: int | None = None,
) -> str:
    """Independent replay of the SemDeDup pass (similarity.
    semantic_dedup_drops): same n_clusters derivation + seeded
    md5-threshold training sample in id order, same shared k-means /
    assignment kernels, same seeded-md5 salt split of clusters over
    ``max_cluster_size`` (default 4*rows_per_cluster — the skew guard),
    dict-based within-(sub-)cluster pairing with fold-order-exact
    cosine, union-find components, min-id representative kept — dropped
    ids as a VALUES relation."""
    import hashlib

    import duckdb
    import numpy as np

    from .operators.sampling import fraction_threshold
    from .operators.similarity import (
        TRAIN_ROWS_PER_LIST,
        derive_n_lists,
        kmeans_fit,
        nearest_lists,
    )

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()
    ids = [r[0] for r in recs]
    vecs = {r[0]: [float(x) for x in r[1]] for r in recs}
    n = len(ids)
    if n_clusters is None:
        n_clusters = derive_n_lists(n, rows_per_cluster)
    eff = max(sample_rows, TRAIN_ROWS_PER_LIST * n_clusters)
    thr_hex = fraction_threshold(min(1.0, eff / max(n, 1)))
    samp = sorted(
        vid
        for vid in ids
        if hashlib.md5(f"{seed}\x1f{vid}".encode()).hexdigest()[:8] < thr_hex
    )
    x = np.array([vecs[i] for i in samp], dtype=np.float64)
    cent = kmeans_fit(x, min(n_clusters, len(x)), iters=iters, seed=seed)
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    order = nearest_lists(mat, cent, 1)
    raw_clusters: dict[int, list[int]] = {}
    for row, vid in enumerate(ids):
        raw_clusters.setdefault(int(order[row, 0]), []).append(vid)
    # the distributed side's skew guard, replayed bit-for-bit: clusters
    # over the cap split into ceil(size/cap) salted sub-clusters
    cap = (
        max_cluster_size
        if max_cluster_size is not None
        else 4 * rows_per_cluster
    )
    clusters: dict[tuple[int, int], list[int]] = {}
    for cid, members in raw_clusters.items():
        nsub = -(-len(members) // cap)
        for vid in members:
            sub = (
                int(
                    hashlib.md5(
                        f"sub\x1f{seed}\x1f{vid}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                % nsub
            )
            clusters.setdefault((cid, sub), []).append(vid)

    thr = 1.0 - eps
    parent: dict[int, int] = {}

    def find(u: int) -> int:
        while parent.get(u, u) != u:
            parent[u] = parent.get(parent[u], parent[u])
            u = parent[u]
        return u

    def union(u: int, v: int) -> None:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = min(ru, rv), max(ru, rv)
            parent[hi] = lo
            parent.setdefault(lo, lo)

    for members in clusters.values():
        members = sorted(members)
        for i, ia in enumerate(members):
            na = _fold_norm(vecs[ia])
            for ib in members[i + 1 :]:
                nb = _fold_norm(vecs[ib])
                if not (na > 0 and nb > 0):
                    continue
                cos = _spark_round(_fold_dot(vecs[ia], vecs[ib]) / (na * nb), 6)
                if cos >= thr:
                    union(ia, ib)
    drops = sorted(u for u in parent if find(u) != u)
    if not drops:
        return "SELECT CAST(NULL AS BIGINT) AS vec_id WHERE 1=0"
    rows = [f"(CAST({d} AS BIGINT))" for d in drops]
    return _values_sql(rows, "vec_id")


def bpe_golden_sql(
    sf_dir: str | None = None,
    n_merges: int = 200,
    min_freq: int = 2,
    max_vocab_rows: int | None = 100_000,
) -> str:
    """Independent sequential replay of BPE train + tokenize over the
    documents parquet: the SAME shared kernels (functions/bpe.py
    split_words / cap_word_counts / train_bpe / tokenize_text) run
    single-process on duckdb-read text, so the distributed word-count +
    broadcast-ranks UDF path must reproduce every token stream
    byte-for-byte (compared via md5 of the joined tokens).  The vocab
    bounds mirror the distributed side's pushed-down collect caps."""
    from .functions.bpe import (
        cap_word_counts,
        split_words,
        tokenize_text,
        train_bpe,
    )

    docs = _documents(sf_dir or _oracle_sf_dir())
    counts: dict[str, int] = {}
    for _id, text in docs:
        for w in split_words(text):
            counts[w] = counts.get(w, 0) + 1
    counts = cap_word_counts(counts, min_freq=min_freq, max_vocab_rows=max_vocab_rows)
    merges = train_bpe(counts, n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    rows = []
    for doc_id, text in docs:
        toks = tokenize_text(text, ranks)
        digest = hashlib.md5("\x1f".join(toks).encode("utf-8")).hexdigest()
        rows.append(
            f"(CAST({doc_id} AS BIGINT), CAST({len(toks)} AS INTEGER), "
            f"'{digest}')"
        )
    return _values_sql(rows, "doc_id, n_bpe_tokens, tokens_md5")


def dsir_golden_sql(
    sf_dir: str | None = None,
    n_buckets: int = 8192,
    k: "int | None" = None,
    target_lang: str = "en",
) -> str:
    """Independent sequential replay of DSIR importance weighting
    (operators/selection.py): same ngram/bucket/fixed-ratio kernels run
    single-process over duckdb-read text — the distributed
    explode->broadcast-join->int64-sum path must reproduce every
    fixed-point weight exactly.  ``k`` selects the deterministic top-k
    (weight desc, doc_id asc); None emits all docs."""
    import duckdb

    from .operators.selection import (
        FIXED_SCALE,
        bucket_of,
        fixed_log_ratios,
        ngram_strings,
        score_rows_python,
    )

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT doc_id, text, lang FROM "
        f"read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()

    def counts(rows_) -> dict[int, int]:
        out: dict[int, int] = {}
        for _i, text in rows_:
            for g in ngram_strings(text):
                b = bucket_of(g, n_buckets)
                out[b] = out.get(b, 0) + 1
        return out

    target = [(d, t) for d, t, lang in recs if lang == target_lang]
    raw = [(d, t) for d, t, _lang in recs]
    ratios = fixed_log_ratios(counts(target), counts(raw), n_buckets)
    weights = score_rows_python(raw, ratios, n_buckets)
    items = sorted(weights.items())
    if k is not None:
        items = sorted(items, key=lambda kv: (-kv[1], kv[0]))[:k]
    rows = [
        f"(CAST({d} AS BIGINT), CAST({w} AS BIGINT), "
        f"CAST('{_spark_round(w / FIXED_SCALE, 6)!r}' AS DOUBLE))"
        for d, w in items
    ]
    return _values_sql(rows, "doc_id, log_weight_fixed, log_weight")


def quality_classifier_golden_sql(
    sf_dir: str | None = None,
    n_features: int = 1024,
    iters: int = 6,
    lr: float = 0.5,
    target_lang: str = "en",
) -> str:
    """Sequential replay of the quality-classifier train+infer pipeline
    (``functions/classifier.py``): same featurize/margin/grad kernels,
    same int64 nano-unit gradient sums (order-independent, so the
    single-threaded weight trajectory is bit-identical to the cluster's
    per-partition partials), same scoring kernel."""
    import duckdb

    from .functions.classifier import score_doc, train_sequential

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT doc_id, text, lang FROM "
        f"read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    rows = [
        (int(d), t, 1 if lang == target_lang else 0) for d, t, lang in recs
    ]
    model = train_sequential(rows, n_features, iters, lr)
    out = []
    for d, t, _y in rows:
        sfx, keep = score_doc(t, model.weights, model.bias, n_features)
        out.append(
            f"(CAST({d} AS BIGINT), CAST({sfx} AS BIGINT), {str(keep).upper()})"
        )
    return _values_sql(out, "doc_id, score_fixed, keep")


def streaming_dedup_golden_sql(n_convs: int = 120, seed: int = 42) -> str:
    """Distinct normalized-text fingerprints of the streaming fixture —
    the sequential twin of ``streaming_exact_dedup`` (same md5-of-
    trim-lower key; the SET of survivors is arrival-order-invariant)."""
    from .fixtures import generate_transcripts

    fps = set()
    for row in generate_transcripts(n_convs=n_convs, seed=seed):
        t = row["text"]
        if t is None:
            continue
        fps.add(hashlib.md5(t.strip(" ").lower().encode("utf-8")).hexdigest())
    vals = [f"('{f}')" for f in sorted(fps)]
    return _values_sql(vals, "fp")


def curation_funnel_golden_sql(
    sf_dir: str | None = None,
    n_features: int = 512,
    iters: int = 4,
    lr: float = 0.5,
    n_buckets: int = 4096,
) -> str:
    """Sequential replay of the END-TO-END curation funnel
    (``plans/curation.py``): URL rules -> classifier gate -> exact dedup
    -> DSIR weighting, all via the same shared kernels, so the per-source
    funnel rows match the cluster's single DAG bit-for-bit."""
    import duckdb

    from .plans.curation import curation_funnel_sequential

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM "
        f"read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    rows = [
        {"doc_id": int(d), "text": t, "lang": lang, "source": src}
        for d, t, lang, src in recs
    ]

    def url_of(d: int) -> str:
        # python twin of queries._URL_SYNTH_SQL
        h = hashlib.md5(str(d).encode("utf-8")).hexdigest()[:8]
        if d % 23 == 0:
            host = f"93.184.216.{d % 200}"
        elif d % 11 == 0:
            host = "www.badsite.example"
        elif d % 7 == 0:
            host = "files.example." + ("click" if d % 2 == 0 else "org")
        else:
            host = f"site{d % 50}.example.org"
        url = f"https://{host}/{h}"
        if d % 13 == 0:
            url += ".jpg"
        elif d % 19 == 0:
            url += "-casino"
        if d % 17 == 0:
            url += "?a=1&b=2&c=3&d=4&e=5&f=6&g=7"
        return url

    funnel = curation_funnel_sequential(
        rows,
        url_of,
        {"badsite.example", "spamhub.example"},
        n_features=n_features,
        iters=iters,
        lr=lr,
        n_buckets=n_buckets,
    )
    vals = [
        f"('{s}', CAST({a} AS BIGINT), CAST({b} AS BIGINT), "
        f"CAST({c} AS BIGINT), CAST({d} AS BIGINT), CAST({e} AS BIGINT))"
        for s, a, b, c, d, e in funnel
    ]
    return _values_sql(
        vals, "source, n_input, n_url, n_quality, n_unique, weight_fixed_sum"
    )


def streaming_classifier_golden_sql(
    n_convs: int = 120,
    seed: int = 42,
    n_features: int = 512,
    iters: int = 4,
    lr: float = 0.5,
) -> str:
    """Sequential replay of train-offline / score-online: the classifier
    trained on the batch fixture (weak label role=='assistant'), every
    streamed turn scored with the shared kernel."""
    from .fixtures import generate_transcripts
    from .functions.classifier import score_doc, train_sequential

    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    labeled = [
        (i, r["text"], 1 if r["role"] == "assistant" else 0)
        for i, r in enumerate(rows)
    ]
    model = train_sequential(
        labeled, n_features=n_features, iters=iters, lr=lr
    )
    vals = []
    for r in rows:
        sfx, keep = score_doc(
            r["text"], model.weights, model.bias, n_features
        )
        vals.append(
            f"('{r['conv_id']}', CAST({r['turn_idx']} AS INTEGER), "
            f"CAST({sfx} AS BIGINT), {str(keep).upper()})"
        )
    return _values_sql(vals, "conv_id, turn_idx, score_fixed, keep")


def streaming_neardup_golden_sql(
    n_convs: int = 120,
    seed: int = 42,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 2,
    mh_seed: int = 42,
) -> str:
    """Sequential replay of the streaming MinHash near-dup dedup
    (streaming/quality_stream.py streaming_neardup_dedup): the signature
    is ``dedup.minhash_signature``, the kernel the Spark stage maps over
    each Arrow batch,
    buckets keyed on raw band-slice tuples (the Spark side hashes the
    slice with xxhash64 — same partition of the rows modulo 2^-64
    collisions), min-md5-key-wins per bucket, per-turn dup = OR over
    bands."""
    import hashlib

    from .fixtures import generate_transcripts
    from .operators.dedup import _perm_params, minhash_signature

    params = _perm_params(num_hashes, mh_seed)
    r = num_hashes // bands
    recs = []
    for row in generate_transcripts(n_convs, seed):
        key = hashlib.md5(
            f"{row['conv_id']}#{row['turn_idx']}".encode("utf-8")
        ).hexdigest()
        sig = minhash_signature(row["text"], k, params)
        recs.append((row["conv_id"], row["turn_idx"], key, sig))
    mins: dict = {}
    for _, _, key, sig in recs:
        for band in range(bands):
            bk = (band, tuple(int(x) for x in sig[band * r : (band + 1) * r]))
            if bk not in mins or key < mins[bk]:
                mins[bk] = key
    vals = []
    for conv_id, ti, key, sig in recs:
        dup = any(
            mins[(band, tuple(int(x) for x in sig[band * r : (band + 1) * r]))]
            < key
            for band in range(bands)
        )
        vals.append(
            f"('{conv_id}', CAST({ti} AS INTEGER), "
            f"{'TRUE' if dup else 'FALSE'})"
        )
    return _values_sql(vals, "conv_id, turn_idx, is_dup")


def _py_doc_spans(text: str, k: int = 8) -> list[str]:
    """Twin of operators.dedup.doc_spans chunking: split on single
    spaces (Java split keeps empties like str.split(' ')), consecutive
    non-overlapping k-token spans, short tail kept."""
    toks = text.split(" ")
    n_chunks = (len(toks) + k - 1) // k
    return [
        " ".join(toks[i * k : (i + 1) * k]) for i in range(max(n_chunks, 1))
    ]


def _py_bloom_positions(span: str, n_bits: int, n_hashes: int) -> list[int]:
    """Twin of operators.dedup.bloom_positions: modular double hashing
    over the bit-exact xxhash64 twin (Python % on a negative long IS
    Spark's pmod)."""
    from .hashing import spark_xxhash64_str

    h1 = spark_xxhash64_str(span) % n_bits
    h2 = spark_xxhash64_str(span + "\x01") % n_bits
    return [(h1 + i * h2) % n_bits for i in range(n_hashes)]


def bloom_dedup_golden_sql(
    sf_dir: "str | None" = None,
    k: int = 8,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
) -> str:
    """Sequential pure-Python replay of the Bloom-filter paragraph dedup
    (operators.dedup.bloom_paragraph_dedup): same seeded md5 corpus
    split, same chunking, same double-hashed bit positions — so the
    replayed bitmap (INCLUDING any false positive) is identical and the
    probabilistic structure verifies hash-exactly."""
    sf_dir = sf_dir or _oracle_sf_dir()
    docs = [(d, t) for d, t in _documents(sf_dir) if t is not None]

    def seen(doc_id: int) -> bool:
        return (
            int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 2
            == 0
        )

    bits: set[int] = set()
    for doc_id, text in docs:
        if seen(doc_id):
            for span in _py_doc_spans(text, k):
                bits.update(_py_bloom_positions(span, n_bits, n_hashes))
    rows = []
    for doc_id, text in docs:
        if seen(doc_id):
            continue
        spans = _py_doc_spans(text, k)
        dup = [
            all(p in bits for p in _py_bloom_positions(s, n_bits, n_hashes))
            for s in spans
        ]
        clean = " ".join(s for s, d in zip(spans, dup) if not d)
        md5 = hashlib.md5(clean.encode("utf-8")).hexdigest()
        rows.append(
            f"({doc_id}, {len(spans)}, {sum(dup)}, '{md5}')"
        )
    return _values_sql(
        rows, "doc_id, n_spans, n_dup_spans, clean_md5"
    )


def pii_provenance_golden_sql(n_convs: int = 200, seed: int = 42) -> str:
    """Sequential replay of the PII provenance profile: per (conv, PII
    kind) — the turn that introduced it, how many turns carry it, and
    whether an assistant turn repeats it after a user turn introduced it
    (the leak-propagation signal).  Kind flags come from the SAME
    sequential scrub kernel the Spark side stages
    (textcore.scrub_text)."""
    from .fixtures import generate_transcripts
    from .functions.textcore import scrub_text

    pii = ["pii_email", "pii_card", "pii_ssn", "pii_phone", "pii_ip"]
    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    convs: dict[str, list[dict]] = {}
    for r in rows:
        convs.setdefault(r["conv_id"], []).append(r)
    out = []
    for cid in sorted(convs):
        turns = sorted(
            convs[cid], key=lambda r: (r["turn_idx"], r["role"])
        )
        per_kind: dict[str, list[tuple[int, str]]] = {}
        for r in turns:
            _, hits = scrub_text(r["text"])
            for k in hits:
                if k in pii:
                    per_kind.setdefault(k, []).append(
                        (r["turn_idx"], r["role"])
                    )
        for k in sorted(per_kind):
            occ = per_kind[k]
            first_idx, first_role = min(occ)
            user_idxs = [i for i, ro in occ if ro == "user"]
            asst_idxs = [i for i, ro in occ if ro == "assistant"]
            echoed = bool(
                user_idxs and asst_idxs and max(asst_idxs) > min(user_idxs)
            )
            out.append(
                f"('{cid}', '{k}', {first_idx}, '{first_role}', "
                f"{len(occ)}, {str(echoed).upper()})"
            )
    return _values_sql(
        out,
        "conv_id, kind, first_turn_idx, first_role, n_turns, "
        "echoed_by_assistant",
    )


def template_turns_golden_sql(
    n_convs: int = 200, seed: int = 42, min_convs: int = 3
) -> str:
    """Sequential replay of canned-turn detection: a turn text appearing
    verbatim in >= min_convs distinct conversations is a template; each
    conversation reports its total and template turn counts."""
    from .fixtures import generate_transcripts

    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    by_text: dict[str, set[str]] = {}
    for r in rows:
        if r["text"] is not None:
            by_text.setdefault(r["text"], set()).add(r["conv_id"])
    templates = {t for t, cs in by_text.items() if len(cs) >= min_convs}
    tot: dict[str, int] = {}
    tmpl: dict[str, int] = {}
    for r in rows:
        tot[r["conv_id"]] = tot.get(r["conv_id"], 0) + 1
        if r["text"] in templates:
            tmpl[r["conv_id"]] = tmpl.get(r["conv_id"], 0) + 1
    vals = [
        f"('{cid}', {tot[cid]}, {tmpl.get(cid, 0)})" for cid in sorted(tot)
    ]
    return _values_sql(vals, "conv_id, n_turns, n_template_turns")


def diversity_sample_golden_sql(
    sf_dir: "str | None" = None,
    per_cluster: int = 2,
    rows_per_list: int = 64,
    iters: int = 5,
    seed: int = 42,
    sample_rows: int = 10_000,
) -> str:
    """Sequential replay of the cluster-coverage diversity sample: same
    derived cluster count, same seeded md5 training sample in id order,
    same numpy k-means + sq_dists/stable-argsort assignment, then the
    per-cluster (d2, id) ascending top-``per_cluster``."""
    import duckdb
    import numpy as np

    sf = sf_dir or _oracle_sf_dir()
    recs = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()
    ids = [r[0] for r in recs]
    vecs = {r[0]: [float(x) for x in r[1]] for r in recs}

    from .operators.sampling import fraction_threshold
    from .operators.similarity import (
        TRAIN_ROWS_PER_LIST,
        derive_n_lists,
        kmeans_fit,
        sq_dists,
    )

    n = len(ids)
    n_lists = derive_n_lists(n, rows_per_list)
    eff_sample = max(sample_rows, TRAIN_ROWS_PER_LIST * n_lists)
    thr = fraction_threshold(min(1.0, eff_sample / max(n, 1)))
    samp = sorted(
        vid
        for vid in ids
        if hashlib.md5(f"{seed}\x1f{vid}".encode()).hexdigest()[:8] < thr
    )
    x = np.array([vecs[i] for i in samp], dtype=np.float64)
    cent = kmeans_fit(x, min(n_lists, len(x)), iters=iters, seed=seed)
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    d2 = sq_dists(mat, cent)
    assign = np.argsort(d2, axis=1, kind="stable")[:, 0]
    clusters: dict[int, list[tuple[float, int]]] = {}
    for row, vid in enumerate(ids):
        c = int(assign[row])
        clusters.setdefault(c, []).append((float(d2[row, c]), vid))
    rows = []
    for c in sorted(clusters):
        members = sorted(clusters[c])
        for dd, vid in members[:per_cluster]:
            rows.append(
                f"(CAST({c} AS INTEGER), CAST({vid} AS BIGINT), "
                f"CAST('{_spark_round(dd, 6)!r}' AS DOUBLE), "
                f"CAST({len(members)} AS INTEGER))"
            )
    return _values_sql(rows, "cluster, vec_id, dist_sq, cluster_size")


def tokenizer_fertility_golden_sql(
    sf_dir: "str | None" = None,
    n_merges: int = 200,
    min_freq: int = 2,
    max_vocab_rows: "int | None" = 100_000,
) -> str:
    """Sequential replay of per-language tokenizer fertility: the same
    BPE train (shared kernels, same caps), then per lang: docs, token
    sum, UTF-8 byte sum, bytes/token."""
    from .functions.bpe import (
        cap_word_counts,
        split_words,
        tokenize_text,
        train_bpe,
    )

    import duckdb

    sf = sf_dir or _oracle_sf_dir()
    docs = duckdb.sql(
        f"SELECT doc_id, text, lang FROM "
        f"read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    counts: dict[str, int] = {}
    for _id, text, _lang in docs:
        for w in split_words(text):
            counts[w] = counts.get(w, 0) + 1
    counts = cap_word_counts(
        counts, min_freq=min_freq, max_vocab_rows=max_vocab_rows
    )
    ranks = {p: i for i, p in enumerate(train_bpe(counts, n_merges))}
    agg: dict[str, list[int]] = {}
    for _id, text, lang in docs:
        if text is None:
            continue
        toks = tokenize_text(text, ranks)
        a = agg.setdefault(lang, [0, 0, 0])
        a[0] += 1
        a[1] += len(toks)
        a[2] += len(text.encode("utf-8"))
    rows = []
    for lang in sorted(agg):
        n_docs, n_toks, n_bytes = agg[lang]
        bpt = _spark_round(n_bytes / n_toks, 6) if n_toks else None
        bpt_sql = f"CAST('{bpt!r}' AS DOUBLE)" if bpt is not None else "NULL"
        rows.append(
            f"('{lang}', CAST({n_docs} AS INTEGER), "
            f"CAST({n_toks} AS BIGINT), CAST({n_bytes} AS BIGINT), "
            f"{bpt_sql})"
        )
    return _values_sql(
        rows, "lang, n_docs, n_tokens, n_bytes, bytes_per_token"
    )


def rate_limited_sink_golden_sql(
    n_convs: int = 80, seed: int = 42, cap: int = 120, n_groups: int = 4
) -> str:
    """Sequential replay of the rate-limited sink: per group (= one
    micro-batch under maxFilesPerTrigger=1 over a group-partitioned
    source), admit the ``cap`` lowest (conv_id, turn_idx) rows, defer
    the rest.  sum_turn_written pins WHICH rows were admitted, not just
    how many."""
    from collections import defaultdict

    from .fixtures import generate_transcripts
    from .hashing import spark_xxhash64_str

    groups: dict[int, list[tuple[str, int]]] = defaultdict(list)
    for r in generate_transcripts(n_convs, seed):
        grp = spark_xxhash64_str(r["conv_id"]) % n_groups
        groups[grp].append((r["conv_id"], r["turn_idx"]))
    vals = []
    for grp in sorted(groups):
        rows = sorted(groups[grp])
        written = rows[:cap]
        vals.append(
            f"({grp}, CAST({len(written)} AS BIGINT), "
            f"CAST({len(rows) - len(written)} AS BIGINT), "
            f"CAST({sum(t for _, t in written)} AS BIGINT))"
        )
    return (
        "SELECT CAST(grp AS INTEGER) AS grp, n_written, n_deferred, "
        "sum_turn_written FROM (VALUES "
        + ", ".join(vals)
        + ") AS g(grp, n_written, n_deferred, sum_turn_written)"
    )
