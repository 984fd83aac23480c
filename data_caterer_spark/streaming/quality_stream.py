"""Structured-Streaming quality filter.

The reference's streaming surface is vestigial (a ``rate`` format constant,
no watermarks/state — SURVEY.md §2.9), so this module is new-build: the
same rule/scrub/model kernels applied to a stream of transcript turns.

Three layers, by state requirement:

* :func:`streaming_quality_filter` — the STATELESS stages (text features,
  langid, perplexity, per-turn rules, scrub).  Works on any streaming
  DataFrame with the transcript schema; appendable sink, no watermark
  needed.  Cross-turn rules (role alternation, contiguity) are skipped —
  they need ordering state.
* :func:`windowed_conversation_metrics` — per-conversation tumbling-window
  aggregates with a watermark for late turns (drop-rate and rule-hit
  monitoring over event time).
* :func:`stateful_turn_order` — ``applyInPandasWithState`` keyed by
  conv_id: maintains (last_turn_idx, last_role, last_ts) per conversation
  so the cross-turn rules run exactly as in batch for in-order delivery.

Scale notes: state is O(#live conversations) x ~3 scalars; the state store
shuffles by conv_id, so the hot-conversation skew answer is the same as
batch (AQE cannot help in streaming — keep conv_id cardinality high, or
pre-bucket the source by conv_id so the exchange is avoided entirely).
"""

from __future__ import annotations

from typing import Any, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.rules import RuleSet, with_sql_columns
from ..plans.pipeline import (
    CROSS_TURN_RULE_IDS,
    N_CHARS_SQL,
    QualityFilterConfig,
    QualityFilterPipeline,
)


def _stateless_rules(pipe: QualityFilterPipeline) -> RuleSet:
    """The per-turn subset of the heuristic bank (no prev_* references)."""
    return RuleSet(
        [r for r in pipe.heuristic_rules() if r.rule_id not in CROSS_TURN_RULE_IDS]
    )


def streaming_quality_filter(
    stream: DataFrame, config: QualityFilterConfig | None = None
) -> DataFrame:
    """Stateless keep/drop + scrub over a stream of turns.

    Identical kernels to the batch plan (same broadcast models, same scrub
    bank) so a turn gets the same verdict whether it arrives in a batch
    backfill or on the stream — minus the cross-turn flag rules, which
    need ordering state (see :func:`stateful_turn_order`).
    """
    pipe = QualityFilterPipeline(config)
    df = pipe.with_scores(with_sql_columns(stream, [N_CHARS_SQL]))
    return pipe.with_labels(df, _stateless_rules(pipe))


def windowed_conversation_metrics(
    stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    config: QualityFilterConfig | None = None,
) -> DataFrame:
    """Tumbling-window drop-rate monitoring with late-data handling.

    Aggregates the filtered stream per event-time window: turns seen, kept,
    and per-rule hit counts — the streaming analog of the batch lineage
    sidecar rows (sources/manifest.py).
    """
    labeled = streaming_quality_filter(stream, config)
    return (
        labeled.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.count_if(F.col("keep")).alias("kept"),
            F.count_if(F.size("rule_hits") > 0).alias("flagged"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "turns",
            "kept",
            "flagged",
        )
    )


_STATE_SCHEMA = "last_turn_idx int, last_role string, last_ts double"
_ORDER_OUT_SCHEMA = (
    "conv_id string, turn_idx int, role string, "
    "role_alternation_ok boolean, turn_contiguous boolean, ts_monotone boolean"
)


def _order_fn(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-conversation ordering state: replays the batch cross-turn rules
    over whatever arrived this microbatch (sorted by turn_idx)."""
    if state.exists:
        last_idx, last_role, last_ts = state.get
    else:
        last_idx, last_role, last_ts = None, None, None
    out: list[dict[str, Any]] = []
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        for row in pdf.itertuples(index=False):
            # pd.notna: a NULL ts arrives as pandas NaT, which is not
            # None and whose .timestamp() raises — one bad turn must
            # not kill the whole streaming query
            ts_val = row.ts.timestamp() if pd.notna(row.ts) else None
            alternation_ok = not (
                row.role == last_role and row.role in ("user", "assistant")
            )
            contiguous = (
                (last_idx is None and row.turn_idx == 0)
                or (last_idx is not None and row.turn_idx == last_idx + 1)
            )
            monotone = (
                last_ts is None or ts_val is None or ts_val >= last_ts
            )
            out.append(
                {
                    "conv_id": key[0],
                    "turn_idx": row.turn_idx,
                    "role": row.role,
                    "role_alternation_ok": alternation_ok,
                    "turn_contiguous": contiguous,
                    "ts_monotone": monotone,
                }
            )
            # the previous turn's ts, NULL included: the batch rule
            # compares against lag(ts), not the last non-NULL ts
            last_idx, last_role, last_ts = row.turn_idx, row.role, ts_val
    state.update((last_idx, last_role, last_ts))
    yield pd.DataFrame(out, columns=[
        "conv_id", "turn_idx", "role",
        "role_alternation_ok", "turn_contiguous", "ts_monotone",
    ])


def stateful_turn_order(stream: DataFrame) -> DataFrame:
    """Cross-turn rule evaluation on a stream via per-conversation state.

    ``applyInPandasWithState`` keyed on conv_id; state = the last seen
    (turn_idx, role, ts).  This is the streaming replacement for the batch
    ``Window.partitionBy(conv_id).orderBy(turn_idx)`` lag features.
    """
    return (
        stream.select("conv_id", "turn_idx", "role", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _order_fn,
            outputStructType=_ORDER_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized text
    passes, replays are dropped — the streaming twin of the batch
    fingerprint-groupBy path (``operators/dedup.py``).

    State discipline: plain ``dropDuplicates(["fp"])`` NEVER evicts —
    watermark cleanup only applies when the event-time column is part of
    the dedup key, so the fingerprint set would grow with the stream's
    whole history.  ``dropDuplicatesWithinWatermark`` is the bounded
    shape: one state row per fingerprint seen within the watermark
    horizon, evicted as the watermark passes it (duplicates separated by
    MORE than the horizon re-emit — within-horizon exact dedup, the only
    semantics with bounded state on an unbounded 10^12-turn stream;
    whole-history exact dedup is the batch path's job).  Under a
    single-batch availableNow replay the watermark never advances
    mid-run, so the output equals global dedup and the sequential
    oracle is exact.  The key is md5 of the
    space-trimmed lowercased text — replayable byte-for-byte by the
    sequential oracle (batch exact dedup uses xxhash64 for shuffle
    economy; a stream key must be replayable, and md5 is).

    Emits just the fingerprint (deterministic under any arrival order;
    the winning duplicate's other columns are race-dependent and are
    deliberately not exposed)."""
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        stream.where(F.col(text_col).isNotNull())
        .withColumn("fp", fp)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )


def streaming_classifier_scores(stream: DataFrame, model) -> DataFrame:
    """Serve a batch-trained quality classifier on a live stream — the
    train-offline / score-online deployment every quality gate runs in
    production.  One Arrow crossing of the text per micro-batch, per-turn
    keys preserved; the scoring stage is the batch ``infer``'s
    (``classifier.score_keyed``), so streamed scores are bit-identical
    to batch and to the sequential replay."""
    from ..functions.classifier import score_keyed

    src = stream.select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "text"
    )
    return score_keyed(src, model, ["conv_id", "turn_idx"], "text")


# ---------------------------------------------------------------------------
# streaming NEAR-dup dedup (MinHash-LSH buckets with keyed state)
# ---------------------------------------------------------------------------

_NEARDUP_OUT = (
    "conv_id string, turn_idx int, key string, dup boolean"
)
_NEARDUP_STATE = "min_key string"


def _neardup_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    horizon_ms: Optional[int] = None,
) -> Iterator[pd.DataFrame]:
    """Per-(band, bucket) state: the smallest row key ever seen.  A row is
    a dup-from-this-band when a strictly smaller key already claimed the
    bucket (in this batch or any earlier one) — min-key-wins is arrival-
    order-invariant, so the stream replays byte-identically.

    With ``horizon_ms`` set (event-time timeout mode) the bucket's state
    carries an expiry: after the watermark passes ``last event in the
    bucket + horizon_ms`` and the bucket receives no further data, Spark
    invokes this function with ``hasTimedOut`` and the state is dropped —
    total state is bounded by the buckets touched inside one watermark
    horizon instead of growing forever."""
    if state.hasTimedOut:
        state.remove()
        return
    prev = state.get[0] if state.exists else None
    frames = [p for p in pdf_iter if len(p)]
    if not frames:
        return
    df = pd.concat(frames) if len(frames) > 1 else frames[0]
    m = df["key"].min()
    eff = m if prev is None or m < prev else prev
    state.update((eff,))
    if horizon_ms is not None:
        # timeout = last event seen in this bucket + horizon, clamped
        # strictly above the current watermark (Spark rejects timestamps
        # at-or-below it).  pandas Timestamp .value is ns since epoch.
        mx_ms = int(df["__ets"].max().value // 1_000_000)
        state.setTimeoutTimestamp(
            max(mx_ms + horizon_ms, state.getCurrentWatermarkMs() + 1)
        )
    out = df[["conv_id", "turn_idx", "key"]].copy()
    out["dup"] = df["key"] > eff
    yield out


def streaming_neardup_dedup(
    stream: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 2,
    seed: int = 42,
    ts_col: Optional[str] = None,
    state_horizon_ms: int = 600_000,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection: the streaming twin of the
    batch banded-MinHash path (``operators/dedup.py minhash_lsh_pairs``).

    Per turn: the shared signature kernel (one Arrow crossing, identical
    bytes to batch), banded into ``bands`` bucket keys; each (band,
    bucket) is a keyed-state group whose state is ONE string — the
    smallest row key that ever claimed the bucket.  A turn is a near-dup
    when ANY of its buckets was claimed by a strictly smaller key
    (min-md5-wins: the FINAL bucket state is deterministic under any
    arrival order, replayable by a sequential oracle).  Emits
    per-(turn, band) rows; the consumer ORs them per turn — Spark
    allows only one stateful operator per query, so the tiny
    OR-aggregate runs batch-side on the sink table.

    Honesty note on the emitted flags: when data spans several
    micro-batches, a turn that arrives BEFORE the bucket's eventual
    minimum key is emitted non-dup (nothing smaller had claimed the
    bucket yet) — emitted labels are arrival-order-dependent across
    batches even though the state converges.  Single-batch availableNow
    replays (the driver check) are deterministic; a production run
    wanting converged labels re-derives them batch-side from the final
    bucket state, exactly like the batch path.

    Scale shape: state is one 32-char string per OCCUPIED bucket — the
    same cardinality the batch band-join shuffles — and the exchange keys
    on (band, bucket), so hot-text skew spreads across ``bands`` groups.

    State eviction: pass ``ts_col`` to bound state for an unbounded
    stream.  A watermark (``watermark_delay``) is set on the event-time
    column and every bucket arms a ``GroupStateTimeout.EventTimeTimeout``
    at ``last event in the bucket + state_horizon_ms``: once the
    watermark passes it and the bucket stays silent, Spark calls the
    state function with ``hasTimedOut`` and the bucket is dropped —
    mirroring ``streaming_exact_dedup``'s recent-window semantics
    (``dropDuplicatesWithinWatermark``), so total state is bounded by the
    distinct buckets inside one horizon.  A single-batch availableNow
    replay fires no timeouts, so the default driver/oracle path
    (``ts_col=None``) and the timeout path emit identical labels on
    bounded fixtures.
    """
    from ..operators.dedup import with_minhash_signature

    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide into bands evenly")
    r = num_hashes // bands
    ts_cols = []
    if ts_col is not None:
        ts_cols = [F.col(ts_col).cast("timestamp").alias("__ets")]
    src = stream.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.md5(
            F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string"))
        ).alias("key"),
        F.col(text_col),
        *ts_cols,
    )
    sig = with_minhash_signature(
        src, text_col=text_col, out_col="__sig",
        num_hashes=num_hashes, k=k, seed=seed,
    )
    banded = sig.select(
        "conv_id",
        "turn_idx",
        "key",
        *(["__ets"] if ts_col is not None else []),
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
    ).select(
        "conv_id", "turn_idx", "key",
        *(["__ets"] if ts_col is not None else []),
        F.col("__b.band").alias("band"), F.col("__b.bh").alias("bh"),
    )
    if ts_col is None:
        return banded.groupBy("band", "bh").applyInPandasWithState(
            _neardup_fn,
            outputStructType=_NEARDUP_OUT,
            stateStructType=_NEARDUP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    horizon = int(state_horizon_ms)

    def fn(key, pdf_iter, state):
        yield from _neardup_fn(key, pdf_iter, state, horizon_ms=horizon)

    return (
        banded.withWatermark("__ets", watermark_delay)
        .groupBy("band", "bh")
        .applyInPandasWithState(
            fn,
            outputStructType=_NEARDUP_OUT,
            stateStructType=_NEARDUP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def rate_limited_sink(
    stream: DataFrame,
    out_dir: str,
    cap: int,
    key_cols: "tuple[str, ...]" = ("conv_id", "turn_idx"),
    checkpoint: "str | None" = None,
):
    """Token-cap ``foreachBatch`` sink: each micro-batch commits at most
    ``cap`` rows — the lowest-``key_cols`` rows, a total order so the
    admitted set is deterministic — to ``out_dir/written``; the overflow
    goes to ``out_dir/deferred`` (explicit backpressure: the deferred
    spill is durable, auditable, and re-ingestable, instead of the
    invisible lag a slow sink otherwise accumulates).

    Rate limiting in Structured Streaming is natively source-side
    (``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``); this is the
    SINK-side half a quota-bound downstream (an API, a rate-limited
    warehouse load) needs.  Both writes ride the same micro-batch
    transaction scope: per-batch ordering + anti-join on the admit keys,
    so written ∪ deferred == batch and written ∩ deferred == ∅.
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    keys = list(key_cols)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        admitted = batch_df.orderBy(*keys).limit(cap).persist()
        admitted.write.mode("append").parquet(f"{out_dir}/written")
        batch_df.join(
            admitted.select(*keys), keys, "left_anti"
        ).write.mode("append").parquet(f"{out_dir}/deferred")
        admitted.unpersist()
        batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
