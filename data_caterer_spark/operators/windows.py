"""Conversation ordering, window features, and skew-safe aggregation.

The reference has no window functions (SURVEY.md §2.5); the target needs
them for stable turn order and cross-turn rules.  Scale rules encoded here:

* ``lag``/``lead``/``row_number`` over ``(conv_id, turn_idx)`` use a
  STREAMING window frame — Spark evaluates them without buffering the whole
  partition, so even a 10^6-turn hot conversation is a sort, not an OOM.
* Per-conversation AGGREGATES never use ``count().over(partitionBy)``
  (that would re-shuffle and buffer); they use a two-stage SALTED
  aggregation (``salted_conversation_stats``) — partial agg on
  ``(conv_id, salt)`` spreads a hot key over N reducers, final agg on
  ``conv_id`` touches only one row per (conv, salt).  This is the target's
  analog of the reference's skew-avoiding ordinal join
  (``ForeignKeyUtil.scala:242-252``, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rules import with_sql_columns

DEFAULT_SALT_BUCKETS = 16


_BY_TURN = "OVER (PARTITION BY conv_id ORDER BY turn_idx)"
#: Streaming-frame window features as one select-list: prev role, turn
#: contiguity, ts order.  One shuffle on conv_id (all four share one
#: window spec); lag and row_number evaluate streamingly after the sort,
#: so hot conversations cost sort time, not memory.
TURN_ORDER_SQL = (
    f"lag(role) {_BY_TURN} AS prev_role",
    f"lag(turn_idx) {_BY_TURN} AS prev_turn_idx",
    f"lag(ts) {_BY_TURN} AS prev_ts",
    f"row_number() {_BY_TURN} AS turn_rank",
)


def with_turn_order_features(df: DataFrame) -> DataFrame:
    """Add the window features of ``TURN_ORDER_SQL`` in one projection."""
    return with_sql_columns(df, TURN_ORDER_SQL)


def salted_conversation_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Two-stage (salted) per-conversation aggregate.

    Stage 1 groups on ``(conv_id, salt)`` where salt is derived from the
    row's own turn_idx (deterministic, no rand()): a hot conversation's
    partial aggregation spreads across ``salt_buckets`` reducers.  Stage 2
    merges partials per conversation — at most ``salt_buckets`` rows per
    key, never skewed.  Returns one row per conv_id.

    Default stats: conv_len (turn count), conv_min_idx, conv_max_idx.
    Extra ``aggs`` must be decomposable (sum/count/min/max) — they are
    applied in stage 1 and merged with the matching combiner in stage 2.
    """
    salt = F.pmod(F.col("turn_idx"), F.lit(salt_buckets)) if "turn_idx" in df.columns \
        else F.pmod(F.abs(F.xxhash64(F.monotonically_increasing_id())), F.lit(salt_buckets))
    partial = df.groupBy(F.col(conv_col), salt.alias("__salt")).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min("turn_idx").alias("__min_idx"),
        F.max("turn_idx").alias("__max_idx"),
    )
    return partial.groupBy(conv_col).agg(
        F.sum("__cnt").alias("conv_len"),
        F.min("__min_idx").alias("conv_min_idx"),
        F.max("__max_idx").alias("conv_max_idx"),
    )


def budget_prefix(
    df: DataFrame,
    group_col: str,
    order_col: str,
    cost_col,
    budget: int,
    cum_col: str = "cum_cost",
) -> DataFrame:
    """Keep each group's longest ORDERED prefix whose cumulative cost fits
    a budget — context-window truncation for training prep (drop a
    conversation's tail turns once the token budget is exhausted; pack a
    shard's documents until the context fills).

    Pure Catalyst: one running-sum window (streaming frame — sort, no
    buffering) + a filter, so it scales exactly like the ordering window
    the pipeline already pays for.  ``cost_col`` may be a column name or a
    Column expression (e.g. a token count)."""
    cost = F.col(cost_col) if isinstance(cost_col, str) else cost_col
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(cum_col, F.sum(cost).over(w)).where(
        F.col(cum_col) <= budget
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_s: int = 1800,
    out_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the key's previous event exceeds ``gap_s``.

    Two stacked windows over the SAME (key, ts) ordering — lag to flag
    session starts, running sum to number them — so Catalyst plans ONE
    sort/exchange for both (the second window reuses the first's
    partitioning and order).  The standard sessionize shape at any scale;
    skewed keys inherit the engine's salting answer if a single key's
    events exceed a partition."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    # microsecond integers on both sides of the oracle comparison: Spark
    # unix_micros == DuckDB epoch_us, no float truncation at the gap edge
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_start = F.when(gap.isNull() | (gap > gap_s * 1_000_000), 1).otherwise(0)
    run = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("__start", is_start).withColumn(
        out_col, F.sum("__start").over(run)
    ).drop("__start")


def concat_pack(
    df: DataFrame,
    budget: int,
    size_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    bin_col: str = "bin",
    offset_col: str = "bin_offset",
) -> DataFrame:
    """Assign documents to fixed-size context windows — the GPT-style
    concat-and-chunk pretraining step: order the corpus in a deterministic
    pseudo-random stream (md5 of the id — decorrelates length runs from
    storage order), take the running token sum, and a document's bin is
    ``floor(cum_before / budget)`` with ``cum_before % budget`` as its
    offset in the window.

    NO GLOBAL WINDOW: the running sum is distributed the same way as the
    ordinal trick in ``generator.with_distributed_ordinal`` — range-
    partition by the hash, pin the partition id as a COLUMN, ONE tiny job
    collects per-partition size sums (num-partitions rows to the driver),
    and the global cumulative sum is ``partition_offset + within-
    partition running sum`` via a window keyed on the pinned id (so every
    window group is one former range partition — balanced by
    construction, never a single-partition funnel).  Deterministic on any
    cluster size: the stream order is (hash, id), a pure function of the
    data.
    """
    h = F.md5(
        F.concat_ws(
            "\x1f", F.lit(str(seed)), F.col(id_col).cast("string")
        )
    )
    d = df.withColumn("__h", h).repartitionByRange(F.col("__h"), F.col(id_col))
    # pin the range-partition id BEFORE anything downstream re-shuffles:
    # the window exchange re-clusters rows, and a re-evaluated
    # spark_partition_id() would index the offset array wrongly
    d = d.withColumn("__pid", F.spark_partition_id()).persist()
    # one tiny job: per-partition total sizes -> prefix offsets
    part_sums = (
        d.groupBy("__pid").agg(F.sum(size_col).alias("__sum")).collect()
    )
    by_pid = {r["__pid"]: r["__sum"] for r in part_sums}
    max_pid = max(by_pid, default=-1)
    offsets, acc = [], 0
    for pid in range(max_pid + 1):
        offsets.append(acc)
        acc += by_pid.get(pid, 0)
    offset_arr = (
        F.array(*[F.lit(int(o)).cast("long") for o in offsets])
        if offsets
        else F.array()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_incl = F.sum(F.col(size_col)).over(w)
    cum_before = (
        F.element_at(offset_arr, F.col("__pid") + 1)
        + cum_incl
        - F.col(size_col)
    )
    # EXACT integer division (SQL `div`), not floor(a/b): long/long
    # division in Spark SQL goes through double, whose 53-bit mantissa
    # rounds once the cumulative size passes 2^53 — off-by-one bins that
    # disagree with the exact long modulo beside them (and with the
    # oracle's integer //) at the 10^12-turn scale this targets.
    return (
        d.withColumn("__cumb", cum_before.cast("long"))
        .withColumn(bin_col, F.expr(f"__cumb div {int(budget)}"))
        .withColumn(offset_col, F.col("__cumb") % F.lit(budget))
        .drop("__h", "__pid", "__cumb")
    )


def sliding_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Overlapping token-window chunking of long documents — the
    long-context preprocessing step (embedding indexing, SFT sample
    construction) that concat packing (:func:`concat_pack`) deliberately
    does NOT do: here each document yields ceil((n - window)/stride) + 1
    windows of ``window`` tokens every ``stride`` tokens, so consecutive
    chunks overlap by ``window - stride`` tokens and no boundary context
    is lost.

    Pure Catalyst, embarrassingly parallel: tokenize (the shared
    ``words_column`` normalization) -> integer chunk-count arithmetic
    (SQL ``div`` — exact at any length) -> ``explode(sequence(...))`` ->
    ``slice``.  No shuffle at all; the explode happens in the scan
    stage.  Documents with no tokens yield no chunks.

    Returns (id, chunk_idx, n_tokens, chunk_text).
    """
    from ..functions.bpe import words_column

    if window <= 0 or stride <= 0 or stride > window:
        raise ValueError("need 0 < stride <= window")
    d = (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn("__w", words_column(text_col))
        .withColumn("__n", F.size("__w"))
        .where(F.col("__n") > 0)
        .withColumn(
            "__k",
            F.when(F.col("__n") <= window, F.lit(1)).otherwise(
                F.expr(f"((__n - {window} + {stride} - 1) div {stride}) + 1")
            ),
        )
    )
    return (
        d.select(
            id_col,
            "__w",
            F.explode(F.sequence(F.lit(0), F.col("__k") - 1)).alias(
                "chunk_idx"
            ),
        )
        .withColumn(
            "__chunk",
            F.slice(F.col("__w"), F.col("chunk_idx") * stride + 1, window),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size("__chunk").alias("n_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def role_transition_counts(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Corpus-wide dialogue-structure profile: counts of (previous role ->
    role) transitions, conversation starts entering from 'START'.  One
    conv-keyed window (the same exchange every per-conversation op
    shares) then a combinable groupBy — the aggregate that surfaces
    malformed agent traces (assistant->assistant runs, tool turns with
    no assistant call) at corpus scale."""
    w = Window.partitionBy(conv_col).orderBy(order_col)
    prev = F.coalesce(F.lag(role_col).over(w), F.lit("START"))
    return (
        df.select(prev.alias("role_from"), F.col(role_col).alias("role_to"))
        .groupBy("role_from", "role_to")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tool_call_integrity_flags(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: "list[str] | None" = None,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-turn tool-call integrity flags — the cross-turn half of the
    north-star "role/tool consistency" heuristic (the stateless half
    lives in the pipeline rule bank).  Three protocol rules over the
    ordered conversation:

    * ``tool_missing_name``  — a ``tool`` turn with no tool name;
    * ``tool_on_wrong_role`` — a non-tool turn carrying a tool name;
    * ``tool_no_request``    — a ``tool`` turn whose PREVIOUS turn is
      not an ``assistant`` turn (tool results must answer a call).

    One conversation-keyed window — the same single exchange every
    per-conversation operator in the pipeline shares, so at 10^12 turns
    the integrity pass rides an exchange that already exists."""
    order_cols = order_cols or ["turn_idx"]
    w = Window.partitionBy(conv_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    # NULL roles (malformed turns) count as non-tool on every rule:
    # three-valued logic would otherwise propagate NULL flags into the
    # violation counts
    is_tool = F.coalesce(F.col(role_col) == "tool", F.lit(False))
    prev_role = F.lag(role_col).over(w)
    return (
        df.withColumn(
            "tool_missing_name", is_tool & F.col(tool_col).isNull()
        )
        .withColumn(
            "tool_on_wrong_role",
            ~is_tool & F.col(tool_col).isNotNull(),
        )
        .withColumn(
            "tool_no_request",
            is_tool
            & ~(prev_role.isNotNull() & (prev_role == "assistant")),
        )
    )
