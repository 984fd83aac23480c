"""Physical-plan shape assertions — the scale-design contract.

Correct results can still ship a catastrophic plan at 100 TB; these tests
pin the plan properties the engine is designed around:

* filters reach the parquet scan (PushedFilters) and columns are pruned;
* small dimension joins broadcast (no shuffle of the fact side);
* the flagship filter is shuffle-free (pure projection);
* the full pipeline has exactly ONE exchange (the conv_id window sort)
  and exactly ONE Arrow (pandas-UDF) stage (text features, langid and
  perplexity), and the map side of that exchange computes no text
  feature but the length.
"""

from __future__ import annotations

import re

import pytest

from data_caterer_spark.queries import QUERIES


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    # other modules cache test tables; a cached relation becomes
    # InMemoryTableScan and hides the FileScan details asserted here
    spark.catalog.clearCache()
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _scan_cols(plan: str) -> set[str]:
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    return {c.split("#")[0] for c in m.group(1).split(",") if c}


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l" in plan
    # column pruning: FileScan's output attribute list (ReadSchema is
    # truncated at spark.sql.maxMetadataStringLength in toString output)
    assert _scan_cols(plan) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
        "l_linestatus", "l_shipdate",
    }


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(QUERIES["q3_top_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # top-k must not be a global sort
    assert "TakeOrderedAndProject" in plan


def test_flagship_filter_is_shuffle_free(spark, sf_dir):
    plan = _plan(QUERIES["doc_quality_filter"](spark, sf_dir))
    assert "Exchange" not in plan, "flagship keep/drop+scrub must be a pure projection"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "flagship path is JVM-only"
    )


def test_pipeline_exchange_and_arrow_budget(spark):
    from data_caterer_spark.fixtures import generate_transcripts_df
    from data_caterer_spark.plans.pipeline import QualityFilterPipeline

    df = generate_transcripts_df(spark, n_convs=5)
    out = QualityFilterPipeline().run(df)
    plan = _plan(out)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"pipeline must shuffle exactly once (conv_id window), got {n_exchanges}\n{plan}"
    n_arrow = plan.count("ArrowEvalPython")
    assert n_arrow == 1, (
        f"exactly one Arrow stage (text features + langid + ppl), got {n_arrow}"
    )
    # no row-at-a-time Python anywhere
    assert "BatchEvalPython" not in plan
    # the map side of the exchange is the scan and one length: the token,
    # run and symbol features are computed in the Arrow stage
    map_side = plan.split("Exchange hashpartitioning", 1)[1]
    assert "length(text" in map_side, plan
    for token in ("split(", "array_distinct", "RLIKE", "translate("):
        assert token not in map_side, (token, plan)


def test_pipeline_runs_each_scrub_regex_once(spark):
    """``scrub_sql`` promises every bank regex runs at most once per row:
    each step must stay a column of its own, never be inlined into the
    steps and flags that read it.  The plan is rendered unelided (the
    default field limit hides the last scrub step)."""
    from data_caterer_spark.fixtures import generate_transcripts_df
    from data_caterer_spark.functions.textcore import SCRUB_BANK
    from data_caterer_spark.plans.pipeline import QualityFilterPipeline

    out = QualityFilterPipeline().run(generate_transcripts_df(spark, n_convs=5))
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "10000")
    try:
        plan = _plan(out)
    finally:
        spark.conf.unset(key) if old is None else spark.conf.set(key, old)
    assert "more fields" not in plan
    for rid, pattern, _ in SCRUB_BANK:
        assert plan.count(pattern) == 1, (rid, plan)


def test_scrub_documents_prunes_hit_flags(spark, sf_dir):
    # scrub_columns always defines scrub_hits; nothing selects it here
    plan = _plan(QUERIES["scrub_documents"](spark, sf_dir))
    assert "regexp_replace(" in plan
    assert "knownnotcontainsnull" not in plan and "pii_email" not in plan, plan


def test_upstream_join_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["upstream_join_validation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_partial_aggregation(spark, sf_dir):
    # map-side combine before the shuffle: two HashAggregates around one
    # exchange, and the shuffle carries the hash, not the text
    plan = _plan(QUERIES["exact_dup_groups"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert _scan_cols(plan) == {"doc_id", "text"}


def test_topk_no_global_sort(spark, sf_dir):
    plan = _plan(QUERIES["embedding_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_minhash_band_join_is_payload_slim(spark, sf_dir):
    """The banding self-join must carry (band, bh, id) only — signatures
    re-join after candidate dedup.  The signature UDF must be cached (one
    Arrow evaluation), never recomputed per branch."""
    import pyspark.sql.functions as F

    from data_caterer_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, threshold=0.5))
    # persisted signatures: every consuming branch reads the cache (the
    # Arrow UDF executes once to populate it, not once per branch; the
    # plan STRING still prints the cached relation's UDF subplan per
    # branch, so counting ArrowEvalPython text occurrences is meaningless)
    assert plan.count("InMemoryTableScan") >= 3
    # the band-join exchanges must not shuffle the 64-long signature
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        if "bh" in keys:
            assert "__sig" not in keys


def test_lsh_knn_bucket_join_is_payload_slim(spark, sf_dir):
    from data_caterer_spark.operators.similarity import lsh_knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    plan = _plan(lsh_knn_join(emb, dim, k=3))
    # both bucket-join sides read the persisted (id, buckets) projection
    assert plan.count("InMemoryTableScan") >= 2


def test_fk_assignment_has_no_window(spark):
    from data_caterer_spark.operators.generator import (
        FieldSpec,
        assign_foreign_key,
        generate,
    )

    src = spark.createDataFrame([(1,), (2,)], "k long")
    tgt = generate(
        spark, [FieldSpec("k", "long"), FieldSpec("v", "int", min=0, max=9)],
        100, num_partitions=4,
    )
    plan = _plan(assign_foreign_key(tgt, src, "k", "k"))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_new_dedup_ops_have_no_cross_joins(spark, sf_dir):
    """Semantic dedup and repeated-span removal must never materialize a
    cross join: every candidate path is an equi-join on a derived key
    (cluster id / span hash)."""
    from data_caterer_spark.operators.dedup import drop_repeated_spans
    from data_caterer_spark.operators.similarity import semantic_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    span_plan = _plan(drop_repeated_spans(docs, k=8, min_docs=2))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    sem_plan = _plan(semantic_dedup_pairs(emb, dim, eps=0.75))
    for plan in (span_plan, sem_plan):
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_capped_path_has_no_cross_joins(spark):
    """Both winnowing plans (direct and hot-fingerprint two-phase) must be
    pure equi-joins on the fingerprint / id keys."""
    from data_caterer_spark.operators.dedup import winnowing_overlap_pairs

    boiler = "shared boilerplate sentence with many many tokens inside it"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} tail{i}") for i in range(20)],
        "doc_id long, text string",
    )
    # max_block=1 forces the hot path (every boilerplate fp has df=20);
    # max_block=None is the direct plan
    for mb in (None, 1):
        plan = _plan(winnowing_overlap_pairs(docs, min_shared=1, max_block=mb))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_fk_assignment_large_keyset_not_broadcast(spark):
    """Above the key-count threshold the ordinal join must NOT carry a
    broadcast hint: millions of composite keys would OOM the driver; the
    distributed equi-join on the dense ordinal is the scale path
    (reference parity: ForeignKeyUtil.scala:242-252 zipWithIndex join)."""
    from data_caterer_spark.operators.generator import (
        FieldSpec,
        assign_foreign_key,
        generate,
    )

    src = spark.range(0, 50, 1, 4).selectExpr("id AS k")
    tgt = generate(
        spark, [FieldSpec("k", "long"), FieldSpec("v", "int", min=0, max=9)],
        100, num_partitions=4,
    )
    # isolate OUR hint from Spark's size-based auto-broadcast (which is
    # free to fire on genuinely small key sets — that's AQE's call, and at
    # a million keys the size estimate disqualifies it on its own)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = assign_foreign_key(tgt, src, "k", "k", broadcast_max_keys=10)
        plan = _plan(out)
        assert "Window" not in plan
        assert "BroadcastHashJoin" not in plan
        # FK semantics intact: every assigned key comes from the source set
        n_bad = out.where("k < 0 OR k >= 50 OR k IS NULL").count()
        assert n_bad == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_preference_pairs_aggregate_not_window(spark, sf_dir):
    """DPO pair mining must stay a partial-combinable aggregate: a hot
    (conversation, action) group is two rows of task state, never a
    buffered-and-sorted partition."""
    from data_caterer_spark.queries import QUERIES

    df = QUERIES["preference_pair_mining"](spark, sf_dir)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "max_by" in plan or "HashAggregate" in plan, plan
    # margin threshold actually enforced
    assert df.where("margin < 5.0").count() == 0


def test_aqe_splits_planted_skewed_join(spark):
    """Spill/straggler evidence for the 100 TB story: a deliberately
    skewed sort-merge join (one key carrying ~90% of rows) must trigger
    AQE's skew-join split — the FINAL adaptive plan shows
    ``SortMergeJoin(skew=true)`` reading from an ``AQEShuffleRead
    skewed`` node — while results stay exact.  Thresholds are lowered so
    the sandbox-sized input exhibits the 100x-scale condition; at
    defaults the same plan handles a 256 MB+ hot partition."""
    import pyspark.sql.functions as F

    keys = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {}
    for k, v in keys.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 60000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(0, 97).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        out = left.join(right, "k").select(
            "k", F.length("payload").alias("lp"), "v"
        )
        # the action must run OUT's own queryExecution (a count() plans a
        # separate execution and the adaptive plan would stay non-final)
        rows = out.collect()
        plan = _plan(out)
        assert "isFinalPlan=true" in plan, plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
        # exactness under the split: inner join covers every row
        assert len(rows) == 60000
        hot = sum(1 for r in rows if r.k == 0)
        expected_hot = sum(
            1 for i in range(60000) if i % 10 < 9 or i % 97 == 0
        )
        assert hot == expected_hot
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_edit_distance_blocking_is_equi_join(spark, sf_dir):
    """The length-bucket blocker must plan as a hash equi-join — the
    naive |len(a)-len(b)| <= d predicate alone would go nested-loop."""
    from data_caterer_spark.operators.dedup import (
        edit_distance_neardup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(
        edit_distance_neardup_pairs(docs, max_distance=10, prefix_chars=60)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pivot_explicit_domain_single_aggregate(spark, sf_dir):
    """The explicit-domain pivot query compiles to conditional
    aggregation: ONE aggregate pair, ONE exchange — neither the extra
    distinct-values scan of an unlisted pivot nor the two-exchange
    (key,pivot)-pre-agg + PivotFirst plan that native .pivot(col,
    values) produces even with the domain declared."""
    from data_caterer_spark.queries import pivot_lang_by_source

    out = pivot_lang_by_source(spark, sf_dir)
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    # partial + final hash aggregate pair = map-side combine intact
    assert plan.count("HashAggregate") == 2, plan
    assert "PivotFirst" not in plan and "pivotfirst" not in plan, plan


def test_rollup_single_pass(spark, sf_dir):
    """ROLLUP expands grouping sets map-side: one exchange, one
    aggregate pair — not one scan per level."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.rollup("source", "lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s")
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    assert "Expand" in plan, plan
    assert plan.lower().count("filescan parquet") == 1, plan


def test_cube_single_pass(spark, sf_dir):
    """CUBE is the same single-exchange Expand plan as ROLLUP — all four
    grouping sets expand map-side off one scan."""
    from data_caterer_spark.queries import cube_source_lang_matrix

    plan = _plan(cube_source_lang_matrix(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Expand" in plan, plan
    assert plan.lower().count("filescan parquet") == 1, plan


def test_stratified_sample_salted_two_phase(spark, sf_dir):
    """The exact stratified sample runs the salted two-phase top-k: a
    salt-bucketed phase-1 window prunes before the per-stratum final
    window, and nothing sorts the corpus globally."""
    from data_caterer_spark.queries import stratified_sample_exact

    plan = _plan(stratified_sample_exact(spark, sf_dir))
    # phase-1 (source, salt) exchange + phase-2 (source) exchange
    assert plan.count("Exchange") == 2, plan
    assert plan.count("+- Window ") == 2, plan
    # Spark 4 pushes the row_number limit map-side (Partial) AND
    # reduce-side (Final) around BOTH exchanges — each shuffle carries
    # at most k rows per (stratum[, salt]) group, not the corpus
    if int(spark.version.split(".")[0]) >= 4:
        assert plan.count("WindowGroupLimit") == 4, plan
    # both sorts are partition-local (no global Sort / range exchange)
    assert "rangepartitioning" not in plan.lower(), plan
