"""Checkpoint/resume + lineage sidecar tests (north_rule requirement)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_caterer_spark.fixtures import generate_transcripts_df
from data_caterer_spark.plans.pipeline import QualityFilterPipeline
from data_caterer_spark.sources.manifest import ManifestSidecar, ResumableRunner
from data_caterer_spark.sources.io import read_source, write_sink


@pytest.fixture()
def transcripts(spark):
    return generate_transcripts_df(spark, n_convs=80).localCheckpoint()


RULE_IDS = QualityFilterPipeline().rule_ids()


def _pipeline_fn(df):
    out = QualityFilterPipeline().run(df)
    return out.select("conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text")


def test_resume_after_crash(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    runner = ResumableRunner(
        spark, out_dir, man_dir, n_groups=4, rule_ids=RULE_IDS
    )

    with pytest.raises(RuntimeError, match="injected failure on group 2"):
        runner.run(transcripts, _pipeline_fn, fail_on_group=2)
    done_first = ManifestSidecar(spark, man_dir).completed_groups()
    assert done_first == {0, 1}

    # resume: only the remaining groups run
    processed = runner.run(transcripts, _pipeline_fn)
    assert processed == [2, 3]

    # output complete and exact: same rows as a straight single-shot run
    got = runner.output().drop("group")
    straight = _pipeline_fn(transcripts)
    assert got.count() == transcripts.count() == straight.count()
    key = ["conv_id", "turn_idx"]
    joined = got.alias("a").join(straight.alias("b"), key)
    agree = joined.where(
        (F.col("a.keep") == F.col("b.keep"))
        & (F.col("a.scrubbed_text").eqNullSafe(F.col("b.scrubbed_text")))
    ).count()
    assert agree == straight.count()


def test_rerun_is_noop(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    runner = ResumableRunner(
        spark, out_dir, man_dir, n_groups=3, rule_ids=RULE_IDS
    )
    assert len(runner.run(transcripts, _pipeline_fn)) == 3
    assert runner.run(transcripts, _pipeline_fn) == []
    # manifest has exactly one record per group
    man = ManifestSidecar(spark, man_dir).read()
    assert man.count() == 3


def test_resume_is_scope_aware(spark, transcripts, tmp_path):
    """A config/plan change (new scope) must re-run every group — stale
    manifest rows from another scope never satisfy the resume check."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    r1 = ResumableRunner(
        spark, out_dir, man_dir, n_groups=2, scope="cfg-v1", rule_ids=RULE_IDS
    )
    assert len(r1.run(transcripts, _pipeline_fn)) == 2
    # same scope: noop
    assert r1.run(transcripts, _pipeline_fn) == []
    # new scope: all groups pending again
    r2 = ResumableRunner(
        spark, out_dir, man_dir, n_groups=2, scope="cfg-v2", rule_ids=RULE_IDS
    )
    assert r2.pending_groups() == [0, 1]
    assert len(r2.run(transcripts, _pipeline_fn)) == 2
    man = ManifestSidecar(spark, man_dir)
    assert man.completed_groups("cfg-v1") == {0, 1}
    assert man.completed_groups("cfg-v2") == {0, 1}
    # finished_at is a real timestamp (schema aligned with the Iceberg DDL)
    import datetime

    assert isinstance(
        man.read().collect()[0]["finished_at"], datetime.datetime
    )


def test_manifest_append_roundtrips_schema(spark, tmp_path):
    """One appended row reads back with the exact ``MANIFEST_SCHEMA``
    types, as written to the parquet files, and the exact values."""
    import datetime

    from pyspark.sql.types import _parse_datatype_string

    from data_caterer_spark.sources.manifest import MANIFEST_SCHEMA

    row = {
        "run_id": "run-1",
        "run_scope": "cfg-v1",
        "group_id": 3,
        "rows_in": 2**40,
        "rows_kept": 7,
        "rule_hits": '{"pii_email": 2}',
        "wall_s": 1.25,
        "finished_at": datetime.datetime(2026, 1, 2, 3, 4, 5, 678901),
    }
    path = str(tmp_path / "man")
    man = ManifestSidecar(spark, path)
    man.append(row)
    expected = _parse_datatype_string(MANIFEST_SCHEMA)
    written = spark.read.parquet(path).schema
    assert [(f.name, f.dataType) for f in written] == [
        (f.name, f.dataType) for f in expected
    ]
    assert [r.asDict() for r in man.read().collect()] == [row]


def test_lineage_metrics(spark, transcripts, tmp_path):
    runner = ResumableRunner(
        spark, str(tmp_path / "out"), str(tmp_path / "man"), n_groups=2,
        rule_ids=RULE_IDS,
    )
    runner.run(transcripts, _pipeline_fn)
    man = ManifestSidecar(spark, str(tmp_path / "man")).read().collect()
    total_in = sum(r["rows_in"] for r in man)
    total_kept = sum(r["rows_kept"] for r in man)
    assert total_in == transcripts.count()
    straight_kept = _pipeline_fn(transcripts).where("keep").count()
    assert total_kept == straight_kept
    hits = json.loads(man[0]["rule_hits"])
    assert isinstance(hits, dict) and hits, "rule-hit histogram present"
    assert all(r["wall_s"] > 0 for r in man)


def test_lineage_hits_via_observe_matches_readback(spark, transcripts, tmp_path):
    """The per-rule hit histogram rides the write action's observe
    counters (no read-back job per group) and must equal, group by group,
    the hit counts exploded from the written output."""
    runner = ResumableRunner(
        spark, str(tmp_path / "out"), str(tmp_path / "man"),
        n_groups=2, rule_ids=RULE_IDS,
    )
    runner.run(transcripts, _pipeline_fn)
    want: dict[int, dict[str, int]] = {}
    for r in (
        runner.output()
        .select("group", F.explode("rule_hits").alias("rid"))
        .groupBy("group", "rid")
        .count()
        .collect()
    ):
        want.setdefault(r["group"], {})[r["rid"]] = r["count"]
    man = runner.manifest.read().collect()
    assert sorted(r["group_id"] for r in man) == [0, 1]
    for r in man:
        assert json.loads(r["rule_hits"]) == want.get(r["group_id"], {})
    assert any(want.values())


def test_lineage_missing_rule_id_raises_before_manifest(
    spark, transcripts, tmp_path
):
    """A rule_ids list that leaves out an id the plan emits would
    under-count silently; the ``sum(size(rule_hits))`` counter catches it
    and the group gets no manifest row."""
    counts = (
        _pipeline_fn(transcripts)
        .select(F.explode("rule_hits").alias("rid"))
        .groupBy("rid")
        .count()
        .collect()
    )
    missing = max(counts, key=lambda r: r["count"])["rid"]
    runner = ResumableRunner(
        spark, str(tmp_path / "out"), str(tmp_path / "man"), n_groups=1,
        rule_ids=[rid for rid in RULE_IDS if rid != missing],
    )
    with pytest.raises(ValueError, match="group 0: rule_hits holds"):
        runner.run(transcripts, _pipeline_fn)
    assert 0 not in runner.manifest.completed_groups()


def test_jar_gated_formats_error_clearly(spark):
    """delta (no jar here) fails fast with the dependency hint; native
    formats are never gated; xml is native in Spark 4."""
    from data_caterer_spark.sources.io import format_available, read_source

    assert format_available("parquet") and format_available("xml")
    # spark-avro is an external module: the bundled avro-core jars must
    # not satisfy the gate (their names lack the 'spark-avro' marker)
    if not format_available("avro"):
        with pytest.raises(RuntimeError, match="spark-avro"):
            read_source(spark, "avro", path="/tmp/nope")
    if format_available("delta"):
        pytest.skip("delta jar present; gating path not applicable")
    with pytest.raises(RuntimeError, match="delta-spark"):
        read_source(spark, "delta", path="/tmp/nope")
    with pytest.raises(RuntimeError, match="delta-spark"):
        from data_caterer_spark.sources.io import write_sink

        write_sink(spark.range(1), "delta", path="/tmp/nope")


def test_no_cached_connector_jars_in_sandbox():
    """Jar-availability probe (round-5 verdict item): every local jar
    cache Spark's resolver would consult is checked for iceberg/delta
    artifacts.  This sandbox has none and no network for
    spark.jars.packages, so the jar-gated layers (sources/iceberg.py,
    delta passthrough) stay gated — if a cache ever appears, this test
    fails and the gated paths should be lit up end-to-end."""
    import glob
    import os

    import pyspark

    candidates = []
    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    for root in (
        spark_jars,
        os.path.expanduser("~/.ivy2"),
        os.path.expanduser("~/.m2"),
        "/opt/spark/jars",
        "/usr/local/lib/spark-jars",
    ):
        if os.path.isdir(root):
            candidates += glob.glob(
                os.path.join(root, "**", "*iceberg*.jar"), recursive=True
            )
            candidates += glob.glob(
                os.path.join(root, "**", "*delta*.jar"), recursive=True
            )
    assert candidates == [], (
        f"connector jars appeared at {candidates}; un-gate "
        "sources/iceberg.py and the delta passthrough and test them live"
    )


def test_read_source_table_keeps_options(spark):
    """Catalog-table reads must not discard configured reader options
    (snapshot-id / as-of-timestamp travel this way on Iceberg)."""
    import pytest as _pytest

    spark.range(5).createOrReplaceTempView("t_opts_src")
    df = read_source(
        spark, "parquet", table="t_opts_src", options={"mergeSchema": "true"}
    )
    assert df.count() == 5
    with _pytest.raises(ValueError, match="schema"):
        read_source(spark, "parquet", table="t_opts_src", schema="id long")


def test_io_roundtrip_formats(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("s")
    )
    for fmt in ["parquet", "orc", "json", "csv"]:
        path = str(tmp_path / fmt)
        write_sink(df, fmt, path=path, mode="overwrite",
                   options={"header": "true"} if fmt == "csv" else None)
        back = read_source(
            spark, fmt, path=path,
            options={"header": "true", "inferSchema": "true"} if fmt == "csv" else None,
        )
        assert back.count() == 100
        assert set(back.columns) == {"id", "k", "s"}


def test_write_sink_partitioning_and_omit(spark, tmp_path):
    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 5).alias("bucket"), F.lit("x").alias("debug_col")
    )
    path = str(tmp_path / "p")
    write_sink(
        df, "parquet", path=path, mode="overwrite",
        partition_by=["bucket"], omit_cols=["debug_col"],
    )
    back = spark.read.parquet(path)
    assert "debug_col" not in back.columns
    assert back.count() == 50
    import os
    assert any(d.startswith("bucket=") for d in os.listdir(path))


def test_injected_group_col_out_of_range_fails_fast(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest

    from data_caterer_spark.sources.manifest import ResumableRunner

    df = spark.range(32).select(F.col("id").alias("doc_id"))
    r = ResumableRunner(
        spark, str(tmp_path / "o"), str(tmp_path / "m"), n_groups=8,
        conv_col="doc_id",
        rule_ids=[],
        group_col=F.pmod(F.col("doc_id"), F.lit(16)).cast("int"),
    )
    with pytest.raises(ValueError, match="outside"):
        r.run(df, lambda d: d.withColumn("keep", F.lit(True)).withColumn(
            "rule_hits", F.array().cast("array<string>")))
