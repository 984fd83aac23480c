"""The traced run: per-layer metrics named after the package's modules.

Each layer's public function is applied alone to an input materialized
(cached) with the columns it needs, and forced with a ``noop`` write; the
median of ``REPEATS`` timings is reported.  Stage metrics (task times,
shuffle and output bytes, GC, spill) and SQL metrics (Python-worker init
and run time) come from Spark's status store through
:class:`trace.StatusStore`.  One pass of the workload itself runs traced
between two untraced ones; traced over untraced wall time is
``trace.overhead_ratio``.

Every traced run reports every metric below, whatever the workload, so
the workload-specific layers (write and manifest, streaming) run as
small probes of their own.  ``PER_LAYER`` maps each metric to the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

import datetime
import os
import statistics

from pyspark.sql import functions as F

from data_caterer_spark.fixtures import TRANSCRIPT_DDL
from data_caterer_spark.functions import text as T
from data_caterer_spark.functions.scoring import with_model_scores
from data_caterer_spark.functions.scrub import scrub_columns
from data_caterer_spark.functions.textcore import SCRUB_BANK
from data_caterer_spark.operators.windows import with_turn_order_features
from data_caterer_spark.sources.io import read_source, write_sink
from data_caterer_spark.sources.manifest import ManifestSidecar, ResumableRunner
from data_caterer_spark.streaming.quality_stream import streaming_quality_filter

from perfbench import common
from perfbench.trace import StatusStore, task_skew

# two, not more: a traced run on a slow host takes ~2 of its 3 minutes
REPEATS = 2

# name -> (unit, the end-to-end metrics it should move, as workload/metric;
# "all" means every workload).  BENCHMARK.json's schema holds only names and
# units, so this is where the mapping is recorded.
PER_LAYER = {
    "config.session_s": ("s", ["all/setup_s"]),
    "sources.scan_s": ("s", ["all/turns_per_s"]),
    "functions.text.features_s": ("s", ["batch_filter/turns_per_s"]),
    "operators.windows.window_s": (
        "s", ["batch_filter/turns_per_s", "batch_filter/peak_rss_mb"]
    ),
    "operators.windows.shuffle_bytes": (
        "bytes", ["batch_filter/turns_per_s", "batch_filter/peak_rss_mb"]
    ),
    "operators.windows.task_skew": (
        "ratio", ["batch_filter/turns_per_s", "batch_filter/peak_rss_mb"]
    ),
    "functions.scoring.score_s": (
        "s", ["resume_write/turns_per_s", "batch_filter/turns_per_s"]
    ),
    "functions.scoring.tasks": (
        "count", ["resume_write/turns_per_s", "batch_filter/turns_per_s"]
    ),
    "functions.scoring.python_init_s": (
        "s", ["resume_write/turns_per_s", "batch_filter/turns_per_s"]
    ),
    "functions.scoring.python_run_s": (
        "s", ["resume_write/turns_per_s", "batch_filter/turns_per_s"]
    ),
    "operators.rules.rules_s": ("s", ["batch_filter/turns_per_s"]),
    "functions.scrub.scrub_s": ("s", ["batch_filter/turns_per_s"]),
    "functions.scrub.hit_ratio": ("ratio", ["batch_filter/turns_per_s"]),
    "sources.write_s": ("s", ["resume_write/turns_per_s"]),
    "sources.write_bytes": ("bytes", ["resume_write/turns_per_s"]),
    "sources.manifest.group_s": ("s", ["resume_write/turns_per_s"]),
    "sources.manifest.completed_groups_s": ("s", ["resume_write/turns_per_s"]),
    "sources.manifest.append_s": ("s", ["resume_write/turns_per_s"]),
    "sources.manifest.jobs_per_group": ("count", ["resume_write/turns_per_s"]),
    # no workload streams, so these move no end-to-end metric
    "streaming.plan_ms": ("ms", []),
    "streaming.commit_ms": ("ms", []),
    "streaming.add_batch_ms": ("ms", []),
    "spark.spill_bytes": (
        "bytes",
        [
            "batch_filter/peak_rss_mb", "batch_filter/turns_per_s",
            "resume_write/peak_rss_mb", "resume_write/turns_per_s",
        ],
    ),
    "spark.gc_s": (
        "s",
        [
            "batch_filter/peak_rss_mb", "batch_filter/turns_per_s",
            "resume_write/peak_rss_mb", "resume_write/turns_per_s",
        ],
    ),
    "trace.overhead_ratio": ("ratio", ["all/turns_per_s"]),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Probes:
    def __init__(self, w, tracer):
        self.w = w
        self.spark = w.spark
        self.tracer = tracer
        self.store = StatusStore(w.spark)
        self.n = 0
        self.attempted = 0

    def timed(self, name: str, fn) -> tuple[float, str]:
        """Median wall time of ``REPEATS`` runs of ``fn`` inside a span;
        returns it with the job group of the last run."""
        walls = []
        for _ in range(REPEATS):
            self.n += 1
            group = f"{name}#{self.n}"
            with self.tracer.span(name, job_group=group) as span:
                wall, _ = self.store.run(group, fn)
            if span is not None:
                span["attrs"]["stages"] = self.store.stages(group)
            walls.append(wall)
            self.attempted += 1
        return statistics.median(walls), group

    def run(self) -> dict:
        spark = self.spark
        m: dict[str, float] = {}
        turns_path = os.path.join(self.w.meta["dir"], "turns")
        base = read_source(spark, "parquet", turns_path).cache()
        base.count()
        pipe = self.w.pipe

        m["sources.scan_s"], _ = self.timed(
            "sources.io.read_source",
            lambda: _noop(read_source(spark, "parquet", turns_path)),
        )
        m["functions.text.features_s"], _ = self.timed(
            "functions.text.with_text_features",
            lambda: _noop(T.with_text_features(base)),
        )
        m["operators.windows.window_s"], g = self.timed(
            "operators.windows.with_turn_order_features",
            lambda: _noop(with_turn_order_features(base)),
        )
        stages = self.store.stages(g)
        m["operators.windows.shuffle_bytes"] = float(
            sum(s["shuffle_write_bytes"] for s in stages)
        )
        m["operators.windows.task_skew"] = task_skew(stages)
        m["functions.scoring.score_s"], _ = self.timed(
            "functions.scoring.with_model_scores",
            lambda: _noop(with_model_scores(base)),
        )
        m["functions.scrub.scrub_s"], _ = self.timed(
            "functions.scrub.scrub_columns", lambda: _noop(scrub_columns(base))
        )
        # Column Sketches' useful/attempted ratio: regex steps that changed
        # a row, over the steps the chain ran (every step on every row)
        r = scrub_columns(base).agg(
            F.sum(F.size("scrub_hits")).alias("hits"), F.count(F.lit(1)).alias("rows")
        ).first()
        m["functions.scrub.hit_ratio"] = r["hits"] / (r["rows"] * len(SCRUB_BANK))

        featured = with_model_scores(pipe.with_features(base)).cache()
        featured.count()
        rules = pipe.heuristic_rules()
        m["operators.rules.rules_s"], _ = self.timed(
            "operators.rules.RuleSet",
            lambda: _noop(
                featured.withColumn("heur_hits", rules.hits_column()).withColumn(
                    "keep", rules.keep_column(F.col("heur_hits"))
                )
            ),
        )
        featured.unpersist()

        labeled = pipe.run(base).cache()
        labeled.count()
        out = os.path.join(self.w.run_dir, "probe_write")
        m["sources.write_s"], g = self.timed(
            "sources.io.write_sink",
            lambda: write_sink(labeled, "parquet", path=out, mode="overwrite"),
        )
        m["sources.write_bytes"] = float(
            sum(s["output_bytes"] for s in self.store.stages(g))
        )
        m.update(self._manifest(labeled))
        labeled.unpersist()
        base.unpersist()
        m.update(self._streaming())
        return m

    def _manifest(self, labeled) -> dict:
        """The write and manifest layers alone: ``ResumableRunner`` over the
        already-labelled table with an identity plan."""
        d = os.path.join(self.w.run_dir, "probe_manifest")
        runner = ResumableRunner(
            self.spark,
            os.path.join(d, "out"),
            os.path.join(d, "manifest"),
            n_groups=common.N_GROUPS,
            scope="perfbench-probe",
            rule_ids=self.w.rule_ids,
        )
        group = "sources.manifest.ResumableRunner.run"
        with self.tracer.span(group, job_group=group):
            self.store.run(group, lambda: runner.run(labeled, lambda df: df))
        self.attempted += common.N_GROUPS
        sidecar = ManifestSidecar(self.spark, os.path.join(d, "manifest"))
        walls = [r["wall_s"] for r in sidecar.read().select("wall_s").collect()]
        completed, _ = self.timed(
            "sources.manifest.ManifestSidecar.completed_groups",
            lambda: sidecar.completed_groups("perfbench-probe"),
        )
        scratch = ManifestSidecar(self.spark, os.path.join(d, "scratch"))
        row = {
            "run_id": "probe",
            "run_scope": "probe",
            "group_id": 0,
            "rows_in": 1,
            "rows_kept": 1,
            "rule_hits": "{}",
            "wall_s": 0.0,
            "finished_at": datetime.datetime(2025, 1, 1),
        }
        append, _ = self.timed(
            "sources.manifest.ManifestSidecar.append", lambda: scratch.append(row)
        )
        return {
            "sources.manifest.group_s": statistics.median(walls),
            "sources.manifest.completed_groups_s": completed,
            "sources.manifest.append_s": append,
            "sources.manifest.jobs_per_group": len(self.store.jobs(group))
            / common.N_GROUPS,
        }

    def _streaming(self) -> dict:
        """``streaming_quality_filter`` over the cached file stream, one
        file per trigger, ``availableNow``, into a ``noop`` sink: medians of
        the micro-batch ``durationMs`` parts."""
        stream = (
            self.spark.readStream.schema(TRANSCRIPT_DDL + ", row_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.w.meta["dir"], "stream"))
        )
        with self.tracer.span("streaming.quality_stream.streaming_quality_filter"):
            out = streaming_quality_filter(stream)
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(self.w.run_dir, "probe_stream"))
            .trigger(availableNow=True)
            .start()
        )
        with self.tracer.span("streaming.awaitTermination", run_id=str(q.runId)):
            q.awaitTermination()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(batches) != common.STREAM_FILES:
            raise RuntimeError(f"{len(batches)} micro-batches, expected {common.STREAM_FILES}")
        self.attempted += len(batches)

        def med(*parts):
            return statistics.median(
                sum(b["durationMs"].get(p, 0) for p in parts) for b in batches
            )

        return {
            "streaming.plan_ms": med("queryPlanning"),
            "streaming.commit_ms": med("walCommit", "commitOffsets"),
            "streaming.add_batch_ms": med("addBatch"),
        }


def traced_run(w, tracer, session_s: float) -> tuple[dict, int]:
    """Per-layer metrics of workload ``w`` (already warmed up) and the
    number of operations the traced run attempted."""
    store = StatusStore(w.spark)
    # untraced, traced, untraced: the mean of the untraced passes cancels
    # any warm-up still in progress
    tracer.enabled = False
    before, _ = w.one_pass()
    tracer.enabled = True
    with tracer.span(f"workload.{w.name}", job_group="workload") as span:
        traced, _ = store.run("workload", w.one_pass)
        stages = store.stages("workload")
        sql = store.sql_metrics("workload")
        span["attrs"]["stages"] = stages
    tracer.enabled = False
    after, _ = w.one_pass()
    tracer.enabled = True
    python = [(op, name, v) for op, name, v in sql if op.startswith("ArrowEvalPython")]
    m = {
        "config.session_s": session_s,
        "trace.overhead_ratio": traced / ((before + after) / 2),
        "spark.spill_bytes": float(sum(s["spill_bytes"] for s in stages)),
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "functions.scoring.python_init_s": sum(
            v for _, name, v in python if name == "time to initialize Python workers"
        ),
        "functions.scoring.python_run_s": sum(
            v for _, name, v in python if name == "time to run Python workers"
        ),
    }
    m["functions.scoring.tasks"] = float(
        sum(s["tasks"] for s in stages if "ArrowEvalPython" in s["operators"])
    )
    probes = Probes(w, tracer)
    m.update(probes.run())
    return m, 3 + probes.attempted
