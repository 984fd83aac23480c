"""The benchmark workloads.

Each workload reads the cached input (``inputs.py``), warms up at full
size, then runs whole passes until the timed window has passed:

* ``batch_filter`` — ``QualityFilterPipeline().run`` over the whole table
  into a ``noop`` sink.  One pass is one operation.
* ``resume_write`` — the same plan through ``ResumableRunner``
  (``N_GROUPS`` groups, parquet output plus manifest) from empty
  directories: the first invocation stops at the middle group through the
  runner's ``fail_on_group`` hook and a second one resumes to completion.
  One pass is both invocations; one group commit is one operation.

After the window each workload runs an untimed correctness gate against
the golden labels.  A pass that raises is counted as failed and the window
goes on; the scripted ``fail_on_group`` stop is part of the workload, not
a failure.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from data_caterer_spark.functions.textcore import SCRUB_BANK
from data_caterer_spark.plans.pipeline import QualityFilterPipeline
from data_caterer_spark.sources.io import read_source
from data_caterer_spark.sources.manifest import ManifestSidecar, ResumableRunner

from perfbench import common

STOP_GROUP = common.N_GROUPS // 2
MAX_FAILED_PASSES = 3
# a slow host runs a resume_write pass in ~11 s, longer than the window;
# one pass alone spread 13% between runs
MIN_PASSES = 2


class GateFailure(RuntimeError):
    """The program's output disagrees with the golden labels."""


@dataclass
class Window:
    """What one timed window measured."""

    pass_rates: list[float] = field(default_factory=list)  # turns/s per pass
    attempted: int = 0
    failed: int = 0


def compare(spark, out, golden_dir: str, expected_rows: int) -> dict:
    """keep/drop F1 (positive class: keep) and the byte-equal
    ``scrubbed_text`` share of ``out`` against the golden labels; raises
    :class:`GateFailure` on any disagreement."""
    g = spark.read.parquet(golden_dir).select(
        "row_id", F.col("keep").alias("g_keep"), F.col("scrubbed_text").alias("g_text")
    )
    j = out.select(
        F.col("row_id").alias("o_id"), "row_id", "keep", "scrubbed_text"
    ).join(g, "row_id", "full_outer")
    r = j.agg(
        F.count("o_id").alias("n_out"),
        F.count_if(F.col("o_id").isNull()).alias("missing"),
        F.count_if(F.col("g_keep").isNull()).alias("extra"),
        F.count_if(F.col("keep") & F.col("g_keep")).alias("tp"),
        F.count_if(F.col("keep") & ~F.col("g_keep")).alias("fp"),
        F.count_if(~F.col("keep") & F.col("g_keep")).alias("fn"),
        F.count_if(
            F.col("o_id").isNotNull() & F.col("scrubbed_text").eqNullSafe(F.col("g_text"))
        ).alias("same_text"),
    ).first()
    denom = 2 * r["tp"] + r["fp"] + r["fn"]
    result = {
        "keep_f1": 2 * r["tp"] / denom if denom else 1.0,
        "scrub_exact_ratio": r["same_text"] / r["n_out"] if r["n_out"] else 0.0,
    }
    problems = []
    if r["n_out"] != expected_rows:
        problems.append(f"{r['n_out']} output rows, expected {expected_rows}")
    if r["missing"] or r["extra"]:
        problems.append(f"{r['missing']} rows missing, {r['extra']} unknown rows")
    if result["keep_f1"] != 1.0:
        problems.append(f"keep_f1 {result['keep_f1']} (fp {r['fp']}, fn {r['fn']})")
    if result["scrub_exact_ratio"] != 1.0:
        problems.append(f"scrub_exact_ratio {result['scrub_exact_ratio']}")
    if problems:
        raise GateFailure("; ".join(problems))
    return result


class Workload:
    name = ""

    def __init__(self, spark, meta: dict, run_dir: str, tracer):
        self.spark = spark
        self.meta = meta
        self.turns = meta["turns"]
        self.run_dir = run_dir
        self.tracer = tracer
        self.pipe = QualityFilterPipeline()
        # every id the plan can emit, so the runner's per-rule histogram
        # rides the write action
        self.rule_ids = [r.rule_id for r in self.pipe.heuristic_rules()] + [
            rid for rid, _pattern, _rep in SCRUB_BANK
        ]
        self.df = read_source(spark, "parquet", os.path.join(meta["dir"], "turns"))

    def warm_up(self) -> None:
        """Untimed full-size passes (``common.WARM_PASSES``): the Python
        workers start and load the models, and the JVM compiles the plan's
        stages until a pass runs at its plateau rate."""
        for _ in range(common.WARM_PASSES[self.name]):
            self.one_pass()

    def one_pass(self) -> tuple[float, int]:
        """Run one pass; returns (wall seconds, operations it made)."""
        raise NotImplementedError

    def measure(self, seconds: float) -> Window:
        """Whole passes for ``seconds``: at least ``MIN_PASSES``, and no
        pass is started that would, at the median pass time so far, end
        past the window, so a run's length does not swing by a pass."""
        w = Window()
        walls: list[float] = []
        start = time.perf_counter()
        while len(walls) < MIN_PASSES or (
            time.perf_counter() - start + statistics.median(walls) <= seconds
        ):
            try:
                wall, ops = self.one_pass()
            except Exception:  # noqa: BLE001 - count it and keep measuring
                traceback.print_exc()
                w.attempted += 1
                w.failed += 1
                if w.failed >= MAX_FAILED_PASSES:
                    raise
                continue
            walls.append(wall)
            w.pass_rates.append(self.turns / wall)
            w.attempted += ops
        return w

    def gate(self) -> dict:
        raise NotImplementedError


class BatchFilter(Workload):
    name = "batch_filter"

    def one_pass(self):
        t0 = time.perf_counter()
        with self.tracer.span("plans.pipeline.QualityFilterPipeline.run"):
            out = self.pipe.run(self.df)
        with self.tracer.span("action.noop_write"):
            out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, 1

    def gate(self):
        return compare(
            self.spark,
            self.pipe.run(self.df),
            os.path.join(self.meta["dir"], "golden"),
            self.turns,
        )


class ResumeWrite(Workload):
    name = "resume_write"

    def __init__(self, *args):
        super().__init__(*args)
        self.passes = 0

    def _dirs(self, i: int) -> tuple[str, str]:
        base = os.path.join(self.run_dir, "resume", f"p{i}")
        return os.path.join(base, "out"), os.path.join(base, "manifest")

    def _runner(self, out_dir: str, manifest_dir: str) -> ResumableRunner:
        return ResumableRunner(
            self.spark,
            out_dir,
            manifest_dir,
            n_groups=common.N_GROUPS,
            scope="perfbench",
            rule_ids=self.rule_ids,
        )

    def _plan(self, part):
        with self.tracer.span("plans.pipeline.QualityFilterPipeline.run"):
            return self.pipe.run(part)

    def one_pass(self):
        if self.passes:
            common.remove(os.path.dirname(self._dirs(self.passes - 1)[0]))
        self.passes += 1
        out_dir, manifest_dir = self._dirs(self.passes - 1)
        t0 = time.perf_counter()
        with self.tracer.span("sources.manifest.ResumableRunner.run", invocation=1):
            try:
                self._runner(out_dir, manifest_dir).run(
                    self.df, self._plan, fail_on_group=STOP_GROUP
                )
            except RuntimeError as exc:
                if f"injected failure on group {STOP_GROUP}" not in str(exc):
                    raise
            else:
                raise RuntimeError("the scripted stop at the middle group did not happen")
        with self.tracer.span("sources.manifest.ResumableRunner.run", invocation=2):
            done = self._runner(out_dir, manifest_dir).run(self.df, self._plan)
        wall = time.perf_counter() - t0
        if done != list(range(STOP_GROUP, common.N_GROUPS)):
            raise RuntimeError(f"resume processed groups {done}")
        return wall, common.N_GROUPS

    def gate(self):
        out_dir, manifest_dir = self._dirs(self.passes - 1)
        m = (
            ManifestSidecar(self.spark, manifest_dir)
            .read()
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count_distinct("group_id").alias("groups"),
                F.sum("rows_in").alias("rows_in"),
                F.sum("rows_kept").alias("rows_kept"),
            )
            .first()
        )
        expected = (common.N_GROUPS, common.N_GROUPS, self.turns, self.meta["golden_kept"])
        if tuple(m) != expected:
            raise GateFailure(
                f"manifest (rows, groups, rows_in, rows_kept) = {tuple(m)}, "
                f"expected {expected}"
            )
        return compare(
            self.spark,
            self.spark.read.parquet(out_dir),
            os.path.join(self.meta["dir"], "golden"),
            self.turns,
        )


WORKLOADS = {w.name: w for w in (BatchFilter, ResumeWrite)}
