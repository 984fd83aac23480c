"""Checkpoint/resume + per-partition lineage for huge batch runs.

BASELINE north_rule: "resumable from checkpoint with per-partition lineage
+ metrics".  The unit of work is a **partition group** — a stable slice of
the input keyed by ``pmod(xxhash64(conv_id), n_groups)`` (or any caller
expression).  For each group the runner:

1. runs the pipeline over just that group,
2. writes the output under ``out_dir/group=<gid>/`` with dynamic partition
   overwrite (a re-run of a half-written group replaces it — idempotent),
3. appends ONE manifest row (the lineage record) to the sidecar:
   ``run_id, group_id, rows_in, rows_kept, rule_hits (map), wall_s,
   finished_at`` — written only AFTER the output commit, so the manifest
   is the source of truth for completed work.

Resume = same call again: groups already in the manifest are skipped.

Scale mapping: in production the input is an Iceberg table partitioned by
``bucket(conv_id)`` and the group predicate prunes to one partition (no
full scan per group); the sidecar is an Iceberg table, each group a
snapshot commit.  The reference's analog is sequential batch splitting
(``RecordCountUtil.scala:11-35``) + per-step result records
(``ResultModels.scala:36-51``) — without resume; resume is new-build.

The rule-hit metrics aggregate rides the SAME job as the output write
(one action per group via ``observe``) — no second scan, honoring the
reference's own count-avoidance advice (``SinkFactory.scala:26-32``).
The caller declares the rule ids the plan can emit (one
``count_if(array_contains)`` counter each); one more counter,
``sum(size(rule_hits))``, must equal their sum, so an id list that
misses a rule raises before the manifest row is written instead of
silently under-counting.
"""

from __future__ import annotations

import datetime
import json
import os
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "run_id string, run_scope string, group_id int, rows_in long, "
    "rows_kept long, rule_hits string, wall_s double, finished_at timestamp"
)


def group_expr(conv_col: str, n_groups: int):
    """Stable group id: same row -> same group across runs and cluster
    sizes (hash of the key, not of the partition layout)."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_groups)).cast("int")


class ManifestSidecar:
    """Parquet-backed lineage sidecar (Iceberg table in production)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def completed_groups(self, run_scope: str | None = None) -> set[int]:
        """Groups completed under ``run_scope`` (a plan/config fingerprint).

        Scoping matters for resume correctness: after a pipeline or config
        change the old scope's outputs are stale — an unscoped skip would
        silently mix old and new outputs.  ``None`` means any scope
        (explicit opt-in to cross-scope resume).
        """
        if not os.path.exists(self.path):
            return set()
        df = self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        if run_scope is not None:
            df = df.where(F.col("run_scope") == run_scope)
        return {r["group_id"] for r in df.select("group_id").distinct().collect()}

    def append(self, row: dict) -> None:
        """Write one manifest row, built from JVM literals typed by
        ``MANIFEST_SCHEMA`` (no Python-side DataFrame conversion)."""
        fields = [f.split() for f in MANIFEST_SCHEMA.split(", ")]
        self.spark.range(0, 1, 1, 1).select(
            *[F.lit(row[name]).cast(dtype).alias(name) for name, dtype in fields]
        ).write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)


class ResumableRunner:
    """Run ``pipeline_fn`` over partition groups with commit-then-manifest
    semantics.  See module docstring for the protocol."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        manifest_dir: str,
        n_groups: int = 16,
        conv_col: str = "conv_id",
        scope: str = "default",
        *,
        rule_ids: Sequence[str],
        group_col: "F.Column | None" = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.manifest = ManifestSidecar(spark, manifest_dir)
        self.n_groups = n_groups
        self.conv_col = conv_col
        # default grouping is pmod(xxhash64(key)) — uniform even on skewed
        # keys; callers needing an externally-reproducible placement (an
        # ANSI-SQL oracle, a partner system) pass their own expression
        self.group_col = group_col
        # scope = plan/config fingerprint: manifest rows from a DIFFERENT
        # scope never satisfy this runner's resume check
        self.scope = scope
        # the per-rule hit histogram rides the write action as observe
        # counters (one count_if(array_contains) per rule — the bank is
        # bounded)
        self.rule_ids = list(rule_ids)

    def pending_groups(self) -> list[int]:
        done = self.manifest.completed_groups(run_scope=self.scope)
        return [g for g in range(self.n_groups) if g not in done]

    def run(
        self,
        df: DataFrame,
        pipeline_fn: Callable[[DataFrame], DataFrame],
        run_id: str | None = None,
        fail_on_group: int | None = None,
    ) -> list[int]:
        """Process every pending group; returns the group ids processed
        this invocation.  ``fail_on_group`` injects a crash (tests)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        grouped = df.withColumn(
            "__group",
            self.group_col
            if self.group_col is not None
            else group_expr(self.conv_col, self.n_groups),
        )
        if self.group_col is not None:
            # an injected expression with a modulus that disagrees with
            # n_groups would leave rows outside every gid loop iteration
            # — silently missing from the output; fail fast instead
            bad = (
                grouped.select("__group")
                .where(
                    (F.col("__group") < 0)
                    | (F.col("__group") >= self.n_groups)
                )
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"group_col produced id {bad[0]['__group']} outside "
                    f"range({self.n_groups}); rows would be silently "
                    "skipped"
                )
        processed = []
        for gid in self.pending_groups():
            if fail_on_group is not None and gid == fail_on_group:
                raise RuntimeError(f"injected failure on group {gid}")
            t0 = time.time()
            part = grouped.where(F.col("__group") == gid).drop("__group")
            out = pipeline_fn(part)
            obs = Observation(f"g{gid}")
            hits = F.col("rule_hits")
            out = out.observe(
                obs,
                F.count(F.lit(1)).alias("rows_in"),
                F.count_if(F.col("keep")).alias("rows_kept"),
                # NULL hits count 0 (legacy size(NULL) is -1)
                F.sum(F.when(hits.isNull(), 0).otherwise(F.size(hits)))
                .alias("__hits_total"),
                *[
                    F.count_if(F.array_contains(hits, rid)).alias(f"__hit_{i}")
                    for i, rid in enumerate(self.rule_ids)
                ],
            )
            (
                out.withColumn("group", F.lit(gid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("group")
                .parquet(self.out_dir)
            )
            stats = obs.get
            hits_map = {
                rid: stats[f"__hit_{i}"]
                for i, rid in enumerate(self.rule_ids)
                if stats[f"__hit_{i}"]
            }
            total = stats["__hits_total"] or 0  # sum over no rows is NULL
            if total != sum(hits_map.values()):
                raise ValueError(
                    f"group {gid}: rule_hits holds {total} ids but the "
                    f"declared rule_ids count {sum(hits_map.values())}; "
                    "rule_ids misses an id the plan emits"
                )
            self.manifest.append(
                {
                    "run_id": run_id,
                    "run_scope": self.scope,
                    "group_id": gid,
                    "rows_in": stats["rows_in"],
                    "rows_kept": stats["rows_kept"],
                    "rule_hits": json.dumps(hits_map, sort_keys=True),
                    "wall_s": round(time.time() - t0, 3),
                    "finished_at": datetime.datetime.now(),
                }
            )
            processed.append(gid)
        return processed

    def output(self) -> DataFrame:
        return self.spark.read.parquet(self.out_dir)
