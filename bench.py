#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the cores this
process may run on).

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Modes:
  python bench.py                  # headline suite, pipeline, input-size
                                   # curve and N -> 4N core scaling
  python bench.py --job pipeline   # just the transcript quality-filter
                                   # pipeline: median turns/s + every pass

Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE
(shuffle partitions; run_scaling sets it so both widths run one plan) and
SPARK_GRAFT_SKIP_SCALING=1 (skip the input-size and core scaling phases).

Each query is forced with a noop-format write (full computation, no
driver-side collect — the 100 TB execution shape).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

# transcripts synthesized for the pipeline job: ~7.5 turns/conv, so ~150k
# turns.  Pinned to one core of a 4-vCPU host, the first two passes took
# 37-39 s and 25-27 s (JIT ramp), and the next three still fell pass by
# pass (21.3 -> 20.7 -> 20.1 s); the untimed WARMUP_PASSES absorb the ramp
# at both widths.
PIPELINE_CONVS = 20_000
WARMUP_PASSES = 4
TIMED_PASSES = 3

# input-size curve: the same pipeline at growing inputs in the JIT-warm JVM
SIZE_SCALING_CONVS = (60_000, 150_000)

# N -> 4N interleaved pairs, fixed before any trial runs
SCALING_PAIRS = 3

HEADLINE = [
    "doc_quality_filter",       # flagship keep/drop + scrub (pure Catalyst)
    "q1_pricing_summary",       # scan-heavy agg, predicate pushdown
    "q3_top_revenue",           # broadcast join + top-k
    "rule_violation_counts",    # whole rule bank in one aggregate pass
    "window_turn_order",        # window shuffle + lag/row_number
    "ngram_jaccard_dups",       # inverted-index self-join dedup
    "minhash_lsh_dups",         # signature + banding dedup
    "simhash_dups",             # fingerprint + chunk-block dedup
    "embedding_topk",           # brute-force cosine top-k
    "lsh_knn_embeddings",       # LSH knn join
    "ivf_knn_embeddings",       # IVF coarse-quantizer knn join
    "langid_documents",         # pandas-UDF broadcast-model inference
    "perplexity_documents",     # pandas-UDF numpy scoring
    "scrub_documents",          # sequential regex scrub chain
    "semantic_dedup_drops",     # SemDeDup cluster->prune over embeddings
    "repeated_span_removal",    # boilerplate span cut + text reassembly
    "pretrain_packing_bins",    # concat-and-chunk context packing
    "temperature_mix_counts",   # n^alpha training-mix sampling
    "dsir_selected_docs",       # DSIR importance resampling (one-scan
                                # pair fit + broadcast-ratio scoring + top-k)
    "quality_classifier_scores",  # distributed classifier TRAINING (6 GD
                                  # iterations, shuffle-free partials) + infer
    "url_filter_decisions",     # crawl-hygiene URL rules + broadcast blocklist
    "top_ngram_heavy_hitters",  # corpus wordcount + TakeOrderedAndProject
    "web_quality_funnel",       # C4 -> Gopher -> flagship banks, one scan
    "bloom_paragraph_dedup",    # fixed-RAM Bloom bitmap batch-vs-history dedup
    "exact_substring_dedup",    # overlapping-window ExactSubstr token marking
    "asof_last_click",          # union-trick as-of join (no join operator)
    "grouped_topk_docs",        # salted two-phase per-group top-k
]


def force(df) -> int:
    """Execute the full plan without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _pipeline_job(spark, n_convs: int):
    """Synthesize transcripts executor-side and checkpoint them.  Returns
    (n_turns, one_pass): one_pass() runs the full quality-filter pipeline
    over that input into noop and returns its seconds."""
    from data_caterer_spark.fixtures import generate_transcripts_distributed
    from data_caterer_spark.plans.pipeline import QualityFilterPipeline

    # fixed 128-chunk layout regardless of CPUS, so every core count runs
    # the identical job on identical input
    df = generate_transcripts_distributed(
        spark, n_convs=n_convs, convs_per_task=max(1, n_convs // 128)
    )
    df = df.localCheckpoint()  # materialize input so we time the pipeline, not synthesis
    n_turns = df.count()
    pipe = QualityFilterPipeline()

    def one_pass() -> float:
        t0 = time.time()
        force(
            pipe.run(df).select(
                "conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text"
            )
        )
        return time.time() - t0

    return n_turns, one_pass


def pipeline_samples(spark) -> dict:
    """The one pipeline measurement: WARMUP_PASSES untimed full passes, then
    TIMED_PASSES timed ones; the rate is turns over the median pass."""
    n_turns, one_pass = _pipeline_job(spark, PIPELINE_CONVS)
    warmup = [round(one_pass(), 3) for _ in range(WARMUP_PASSES)]
    secs = [round(one_pass(), 3) for _ in range(TIMED_PASSES)]
    med = statistics.median(secs)
    return {
        "pipeline_turns": n_turns,
        "pipeline_sec": med,
        "pipeline_turns_per_sec": round(n_turns / med, 1),
        "pipeline_sample_secs": secs,
        "pipeline_warmup_secs": warmup,
    }


def run_size_scaling(spark, base_turns: int, base_sec: float) -> list[dict]:
    """Input-size scaling curve: the SAME pipeline at growing inputs in the
    already JIT-warm JVM — throughput should RISE with input size while the
    job is fixed-overhead-bound, then plateau at the work-bound rate.  Two
    passes per size, the faster one kept (the first also pages the new
    input); both pass times ship."""
    points = [
        {
            "convs": PIPELINE_CONVS,
            "turns": base_turns,
            "sec": base_sec,
            "turns_per_sec": round(base_turns / base_sec, 1),
        }
    ]
    for convs in SIZE_SCALING_CONVS:
        turns, one_pass = _pipeline_job(spark, convs)
        secs = [round(one_pass(), 3) for _ in range(2)]
        points.append(
            {
                "convs": convs,
                "turns": turns,
                "sec": min(secs),
                "turns_per_sec": round(turns / min(secs), 1),
                "pass_secs": secs,
            }
        )
    return points


def _pipeline_trial(width: int, shuffle: int) -> dict:
    """One scaling trial: a fresh ``bench.py --job pipeline`` child pinned
    (whole process tree: JVM task threads and Python workers) to the first
    ``width`` cores this process may use.  Returns the child's JSON line;
    raises on a failed or unparseable run."""
    repo = os.path.dirname(os.path.abspath(__file__))
    cores = sorted(os.sched_getaffinity(0))[:width]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(width)
    env["SPARK_GRAFT_SHUFFLE"] = str(shuffle)
    cmd = [
        "taskset", "-c", ",".join(map(str, cores)),
        sys.executable, os.path.join(repo, "bench.py"), "--job", "pipeline",
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, env=env, cwd=repo,
        timeout=900, check=True,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    return json.loads(lines[-1] if lines else "")


def run_scaling(cpus: int | None = None, trial=_pipeline_trial) -> dict | None:
    """N -> 4N core scaling (BASELINE: efficiency >= 0.8), N = cpus // 4.
    No real cluster here, so the same job runs pinned to N and to 4N cores,
    each trial in a fresh JVM (``trial(width, shuffle)``), on identical
    input and one shuffle-partition count.  SCALING_PAIRS pairs alternate
    N,4N / 4N,N / ...; the schedule is fixed before the first trial and
    nothing measured changes what runs next.  Efficiency = median(4N trial
    rates) / (4 * median(N trial rates)); every rate and pass time ships.
    None when there is no 4N-core width to pin: N < 1, fewer than 4N usable
    cores, or no ``taskset``."""
    n = (CPUS if cpus is None else cpus) // 4
    usable = len(os.sched_getaffinity(0))
    if n < 1 or usable < 4 * n or shutil.which("taskset") is None:
        return None
    shuffle = max(4 * n, 8)
    order = []
    for k in range(SCALING_PAIRS):
        order += [n, 4 * n] if k % 2 == 0 else [4 * n, n]
    runs: dict[int, list[dict]] = {n: [], 4 * n: []}
    failed = []
    t0 = time.time()
    for width in order:
        try:
            runs[width].append(trial(width, shuffle))
        except (subprocess.SubprocessError, OSError, ValueError) as e:
            failed.append({"cpus": width, "error": repr(e)[-300:]})

    def field(width: int, key: str) -> list:
        return [r[key] for r in runs[width]]

    rate_n, rate_4n = (
        statistics.median(field(w, "pipeline_turns_per_sec")) if runs[w] else None
        for w in (n, 4 * n)
    )
    return {
        "cpus_n": n,
        "cpus_4n": 4 * n,
        "convs": PIPELINE_CONVS,
        "shuffle_partitions": shuffle,
        "order": order,
        "samples_n": field(n, "pipeline_turns_per_sec"),
        "samples_4n": field(4 * n, "pipeline_turns_per_sec"),
        "pass_secs_n": field(n, "pipeline_sample_secs"),
        "pass_secs_4n": field(4 * n, "pipeline_sample_secs"),
        "warmup_secs_n": field(n, "pipeline_warmup_secs"),
        "warmup_secs_4n": field(4 * n, "pipeline_warmup_secs"),
        "turns_per_sec_n": rate_n,
        "turns_per_sec_4n": rate_4n,
        "efficiency": (
            round(rate_4n / (4 * rate_n), 3) if rate_n and rate_4n else None
        ),
        "failed": failed,
        "wall_s": round(time.time() - t0, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", default="all", choices=["all", "pipeline"])
    args = ap.parse_args()

    from data_caterer_spark.config import get_spark
    from data_caterer_spark.queries import QUERIES

    spark = get_spark(
        app_name="dcs-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", max(CPUS, 8))
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")

    pipe = pipeline_samples(spark)
    if args.job == "pipeline":
        spark.stop()
        # consumed by run_scaling's parser: sample lists stay inline
        print(json.dumps({"cpus": CPUS, **pipe}))
        return

    # best-of-2 per query, second pass in reverse order
    timings: dict[str, float] = {}
    for name in HEADLINE + HEADLINE[::-1]:
        t0 = time.time()
        force(QUERIES[name](spark, SF_DIR))
        timings[name] = min(timings.get(name, 1e9), round(time.time() - t0, 3))
    timings["transcript_pipeline"] = pipe["pipeline_sec"]
    skip_scaling = os.environ.get("SPARK_GRAFT_SKIP_SCALING") == "1"
    size_scaling = None
    if not skip_scaling:
        size_scaling = run_size_scaling(
            spark, pipe["pipeline_turns"], pipe["pipeline_sec"]
        )
    spark.stop()

    # core-scaling children run after the main JVM has released its cores
    scaling = None if skip_scaling else run_scaling()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_suite_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "pipeline_turns": pipe["pipeline_turns"],
        "pipeline_turns_per_sec": pipe["pipeline_turns_per_sec"],
        "pipeline_sample_secs": pipe["pipeline_sample_secs"],
    }
    if size_scaling is not None:
        result["size_scaling"] = size_scaling
    if scaling is not None:
        result["scaling"] = scaling
    print(json.dumps(_compact_for_driver(result)))


#: ceiling for the driver-facing line: round 4's line (per-trial logs +
#: protocol prose) outgrew the driver's stdout capture and the artifact
#: recorded parsed=null — scalars only below this size, everything
#: verbose goes to BENCH_DETAIL.json
MAX_DRIVER_LINE = 1800

DETAIL_FILE = "BENCH_DETAIL.json"


def _compact_for_driver(result: dict) -> dict:
    """Write the FULL result (every pass time of every trial) to
    ``BENCH_DETAIL.json`` and return a scalars-only line guaranteed to fit
    the driver's capture.  Lesson of round 4: `parsed: null` loses the
    whole round's numbers — the driver-facing JSON must stay small no
    matter how much evidence the run gathered."""
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(repo, DETAIL_FILE), "w") as f:
            json.dump(result, f, indent=1)
        detail_ok = True
    except OSError:
        detail_ok = False

    compact = {
        k: result[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "cpus",
            "pipeline_turns", "pipeline_turns_per_sec",
        )
        if k in result
    }
    if result.get("size_scaling") is not None:
        compact["size_scaling"] = [
            {
                "turns": p["turns"],
                "sec": p["sec"],
                "tps": p["turns_per_sec"],
            }
            for p in result["size_scaling"]
        ]
    s = result.get("scaling")
    if s is not None:
        compact["scaling"] = {
            k: s[k]
            for k in (
                "efficiency", "cpus_n", "cpus_4n", "turns_per_sec_n",
                "turns_per_sec_4n", "samples_n", "samples_4n", "wall_s",
            )
        }
        compact["scaling"]["failed"] = len(s["failed"])
        if detail_ok:
            compact["scaling"]["detail"] = DETAIL_FILE
    elif detail_ok:
        compact["detail"] = DETAIL_FILE

    # hard size guard: degrade gracefully (drop sample lists first, then
    # per-query timings) rather than ever printing an unparseable line
    line = json.dumps(compact)
    if len(line) > MAX_DRIVER_LINE and "scaling" in compact:
        compact["scaling"].pop("samples_n", None)
        compact["scaling"].pop("samples_4n", None)
        line = json.dumps(compact)
    if len(line) > MAX_DRIVER_LINE:
        compact["queries"] = {
            k: compact["queries"][k]
            for k in sorted(
                compact["queries"], key=compact["queries"].get, reverse=True
            )[:20]
        }
        compact["queries_truncated_see_detail"] = True
    return compact


if __name__ == "__main__":
    main()
