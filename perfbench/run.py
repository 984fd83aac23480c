"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_filter --seed 42 --seconds 20 --trace 0

Builds (or reuses) the cached input for ``--seed`` (``inputs.py``), starts
Spark at ``local[nproc]``, warms the workload up at full size, runs the
whole passes that fit in ``--seconds`` (at least two), gates the output
against the golden labels, and prints one JSON line as the last line of
standard output::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics below; ``--trace 1`` is the
separate traced run, which reports the per-layer metrics (``layers.py``)
and writes its spans to ``.bench_cache/traces/``.  A failed correctness
check exits non-zero without printing a result.

What keeps the figures steady: input synthesis and golden labelling are
cached per seed and never timed; ``setup_s`` is ``get_spark`` plus the
full-size warm-up passes, so the timed passes start once the JVM has
compiled the plan to its plateau rate; ``turns_per_s`` is the median over
every pass of the window; and peak memory is the kernel's high-water
mark, not a sample.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, inputs, layers  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# name -> unit; turns_per_s is input turns / pass wall time, median over
# the window's passes; setup_s excludes input synthesis and labelling
END_TO_END = {
    "turns_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "keep_f1": "ratio",
    "scrub_exact_ratio": "ratio",
}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    meta = inputs.load(seed)
    run_dir = common.make_run_dir()
    tracer = Tracer(enabled=trace)
    t0 = time.perf_counter()
    with tracer.span("config.get_spark"):
        spark = common.start_spark(run_dir, f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[workload](spark, meta, run_dir, tracer)
        w.warm_up()
        setup_s = time.perf_counter() - t0
        if trace:
            metrics, attempted = layers.traced_run(w, tracer, session_s)
            failed = 0
        else:
            win = w.measure(seconds)
            metrics = {
                "turns_per_s": statistics.median(win.pass_rates),
                "setup_s": setup_s,
            }
            attempted, failed = win.attempted, win.failed
            common.log(
                f"{workload}: session {session_s:.2f} s, setup {setup_s:.2f} s, "
                f"turns/s per pass {[round(r) for r in win.pass_rates]}"
            )
        t_gate = time.perf_counter()
        metrics.update(w.gate())
        common.log(f"{workload}: gate {time.perf_counter() - t_gate:.2f} s")
        if not trace:
            metrics["peak_rss_mb"] = common.peak_rss_mb(spark)
    finally:
        common.stop_spark(spark)
        if trace:
            os.makedirs(os.path.join(common.CACHE, "traces"), exist_ok=True)
            tracer.write(
                os.path.join(common.CACHE, "traces", f"{workload}-s{seed}.json")
            )
        common.remove(run_dir)
    return {
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        units = {name: unit for name, (unit, _moves) in layers.PER_LAYER.items()}
    else:
        units = END_TO_END
    result["metrics"] = {
        name: {"value": result["metrics"][name], "unit": unit}
        for name, unit in units.items()
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
