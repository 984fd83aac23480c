"""Shared settings for the benchmark: input size, on-disk layout, and the
Spark session every benchmark process starts.

Everything the benchmark writes lives under ``.bench_cache/`` at the root
of the checkout it runs from (the directory is git-ignored): the cached
inputs and golden labels, per-run scratch directories, Spark's local and
checkpoint directories, and trace files.
"""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")

# 10k conversations is ~75k turns: enough shuffle bytes that AQE keeps
# ~4 partitions for the Arrow scoring stage, so a pass uses every core
# (at ~18k turns it ran as one serial task and passes varied ~35% between
# runs).  The ceiling is the run budget: a full sweep is 4 + 22 runs per
# workload in 57 minutes, so one run (session start, warm-up, the timed
# window, the correctness gate and, for a new seed, input synthesis) must
# average about a minute on 4 cores.
N_CONVS = 10000
SYNTH_CHUNKS = 8
# the streaming probe's source: STREAM_FILES files of 1% of the rows each
STREAM_FILES = 8
SHUFFLE_PARTITIONS = 8
# ~37k turns per resume group, the group size of 8 groups over 300k turns.
# At 4 groups of ~19k turns AQE ran each group's Arrow stage as one serial
# task: a pass idled 60% of its core-time and ran ~4k turns/s, half the
# rate of 2 groups.
N_GROUPS = 2
# untimed full-size passes before the timed window.  The JVM keeps
# compiling for passes after the cold one: batch_filter ran 6.5k, 17k,
# then 21-25k turns/s per pass.  resume_write's first pass after the
# cold one ran 5-10% below the next, but a second warm pass costs 12 s a
# run when the host is slow, which the run budget does not hold.
WARM_PASSES = {"batch_filter": 3, "resume_write": 1}


def cpus() -> int:
    return os.cpu_count() or 1


def input_dir(seed: int) -> str:
    return os.path.join(CACHE, "inputs", f"s{seed}_c{N_CONVS}")


def make_run_dir() -> str:
    """Fresh per-process scratch directory; also made the process's temp
    dir so nothing Spark or Python creates lands outside the checkout."""
    base = os.path.join(CACHE, "run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"p{os.getpid()}_", dir=base)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(run_dir, "ckpt")
    # the environment form wins over spark.local.dir, so set both
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    return run_dir


def start_spark(run_dir: str, app_name: str):
    """``config.get_spark`` at ``local[nproc]`` with the fixed shuffle
    partition count and every Spark directory inside ``run_dir``."""
    from data_caterer_spark.config import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Kernel high-water marks: the Spark JVM's VmHWM plus this driver
    process's ``ru_maxrss``."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
