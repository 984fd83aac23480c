"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

They pin ``BENCHMARK.json`` to the metric names the code emits and to the
file's name grammar, pin the cached input to
``fixtures.generate_transcripts_distributed``, and run the benchmark on
two seeds: the input must change and the correctness gate must still read
``keep_f1`` = ``scrub_exact_ratio`` = 1.0.  The last two start Spark and
take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, inputs, layers, run  # noqa: E402
from perfbench.trace import parse_metric  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_pins_names_units_and_grammar():
    b = _bench()
    assert set(b) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert "\n" not in w["why"] and len(w["why"]) <= 200
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.END_TO_END
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("higher", "lower")
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {
        n: u for n, (u, _moves) in layers.PER_LAYER.items()
    }
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + list(WORKLOADS)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]), m["unit"]
    assert len(json.dumps(b)) <= 64 * 1024


def test_every_per_layer_metric_names_what_it_should_move():
    e2e = set(run.END_TO_END)
    for name, (_unit, moves) in layers.PER_LAYER.items():
        # only the streaming layer has no end-to-end workload left to move
        assert moves or name.startswith("streaming."), name
        for target in moves:
            workload, _, metric = target.partition("/")
            assert workload in WORKLOADS or workload == "all", target
            assert metric in e2e, target


@pytest.mark.parametrize(
    "text, value",
    [
        ("808 ms", 0.808),
        ("1.3 s", 1.3),
        ("2.0 m", 120.0),
        ("5,000", 5000.0),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, "
         "1.0 KiB (stage 1.0: task 3))", 2048.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_cached_rows_are_the_distributed_generators_rows(monkeypatch):
    from data_caterer_spark.fixtures import generate_transcripts_distributed

    # make_run_dir points the process's temp and Spark dirs into the run
    # dir; undo that after the test
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    for var in ("TMPDIR", "SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_LOCAL_DIRS"):
        if var in os.environ:
            monkeypatch.setenv(var, os.environ[var])
        else:
            monkeypatch.delenv(var, raising=False)
    run_dir = common.make_run_dir()
    spark = common.start_spark(run_dir, "perfbench-selftest")
    try:
        seed, chunks = 5, 2
        got = generate_transcripts_distributed(
            spark,
            n_convs=chunks * inputs.CONVS_PER_CHUNK,
            seed=seed,
            convs_per_task=inputs.CONVS_PER_CHUNK,
        ).collect()
    finally:
        common.stop_spark(spark)
        common.remove(run_dir)
    want = [r for c in range(chunks) for r in inputs.chunk_rows(seed, c)]

    def key(r):
        return tuple(str(r[c]) for c in inputs.COLUMNS)

    assert sorted(key(r.asDict()) for r in got) == sorted(key(r) for r in want)


def _run(workload: str, seed: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def test_another_seed_changes_input_and_keeps_the_gate():
    fingerprints = []
    for seed in (101, 102):
        p = _run("batch_filter", seed)
        assert p.returncode == 0, p.stderr[-3000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert set(result["metrics"]) == set(run.END_TO_END)
        assert result["metrics"]["keep_f1"]["value"] == 1.0
        assert result["metrics"]["scrub_exact_ratio"]["value"] == 1.0
        fingerprints.append(inputs.load(seed)["fingerprint"])
    assert fingerprints[0] != fingerprints[1]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run("batch_filter", 1, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
