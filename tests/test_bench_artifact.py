"""The driver-facing bench line must stay parseable and small.

Round 4's artifact recorded ``parsed: null`` because the single printed
JSON line (per-trial logs + protocol prose) outgrew the driver's stdout
capture — the whole round's suite/pipeline/size_scaling numbers were
lost.  These tests pin the fix: verbose evidence goes to
``BENCH_DETAIL.json``; the printed line is scalars-only and bounded.

The scaling tests pin ``run_scaling``'s fixed schedule with a stub trial
runner (no Spark, no subprocess): what runs never depends on a measured
rate.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

import bench


@pytest.fixture(autouse=True)
def _redirect_detail_file(monkeypatch):
    # never clobber a real bench run's evidence file with test data
    monkeypatch.setattr(bench, "DETAIL_FILE", "BENCH_DETAIL_TEST.json")
    yield
    p = os.path.join(os.path.dirname(bench.__file__), "BENCH_DETAIL_TEST.json")
    if os.path.exists(p):
        os.remove(p)


def _full_result(n_queries: int = 29) -> dict:
    return {
        "metric": "headline_suite_sec",
        "value": 42.0,
        "unit": "sec",
        "queries": {f"some_longish_query_name_{i:02d}": 3.141 for i in range(n_queries)},
        "sf": 0.1,
        "cpus": 4,
        "pipeline_turns": 449607,
        "pipeline_turns_per_sec": 46832.1,
        "size_scaling": [
            {"convs": 60000, "turns": 449607, "sec": 9.6, "turns_per_sec": 46832.1},
            {"convs": 150000, "turns": 1124000, "sec": 15.2, "turns_per_sec": 73947.4},
            {"convs": 500000, "turns": 3750000, "sec": 36.9, "turns_per_sec": 101626.0},
        ],
        "scaling": {
            "cpus_n": 1,
            "cpus_4n": 4,
            "convs": 20000,
            "shuffle_partitions": 8,
            "order": [1, 4, 4, 1, 1, 4],
            "samples_n": [7712.4, 7511.0, 7650.3],
            "samples_4n": [22648.9, 21000.2, 21888.1],
            "pass_secs_n": [[19.41, 19.6, 19.9]] * 3,
            "pass_secs_4n": [[6.61, 6.8, 7.1]] * 3,
            "warmup_secs_n": [[28.0, 22.2]] * 3,
            "warmup_secs_4n": [[7.9, 6.4]] * 3,
            "turns_per_sec_n": 7650.3,
            "turns_per_sec_4n": 21888.1,
            "efficiency": 0.715,
            "failed": [],
            "wall_s": 702.4,
        },
    }


def test_compact_line_bounded_and_parseable(tmp_path, monkeypatch):
    full = _full_result()
    compact = bench._compact_for_driver(full)
    line = json.dumps(compact)
    assert len(line) <= bench.MAX_DRIVER_LINE
    back = json.loads(line)
    # the criterion evidence MUST survive in the parsed driver artifact
    s = back["scaling"]
    assert s["efficiency"] == 0.715
    assert s["samples_n"] == [7712.4, 7511.0, 7650.3]
    assert s["samples_4n"] and s["wall_s"] == 702.4 and s["failed"] == 0
    assert len(back["size_scaling"]) == 3
    assert back["queries"]  # per-query timings present
    # nothing verbose leaks into the line
    assert "pass_secs_n" not in s and "warmup_secs_4n" not in s
    # the detail side file carries every pass time
    detail_path = os.path.join(os.path.dirname(bench.__file__), bench.DETAIL_FILE)
    with open(detail_path) as f:
        detail = json.load(f)
    assert detail["scaling"] == full["scaling"]
    assert s.get("detail") == bench.DETAIL_FILE


def test_compact_line_degrades_rather_than_overflows():
    # pathological: 120 queries with long names — the guard must trim,
    # never print an unparseable or oversized line
    full = _full_result(n_queries=120)
    compact = bench._compact_for_driver(full)
    line = json.dumps(compact)
    assert len(line) <= bench.MAX_DRIVER_LINE
    json.loads(line)


def test_no_scaling_block_still_compact():
    full = _full_result()
    del full["scaling"]
    del full["size_scaling"]
    compact = bench._compact_for_driver(full)
    line = json.dumps(compact)
    assert len(line) <= bench.MAX_DRIVER_LINE
    assert json.loads(line)["value"] == 42.0


def _stub_trial(rate_n: float, rate_4n: float, calls: list):
    """A trial runner that records (width, shuffle) and returns a child line
    whose rate depends on the trial index, so the medians are checkable."""

    def trial(width: int, shuffle: int) -> dict:
        calls.append((width, shuffle))
        k = len(calls)
        rate = (rate_n if width == 1 else rate_4n) * (1 + k / 100)
        return {
            "pipeline_turns_per_sec": rate,
            "pipeline_sample_secs": [float(k)] * bench.TIMED_PASSES,
            "pipeline_warmup_secs": [float(-k)] * bench.WARMUP_PASSES,
        }

    return trial


@pytest.fixture
def four_cores(monkeypatch):
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    monkeypatch.setattr(bench.shutil, "which", lambda name: "/usr/bin/" + name)


def test_scaling_schedule_is_fixed_and_ships_every_sample(four_cores):
    seqs = []
    for rate_4n in (2000.0, 4000.0):  # efficiency ~0.5, then ~1.0
        calls: list = []
        res = bench.run_scaling(cpus=4, trial=_stub_trial(1000.0, rate_4n, calls))
        seqs.append(calls)
        # K pairs per width in the alternating order, one shuffle count
        assert [w for w, _ in calls] == [1, 4, 4, 1, 1, 4]
        assert len({sh for _, sh in calls}) == 1
        assert res["order"] == [1, 4, 4, 1, 1, 4]
        # every sample ships, in run order
        assert res["samples_n"] == [1000.0 * 1.01, 1000.0 * 1.04, 1000.0 * 1.05]
        assert res["samples_4n"] == [rate_4n * 1.02, rate_4n * 1.03, rate_4n * 1.06]
        assert res["pass_secs_n"] == [[1.0] * 3, [4.0] * 3, [5.0] * 3]
        w = bench.WARMUP_PASSES
        assert res["warmup_secs_4n"] == [[-2.0] * w, [-3.0] * w, [-6.0] * w]
        # median(4N) / (4 * median(N))
        assert res["turns_per_sec_n"] == 1000.0 * 1.04
        assert res["turns_per_sec_4n"] == rate_4n * 1.03
        assert res["efficiency"] == round(rate_4n * 1.03 / (4 * 1000.0 * 1.04), 3)
        assert res["failed"] == []
    # a passing and a failing reading run the identical schedule
    assert seqs[0] == seqs[1]


def test_scaling_failed_trial_is_recorded_not_retried(four_cores):
    calls: list = []
    ok = _stub_trial(1000.0, 3000.0, calls)

    def trial(width, shuffle):
        if len(calls) == 1:
            calls.append((width, shuffle))
            raise bench.subprocess.CalledProcessError(1, "bench.py")
        return ok(width, shuffle)

    res = bench.run_scaling(cpus=4, trial=trial)
    assert [w for w, _ in calls] == [1, 4, 4, 1, 1, 4]
    assert len(res["samples_4n"]) == 2 and len(res["samples_n"]) == 3
    assert res["failed"][0]["cpus"] == 4


def test_scaling_none_without_taskset_or_four_cores(four_cores, monkeypatch):
    def never(width, shuffle):
        raise AssertionError("no trial may run")

    assert bench.run_scaling(cpus=3, trial=never) is None
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0, 1})
    assert bench.run_scaling(cpus=4, trial=never) is None
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    monkeypatch.setattr(bench.shutil, "which", lambda name: None)
    assert bench.run_scaling(cpus=4, trial=never) is None
