"""bench.py's single timing loop, exercised with fake thunks and a fake
clock — no SparkSession involved."""

from __future__ import annotations

import os
import subprocess
import sys
import types

import bench


class FakeClock:
    def __init__(self) -> None:
        self.now = 0.0

    def perf_counter(self) -> float:
        return self.now

    def advance(self, seconds: float) -> None:
        self.now += seconds


def test_measure_times_best_of_n_excluding_prepare_then_cleans_up(monkeypatch):
    # importing the harness must not start a JVM (checked in a fresh
    # interpreter: this one may already hold the suite's session)
    code = (
        "import bench\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    subprocess.run([sys.executable, "-c", code], check=True, cwd=repo, timeout=60)

    clock = FakeClock()
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=clock.perf_counter))
    events: list[str] = []
    recorder = bench.Recorder(lambda: events.append("cleanup"))

    durations = iter([0.5, 0.2, 0.3, 0.4, 0.1])

    def run(prepared=None):
        events.append(f"run:{prepared}")
        clock.advance(next(durations))
        return 7

    def prepare():
        events.append("prepare")
        clock.advance(100.0)  # untimed: must not show up in any run
        return "fact"

    signals = []
    recorder.measure("a", run, 3, signal=lambda label, rows: signals.append((label, rows)))
    recorder.measure("b", run, 2, prepare=prepare)

    assert recorder.all_runs == {"a": [0.5, 0.2, 0.3], "b": [0.4, 0.1]}
    assert recorder.timings == {"a": 0.2, "b": 0.1}
    assert signals == [("a", 7)]
    # cleanup once per label, after that label's runs
    assert events == [
        "run:None", "run:None", "run:None", "cleanup",
        "prepare", "run:fact", "prepare", "run:fact", "cleanup",
    ]

    # measuring a label again (the noisy-window retry) appends its runs
    # and keeps the best over all of them
    durations = iter([0.05])
    recorder.measure("a", run, 1)
    assert recorder.all_runs["a"] == [0.5, 0.2, 0.3, 0.05]
    assert recorder.timings["a"] == 0.05

