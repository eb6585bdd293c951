"""Spans and per-layer counters for the benchmark.

Spans are recorded in memory by the benchmark's own code, around its
calls into each layer of the engine, and written out when the run ends.

Per-op counters are read from outside the engine, only in traced runs,
after the op has finished:

* Spark's status store (jobs, stages, task metrics) through the
  ``AppStatusStore`` of the running ``SparkContext``;
* the SQL status store (the final adaptive plan of every SQL execution
  the op started, with its ``SQLMetric`` values);
* the block manager's view of persisted RDDs.

Jobs and executions are attributed to an op by id range, not only by
job group: the engine starts some jobs from its own worker threads,
which do not inherit the caller's job group.
"""

from __future__ import annotations

import gc
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Spans:
    """Spans of one run: [name, start_s, end_s, parent index, op id]."""

    t0: float = field(default_factory=time.perf_counter)
    rows: list[list] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def open(self, name: str, op: str = "") -> int:
        parent = self._stack[-1] if self._stack else -1
        self.rows.append([name, time.perf_counter() - self.t0, None, parent, op])
        self._stack.append(len(self.rows) - 1)
        return len(self.rows) - 1

    def close(self, idx: int) -> float:
        """Close span ``idx`` (and any left open inside it); return its
        duration in seconds."""
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        row = self.rows[idx]
        row[2] = time.perf_counter() - self.t0
        return row[2] - row[1]

    def as_records(self) -> list[dict]:
        return [
            {"name": n, "start": round(s, 6), "end": None if e is None else round(e, 6),
             "parent": p, "op": op}
            for n, s, e, p, op in self.rows
        ]


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """The leading value of one formatted ``SQLMetric`` (for aggregated
    metrics, the total), in bytes for sizes, milliseconds for times and
    plain units otherwise."""
    m = _NUM.search(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


# (layer metric, SQLMetric display name) summed over the plan's nodes
_PLAN_SUMS = [
    ("sources.scan_ms", "scan time"),
    ("operators.broadcast_build_ms", "time to collect"),
    ("operators.broadcast_build_ms", "time to build"),
    ("operators.broadcast_build_ms", "time to broadcast"),
    ("python.eval_ms", "time to run Python workers"),
    ("python.boot_ms", "time to start Python workers"),
    ("python.boot_ms", "time to initialize Python workers"),
    ("python.bytes_sent", "data sent to Python workers"),
    ("python.bytes_received", "data returned from Python workers"),
]


class Collector:
    """Reads one op's counters from the status stores of ``spark``."""

    def __init__(self, spark: SparkSession, cores: int):
        self.cores = cores
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_exec = 0
        self.mark()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _scan_ids(self, start: int, lookup) -> list:
        """Objects for consecutive ids from ``start`` until three ids in a
        row are missing."""
        found, misses, i = [], 0, start
        while misses < 3:
            obj = lookup(i)
            if obj is None:
                misses += 1
            else:
                found.append(obj)
                misses = 0
            i += 1
        return found

    def _job(self, i: int):
        try:
            return self._app.job(i)
        except Exception:  # py4j: NoSuchElementException for unknown ids
            return None

    def _execution(self, i: int):
        opt = self._sql.execution(i)
        return opt.get() if opt.isDefined() else None

    def mark(self) -> None:
        """Advance past every job and execution seen so far."""
        self._drain()
        jobs = self._scan_ids(self._next_job, self._job)
        if jobs:
            self._next_job = max(j.jobId() for j in jobs) + 1
        execs = self._scan_ids(self._next_exec, self._execution)
        if execs:
            self._next_exec = max(e.executionId() for e in execs) + 1

    def plan_texts(self) -> list[str]:
        """Physical plan descriptions of the SQL executions started since
        the last :meth:`mark`."""
        self._drain()
        return [e.physicalPlanDescription() for e in self._scan_ids(self._next_exec, self._execution)]

    def collect(self, op_start_wall: float, op_end_wall: float, build_end_wall: float) -> dict:
        """Counters of everything run since the last :meth:`mark`, then
        mark. ``*_wall`` are ``time.time()`` stamps of the op's start and
        end and of the end of its plan build."""
        self._drain()
        jobs = self._scan_ids(self._next_job, self._job)
        execs = self._scan_ids(self._next_exec, self._execution)
        out: dict[str, float] = {"spark.jobs": float(len(jobs))}
        stage_ids: set[int] = set()
        intervals = []
        for j in jobs:
            stage_ids.update(int(s) for s in _seq(j.stageIds()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else op_end_wall
                intervals.append((sub.get().getTime() / 1e3, end))
        keys = [
            ("spark.executor_run_ms", "executorRunTime", 1.0),
            ("spark.executor_cpu_ms", "executorCpuTime", 1e-6),
            ("spark.gc_ms", "jvmGcTime", 1.0),
            ("sources.scan_bytes", "inputBytes", 1.0),
            ("sources.scan_rows", "inputRecords", 1.0),
            ("operators.shuffle_write_bytes", "shuffleWriteBytes", 1.0),
            ("operators.shuffle_read_bytes", "shuffleReadBytes", 1.0),
            ("operators.shuffle_records", "shuffleWriteRecords", 1.0),
            ("operators.spill_bytes", "diskBytesSpilled", 1.0),
            ("operators.peak_mem_bytes", "peakExecutionMemory", 1.0),
        ]
        for k, _, _ in keys:
            out[k] = 0.0
        stages = tasks = 0
        for sid in sorted(stage_ids):
            try:
                sd = self._app.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += sd.numCompleteTasks()
            for k, attr, scale in keys:
                out[k] += float(getattr(sd, attr)()) * scale
        out["spark.stages"] = float(stages)
        out["spark.tasks"] = float(tasks)
        wall = max(op_end_wall - op_start_wall, 1e-9)
        out["spark.core_busy_frac"] = out["spark.executor_run_ms"] / 1e3 / (wall * self.cores)
        out["spark.driver_only_s"] = wall - _covered(intervals, op_start_wall, op_end_wall)

        plan = {k: 0.0 for k, _ in _PLAN_SUMS}
        join_rows = 0.0
        for e in execs:
            eid = e.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for name, metrics in plan_nodes(dot):
                for key, metric_name in _PLAN_SUMS:
                    if metric_name in metrics:
                        plan[key] += parse_metric(metrics[metric_name])
                if "Join" in name and "number of output rows" in metrics:
                    join_rows = max(join_rows, parse_metric(metrics["number of output rows"]))
        out.update(plan)
        out["operators.candidate_rows"] = join_rows
        out["sql.executions"] = float(len(execs))
        build_end_ms = build_end_wall * 1e3
        out["queries.plan_build_jobs"] = float(sum(
            1 for j in jobs
            if j.submissionTime().isDefined() and j.submissionTime().get().getTime() < build_end_ms
        ))
        del jobs, execs
        self.mark()
        # Release the JVM object proxies now, not during the next op.
        gc.collect()
        return out

    def cache_bytes(self) -> float:
        """Bytes held by persisted RDDs, in memory and on disk."""
        return float(sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo()))


_NODE = re.compile(r'label="(?:<br>)?<b>(.*?)</b><br><br>(.*?)" tooltip')


def plan_nodes(dot: str) -> list[tuple[str, dict[str, str]]]:
    """(node name, {metric name: formatted value}) for every node of a
    plan graph rendered by ``SparkPlanGraph.makeDotFile``."""
    out = []
    for m in _NODE.finditer(dot):
        parts = m.group(2).split("<br>") if m.group(2) else []
        metrics, i = {}, 0
        while i < len(parts):
            key, _, value = parts[i].partition(": ")
            if value.startswith("total (") and i + 1 < len(parts):
                i += 1  # aggregated: the totals are on the next line
                value = parts[i]
            metrics[key] = value
            i += 1
        out.append((m.group(1).strip(), metrics))
    return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
