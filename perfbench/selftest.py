"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Run from the repository root. Two checks on every workload of
``BENCHMARK.json``, with seed ``SEED`` and its ``run_seconds``; exit code
0 when both pass:

1. The timed action computes the real result: the executed plan of the
   ``noop`` write of ``q1_pricing_summary`` keeps its ``sum(`` aggregates,
   which the plan of ``count()`` on the same frame drops.
2. Counters repeat: two traced runs of one seed report identical
   ``spark.jobs``, ``spark.stages`` and ``spark.tasks`` for every op they
   share (on ``steady_stream`` that includes ``streaming.batch_jobs``).
   One more untraced run of that seed gives the traced run's overhead
   on the end-to-end metrics.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SEED = 7
EXACT = ("spark.jobs", "spark.stages", "spark.tasks")


def check_plan(root: str) -> list[str]:
    """Check 1; returns the failures."""
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"selftest-{os.getpid()}")
    run.use_run_dir(work, run.CORES)
    import datagen
    import tracing
    import workloads

    from oamap_spark.queries import registry
    from oamap_spark.session import get_spark

    spark = get_spark("perfbench-selftest", cpus=run.CORES)
    try:
        data_dir = os.path.join(work, "data")
        datagen.generate(data_dir, 1, 0.001, 50, 10)
        df = registry.all_specs()["q1_pricing_summary"].fn(spark, data_dir)
        col = tracing.Collector(spark, 1)
        workloads.materialize(df, "selftest_q1")
        timed = "\n".join(col.plan_texts())
        counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    finally:
        run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    fails = []
    if "sum(l_quantity" not in timed:
        fails.append("timed q1 plan lost its sum(l_quantity) aggregate")
    if "sum(l_quantity" in counted:
        fails.append("count() plan of q1 unexpectedly keeps sum(l_quantity)")
    return fails


def _run(root: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    before = set(glob.glob(os.path.join(root, ".perfbench", "records", "*.json")))
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    (path,) = set(glob.glob(os.path.join(root, ".perfbench", "records", "*.json"))) - before
    with open(path) as f:
        return json.load(f)


def check_counters(root: str, workload: str, seed: int, seconds: float) -> list[str]:
    """Check 2 for one workload; prints the traced-run overhead."""
    a, b = (_run(root, workload, seed, seconds, 1) for _ in range(2))
    plain = _run(root, workload, seed, seconds, 0)
    ops_b = {o["op"]: o for o in b["ops"]}
    fails, shared = [], 0
    for o in a["ops"]:
        other = ops_b.get(o["op"])
        if other is None:
            continue
        shared += 1
        for k in EXACT:
            x, y = o["counters"].get(k), other["counters"].get(k)
            if x != y:
                fails.append(f"{workload} {o['op']}: {k} {x} != {y}")
    if not shared:
        fails.append(f"{workload}: the two traced runs share no op")
    for k, v in plain["end_to_end"].items():
        t = a["end_to_end"][k]
        print(f"{workload}: traced/untraced {k} {t:.4g}/{v:.4g} ({(t / v - 1) * 100:+.1f}%)")
    print(f"{workload}: {shared} ops compared, collect {a['per_layer']['trace.collect_s']:.3f} s/op")
    return fails


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    fails = check_plan(root)
    print("plan check:", "FAIL" if fails else "ok")
    for w in bench["workloads"]:
        fails += check_counters(root, w["name"], SEED, bench["run_seconds"])
    for f in fails:
        print("FAIL", f)
    print("selftest:", "FAIL" if fails else "ok")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
