"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 12 --trace 0

Run it from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench/``, starts one Spark session on
``local[<cores>]``, sets up (staging, oracle checks, warm-up), then
measures for ``--seconds`` and verifies every op. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer counters with
``--trace 1``. A full record of the run (every op, its counters and the
spans) is written to ``.perfbench/records/``; ``compare.py`` reads them.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# workload -> (input scale, documents, embedding vectors, tables one round
# reads). BENCHMARK.json lists only curation_batch and steady_stream:
# every run pays ~30 s of JVM start and cold warm-up, and three workloads
# left too little measuring time a run to be steady within the run
# budget. relational_nested runs the same way when named.
WORKLOADS = {
    "relational_nested": (0.01, 500, 500, [
        "lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events"]),
    "curation_batch": (0.001, 500, 500, ["documents", "embeddings"]),
    "steady_stream": (0.001, 1600, 10, ["documents"]),
}
STREAM_BATCH_DOCS = 80  # 20 arrival batches: setup folds the first 4,
STREAM_WARM_BATCHES = 4  # the timed loop as many more as its time allows
# Spark task slots: half the cores. The driver thread, the JIT compiler
# threads (about 0.6 of a core while timing, measured) and the Python
# process share the rest. In one interleaved comparison on a shared
# 4-core host the stream's batch time spread 48% between runs with a slot
# on every core and 7% with two slots.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)

END_TO_END = {
    "setup_s": "s",
    "mix_s": "s",
    "query_geomean_s": "s",
    "batch_s_p50": "s",
    "docs_per_s": "docs/s",
}
# per-layer metric -> unit; counters are means per timed op
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "queries.plan_build_s": "s",
    "queries.plan_build_jobs": "count",
    "queries.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.core_busy_frac": "ratio",
    "spark.driver_only_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.scan_ms": "ms",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_records": "count",
    "operators.broadcast_build_ms": "ms",
    "operators.spill_bytes": "bytes",
    "operators.peak_mem_bytes": "bytes",
    "operators.candidate_rows": "count",
    "operators.verify_ratio": "ratio",
    "python.eval_ms": "ms",
    "python.boot_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "cache.tracked_frames": "count",
    "cache.persisted_bytes": "bytes",
    "cache.sweep_s": "s",
    "streaming.batch_jobs": "count",
    "streaming.probe_s": "s",
    "streaming.fold_s": "s",
    "streaming.state_bytes": "bytes",
    "streaming.write_amp": "ratio",
    "streaming.pairs_out": "count",
    "failed_ops_frac": "ratio",
    "trace.collect_s": "s",
}


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _reset_hwm(pid: int) -> None:
    """Restart the VmHWM of process ``pid`` from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ops: list[dict], session_s: float, cores: int, stream: bool) -> dict:
    """Per-layer metrics from the traced ops: means per op, and ratios
    of totals."""
    c = [o.get("counters", {}) for o in ops]
    out = {k: _mean(x.get(k, 0.0) for x in c) for k in PER_LAYER if "." in k}
    out["session.start_s"] = session_s
    out["queries.plan_build_s"] = _mean(o.get("build_s", 0.0) for o in ops)
    out["queries.action_s"] = _mean(o.get("action_s", 0.0) for o in ops)
    run_s = sum(x.get("spark.executor_run_ms", 0.0) for x in c) / 1e3
    out["spark.core_busy_frac"] = run_s / (sum(o["wall"] for o in ops) * cores)
    cand = [(o.get("rows", 0), x.get("operators.candidate_rows", 0.0)) for o, x in zip(ops, c)]
    cand_rows = sum(k for _, k in cand if k > 0)
    out["operators.verify_ratio"] = sum(r for r, k in cand if k > 0) / cand_rows if cand_rows else 0.0
    out["cache.sweep_s"] = _mean(o["sweep_s"] for o in ops)
    if stream:
        out["streaming.batch_jobs"] = out["spark.jobs"]
        out["streaming.probe_s"] = _mean(o.get("probe_s", 0.0) for o in ops)
        out["streaming.fold_s"] = _mean(o["wall"] - o.get("probe_s", 0.0) for o in ops)
        out["streaming.state_bytes"] = _mean(o.get("state_bytes", 0) for o in ops)
        arrival = sum(o.get("arrival_bytes", 0) for o in ops)
        out["streaming.write_amp"] = sum(o.get("state_added", 0) for o in ops) / arrival if arrival else 0.0
        out["streaming.pairs_out"] = _mean(o.get("pairs_out", 0) for o in ops)
    else:
        for k in PER_LAYER:
            if k.startswith("streaming."):
                out[k] = 0.0
    out["failed_ops_frac"] = sum(not o["ok"] for o in ops) / len(ops)
    out["trace.collect_s"] = _mean(o.get("collect_s", 0.0) for o in ops)
    return out


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def use_run_dir(work: str, cores: int) -> None:
    """Point everything Spark, Python and the engine's staging write at
    ``work``, and size the session to ``cores``. Call before the first
    Spark session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_SUBMIT_ARGS=(
            # no perf-data file is written to the host's /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "oamap_spark", "__init__.py")):
        print("perfbench: run from the repository root (oamap_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    cores = CORES
    use_run_dir(work, cores)

    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import tracing as tr
    import workloads as wl

    scale, n_docs, n_vecs, tables = WORKLOADS[args.workload]
    stream = args.workload == "steady_stream"
    spans = tr.Spans(t0=T_START)
    spark = None
    try:
        span = spans.open("datagen")
        data_dir = os.path.join(work, "data")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), data_dir,
             str(args.seed), str(scale), str(n_docs), str(n_vecs)]
            + ([str(STREAM_BATCH_DOCS)] if stream else []),
            check=True,
        )
        spans.close(span)

        from oamap_spark.session import get_spark

        span = spans.open("session")
        spark = get_spark("perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = spans.close(span)

        collector = tr.Collector(spark, cores) if args.trace else None
        ctx = wl.Ctx(spark, data_dir, work, args.seed, spans, collector)
        workload = (
            wl.SteadyStream(STREAM_BATCH_DOCS, STREAM_WARM_BATCHES) if stream
            else wl.QueryMix(wl.RELATIONAL if args.workload == "relational_nested" else wl.CURATION,
                             tables)
        )
        span = spans.open("setup")
        workload.setup(ctx)
        spans.close(span)
        setup_s = time.perf_counter() - T_START
        # peak_rss_mb covers the timed ops only, not the DuckDB oracle
        # and the staging that setup ran in this process. The JVM keeps
        # the engine's heap settings, so the figure follows G1's heap
        # sizing from run to run; it is a per-layer metric, without a
        # bound.
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = {"driver_setup": _hwm_mb(os.getpid()), "jvm_setup": _hwm_mb(jvm_pid)}
        for pid in (os.getpid(), jvm_pid):
            _reset_hwm(pid)
        span = spans.open("measure")
        result = workload.run(ctx, args.seconds)
        spans.close(span)

        ops = ctx.ops
        failed = sum(not o["ok"] for o in ops)
        end_to_end = {k: result[k] for k in END_TO_END if k in result}
        end_to_end["setup_s"] = setup_s
        rss.update(driver=_hwm_mb(os.getpid()), jvm=_hwm_mb(jvm_pid))
        layers = {}
        if args.trace:
            layers = per_layer(ops, session_s, cores, stream)
            layers["peak_rss_mb"] = rss["driver"] + rss["jvm"]
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and not ctx.setup_failures
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "rounds": result["rounds"],
        "correct": correct,
        "setup_failures": ctx.setup_failures,
        "end_to_end": end_to_end,
        "peak_rss_mb": rss,
        "per_layer": layers,
        "ops": ops,
        "spans": spans.as_records(),
    }
    rec_dir = os.path.join(base, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    )
    with open(rec_path, "w") as f:
        json.dump(record, f)

    for msg in ctx.setup_failures + [f"{o['op']}: {o['err']}" for o in ops if not o["ok"]][:5]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    shown = layers if args.trace else end_to_end
    units = PER_LAYER if args.trace else END_TO_END
    for k, v in shown.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    print(f"# record: {os.path.relpath(rec_path, root)}  rounds={result['rounds']}  "
          f"median op {statistics.median(o['wall'] for o in ops):.3f}s")
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
