"""Compare two sets of benchmark records.

    python3 perfbench/compare.py A B

``A`` and ``B`` are record files or directories of them, as written by
``run.py`` to ``.perfbench/records/``. For every workload this prints
each end-to-end metric's median and quartiles on both sides (untraced
records), the tracing overhead where a side has traced and untraced
records, then the per-op counters that differ between the sides (traced
records), and the verdict those counters give: the plan changed, or
only the walls moved.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "sources.scan_rows",
    "operators.shuffle_records",
    "operators.candidate_rows",
)


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def op_counters(records: list[dict]) -> dict[str, dict[str, float]]:
    """Median of each counter per op kind over the traced records."""
    per: dict[str, dict[str, list[float]]] = {}
    for r in records:
        for o in r["ops"]:
            c = per.setdefault(o["kind"], {})
            for k in COUNTERS:
                c.setdefault(k, []).append(o.get("counters", {}).get(k, 0.0))
    return {kind: {k: statistics.median(v) for k, v in c.items()} for kind, c in per.items()}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    for w in sorted({r["workload"] for r in a + b}):
        print(f"== {w}")
        ua = [r for r in a if r["workload"] == w and not r["trace"]]
        ub = [r for r in b if r["workload"] == w and not r["trace"]]
        print(f"  untraced runs: A {len(ua)}, B {len(ub)}")
        if ua and ub:
            for k in ua[0]["end_to_end"]:
                qa = quartiles([r["end_to_end"][k] for r in ua])
                qb = quartiles([r["end_to_end"][k] for r in ub])
                spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
                delta = (qb[1] / qa[1] - 1) if qa[1] else 0.0
                print(f"  {k:18s} A {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                      f"B {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
                      f"delta {delta * 100:+6.1f}%  A spread {spread * 100:.1f}%")
        ta = [r for r in a if r["workload"] == w and r["trace"]]
        tb = [r for r in b if r["workload"] == w and r["trace"]]
        print(f"  traced runs: A {len(ta)}, B {len(tb)}")
        for side, traced, plain in (("A", ta, ua), ("B", tb, ub)):
            if traced and plain:
                t = statistics.median(r["end_to_end"]["mix_s"] for r in traced)
                u = statistics.median(r["end_to_end"]["mix_s"] for r in plain)
                print(f"  {side} tracing overhead on mix_s: {(t / u - 1) * 100:+.1f}%")
        if not (ta and tb):
            continue
        ca, cb = op_counters(ta), op_counters(tb)
        changed = 0
        for kind in sorted(set(ca) | set(cb)):
            for k in COUNTERS:
                x, y = ca.get(kind, {}).get(k), cb.get(kind, {}).get(k)
                if x != y:
                    changed += 1
                    print(f"  {kind:40s} {k:28s} {x} -> {y}")
        print("  verdict:", "plan changed (counters differ)" if changed
              else "counters equal: wall differences are noise or speed, not plan")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
