"""Per-query wall-time census at $SPARK_GRAFT_SF_DIR (default
sf0.1) — one timed count per declared query, slowest-first summary
and a CEILING CHECK at the end. NOT a benchmark (single run, shared
session, cache swept between queries): use it to FIND outliers worth
a real a/b, like the r10 findings (the 95 s InferFiltersFromGenerate
index build; the 455 s all-pairs-edge clustering queries). Run on a
quiet machine.

Round-end ritual (r11+): exits NONZERO if any query NOT tagged
``sf_bounded_oracle_twin`` exceeds the ceiling (the constant
``CEILING_S``, 30 s) or errors. The twin tag marks
deliberate sf-bounded ground-truth arms (exact all-pairs Jaccard /
cosine, recursive-CTE closures) that are quadratic BY DESIGN and
guarded against production sizes — they are reported but exempt.
"""

import os
import sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from oamap_spark.session import get_spark
import oamap_spark.queries as Q
from oamap_spark.queries.registry import all_specs
from oamap_spark import cache

CEILING_S = 30.0
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

spark = get_spark()
specs = all_specs()
rows = []
errors = []
for name, spec in specs.items():
    twin = "sf_bounded_oracle_twin" in (spec.tags or ())
    try:
        t0 = time.perf_counter()
        n = spec.fn(spark, SF_DIR).count()
        dt = time.perf_counter() - t0
        rows.append((dt, name, n, twin))
        flag = " [twin]" if twin else ""
        print(f"{dt:8.2f}s {name} ({n} rows){flag}", flush=True)
    except Exception as ex:
        errors.append(name)
        print(f"ERROR {name}: {str(ex)[:200]}", flush=True)
    cache.sweep(); spark.catalog.clearCache()
rows.sort(reverse=True)
print("\nTOP 15 SLOWEST:")
for dt, name, n, twin in rows[:15]:
    print(f"{dt:8.2f}s {name}{' [twin]' if twin else ''}")

over = [(dt, name) for dt, name, n, twin in rows if not twin and dt > CEILING_S]
print(f"\nCEILING {CEILING_S:.0f}s (non-twin): "
      f"{'OK' if not over and not errors else 'VIOLATED'}")
for dt, name in sorted(over, reverse=True):
    print(f"  OVER {dt:8.2f}s {name}")
for name in errors:
    print(f"  ERR  {name}")
spark.stop()
sys.exit(1 if (over or errors) else 0)
