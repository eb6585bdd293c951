"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Every timing goes through one loop, ``Recorder.measure``: the registry
bench set, the noisy-window retry, and each row of the microbench
table built by ``microbenches()`` (the skew LSH, embedding,
incremental and containment pairs, the production ANN path, the Zipf
join pair and the Bloom prefilter pair). A label's timed region never
changes: the record is compared per label round over round, so a new
measurement gets a new label instead of editing an old one. The
quiet-load protocol's threshold and wait are module constants.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from collections.abc import Callable
from functools import partial
from typing import Any, NamedTuple

# Quiet-load protocol (SCALE.md): refuse to start measuring on a loaded
# box. Wait up to QUIET_WAIT_S for the 1-min load to drop under
# MAX_LOAD; if it never does, proceed but stamp ambient_load_warning
# into the record so the round-over-round diff knows it is dirty.
MAX_LOAD = 3.0
QUIET_WAIT_S = 120.0


def _wait_for_quiet(threshold: float, max_wait: float) -> tuple[float, float]:
    """Block until the 1-minute load average drops below ``threshold``
    or ``max_wait`` seconds pass; return (load_when_done, waited_sec).
    The r9 record was taken at loadavg 8.94 against the repo's own
    <3.0 quiet-run protocol (SCALE.md), smearing ~1.25× noise across
    half the headline set — the harness now enforces the protocol it
    documents instead of trusting the operator to."""
    waited = 0.0
    load = os.getloadavg()[0]
    while load > threshold and waited < max_wait:
        step = min(10.0, max_wait - waited)
        time.sleep(step)
        waited += step
        load = os.getloadavg()[0]
    return round(load, 2), round(waited, 1)


class Recorder:
    """Per-label timings of one harness run: ``timings`` holds the best
    run, ``all_runs`` every raw run in order (run 1 is the cold one).
    ``cleanup`` runs once after each label, so frames a label persisted
    never carry over into the next label's timed region."""

    def __init__(self, cleanup: Callable[[], None]) -> None:
        self.timings: dict[str, float] = {}
        self.all_runs: dict[str, list[float]] = {}
        self._cleanup = cleanup

    def measure(
        self,
        label: str,
        run: Callable[..., Any],
        n: int,
        prepare: Callable[[], Any] | None = None,
        signal: Callable[[str, Any], None] | None = None,
    ) -> None:
        """Time ``run()`` ``n`` times and record the best. ``prepare()``
        runs before each run, outside the timer, and its result is
        passed to ``run``. ``signal(label, result)`` gets the last
        run's result after the runs, also untimed and before cleanup.
        Measuring a label again (the noisy-window retry) appends to its
        runs and keeps the best over all of them."""
        runs: list[float] = []
        result = None
        for _ in range(n):
            args = () if prepare is None else (prepare(),)
            t0 = time.perf_counter()
            result = run(*args)
            runs.append(round(time.perf_counter() - t0, 4))
        if signal is not None:
            signal(label, result)
        self.all_runs.setdefault(label, []).extend(runs)
        self.timings[label] = min(self.all_runs[label])
        print(f"# {label}: {min(runs):.3f}s best of {runs} ({result} rows)", file=sys.stderr)
        self._cleanup()


@contextlib.contextmanager
def auto_broadcast_disabled(spark):
    """Force shuffle joins for the duration: at sf0.1 the join inputs
    of the Zipf and Bloom rows fit the broadcast threshold, which makes
    salting and prefiltering moot; the regime under test is the 100 TB
    big×big shuffle join."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class Micro(NamedTuple):
    """One microbench row, measured as ``Recorder.measure(label, run,
    n, prepare, signal)``; ``shuffle_join`` rows run under
    ``auto_broadcast_disabled``."""

    label: str
    n: int
    run: Callable[..., int]
    signal: Callable[[str, int], None] | None = None
    prepare: Callable[[], Any] | None = None
    shuffle_join: bool = False


def microbenches(spark, sf_dir: str) -> tuple[list[Micro], dict[str, dict]]:
    """The microbench table in run order, and the signal dicts its rows
    fill (keyed like the record's fields). Wall times at these sizes
    are overhead-dominated; the signals (verified pairs, candidate
    incidences, max reducer pairs, shuffled rows) are the counts that
    scale."""
    from pyspark.sql import functions as F

    from oamap_spark.operators.dedup import (
        combine_shingle_ids,
        containment_pairs,
        minhash_lsh_pairs,
        token_id_array,
    )
    from oamap_spark.operators.partitioning import (
        bloom_semijoin_reduce,
        salted_frames,
        salted_join,
    )
    from oamap_spark.queries.llm_similarity import (
        _banded_neardup_pairs,
        ann_production_topk_ids,
    )
    from oamap_spark.queries.relational_extra import zipf_skew_frames
    from oamap_spark.sources.tables import load_table

    signals: dict[str, dict] = {
        "skew_microbench_pairs": {},
        "skew_contain_candidate_incidences": {},
        "skew_join_max_reducer_pairs": {},
        "bloom_prefilter_shuffled_rows": {},
    }

    def verified_pairs(label: str, rows: int) -> None:
        signals["skew_microbench_pairs"][label] = rows

    # Skew rows: 500 identical docs — the boilerplate-cluster
    # degenerate case. Every band bucket holds all 500 ids, so the
    # uncapped LSH join materializes 500·499/2 ≈ 125k candidate pairs
    # on single reducer keys while the capped star emits 499 (the gap
    # widens quadratically with cluster size — at 5k boilerplate docs
    # it is 12.5M vs 5k).
    degen = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate sentence repeated for every document").alias("text"),
    )

    def lsh(cap: int | None) -> int:
        return minhash_lsh_pairs(
            degen, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9, bucket_cap=cap
        ).count()

    # Embedding twin: 500 near-identical embeddings — every band bucket
    # holds all 500 vectors, so the uncapped gram path hands one Python
    # worker a 500×500 matrix and 124,750 verified pairs on single
    # bucket keys, while the capped star emits 499 ids-only edges.
    # Construction is deterministic (tiny per-component perturbation,
    # pairwise cosine ≈ 1 ≥ 0.99) so the pair counts are exact.
    # The incremental twin flags the LAST 25 of the 500 clones as the
    # arrival batch — the bucket-min is corpus, so the capped run
    # exercises the RESTRICTED star branch (edges only to arrival
    # members), not the bmin-is-new shortcut. The pair-count ladder is
    # the scale signal: batch uncapped 124,750 (s²/2 on one bucket) →
    # incremental uncapped 12,175 (= C(500,2) − C(475,2)) →
    # incremental capped 25 (one ids-only edge per arrival).
    emb_degen = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), c -> "
            "1.0d + cast(c % 7 as double) * 1e-5)"
        ).alias("embedding"),
    )
    emb_degen_flagged = emb_degen.withColumn("nw", F.col("vec_id") >= 475)

    def banded(frame, new_col: str | None, cap: int | None) -> int:
        return _banded_neardup_pairs(frame, bucket_cap=cap, new_col=new_col).count()

    # Containment twin: a boilerplate-heavy corpus — every one of 500
    # docs opens with the same 11-token header, so each of its 9
    # all-header shingles has df = 500; 10 docs additionally have
    # their unique tail quoted whole inside a longer doc (true
    # doc-in-doc pairs: ~10 shared df=2 tail shingles each, verified
    # containment 19/21 ≈ 0.905 — the two header→tail boundary
    # shingles differ). The SIGNAL is candidate pair-sid incidences
    # Σ_sid C(df_kept, 2) — what the posting candidate join actually
    # shuffles: uncapped, each hot shingle alone contributes
    # 500·499/2 ≈ 125k incidences (quadratic in cluster size); capped
    # (df_cap=16, the production knob) drops the hot postings and
    # keeps ONLY the df=2 quoted-tail shingles — linear, and the 10
    # genuine pairs still verify (at ≈ 0.905 ≥ 0.8) in BOTH arms.
    header = "terms of service apply to this document version two revision final "
    contain_degen = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(header),
            # unique tail: 12 tokens derived from the doc id
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"w{j}tok"), (F.col("id") * 12 + j).cast("string"))
                    for j in range(12)
                ],
            ),
            # docs 100-109 additionally quote doc (id-100)'s tail whole
            F.when(
                (F.col("id") >= 100) & (F.col("id") < 110),
                F.concat(
                    F.lit(" "),
                    F.concat_ws(
                        " ",
                        *[
                            F.concat(
                                F.lit(f"w{j}tok"),
                                ((F.col("id") - 100) * 12 + j).cast("string"),
                            )
                            for j in range(12)
                        ],
                    ),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    kept_post = (
        contain_degen.select(
            F.col("doc_id"), token_id_array("text").alias("tids")
        )
        .select("doc_id", F.explode(combine_shingle_ids("tids", 3)).alias("sid"))
        .groupBy("sid")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    def contain(cap: int) -> int:
        return containment_pairs(
            contain_degen, "doc_id", "text", n=3, threshold=0.8, df_cap=cap
        ).count()

    def contain_signal(cap: int, label: str, rows: int) -> None:
        verified_pairs(label, rows)
        # what the posting candidate join shuffles under this cap
        signals["skew_contain_candidate_incidences"][label] = int(
            kept_post.where(F.col("df") <= cap)
            .select(F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("long").alias("i"))
            .collect()[0]["i"]
        )

    # Production-ANN-path row: the declared ann_lsh_topk's wall is
    # dominated by its exact brute-force recall GATE (verification
    # surface); this row times the path that actually runs at 100 TB —
    # signature → multi-probe → candidate join → exact rescoring of
    # candidates → top-k — so the gate-vs-path split is recorded per
    # round (see SCALE.md).
    emb = load_table(spark, sf_dir, "embeddings")

    # Skewed-JOIN rows (the relational twin of skew_500dup), built by
    # the same builders as the declared `salted_join_skewed_events`
    # query: 80% of events collapse onto hot key 42, dim carries ~100
    # matches per key at sf0.1, so the hot key alone joins to ~8M
    # pairs. The SIGNAL is not the wall time (one 8M-pair codegen task
    # still finishes in well under a second) but the pair count the
    # hottest reducer key owns, which becomes the straggler task at
    # scale. Salt=8 cuts it ~8× (80% of pairs on one key → ~10% per
    # (key, salt) sub-key); the wall times bound the salt's constant
    # overhead (dim replicated salt-fold). The bound comes from the
    # join's OWN salted projection: salted_frames is the exact builder
    # salted_join(dim, ev, ...) runs (pinned by
    # test_partitioning.py::test_salted_frames_is_the_join_projection).
    ev, dim = zipf_skew_frames(spark, sf_dir)
    dimc = dim.groupBy("k").agg(F.count(F.lit(1)).alias("dim_n"))
    _, salted_ev = salted_frames(dim, ev, 8)

    def zipf(salt: int | None) -> int:
        joined = salted_join(dim, ev, "k", salt=salt) if salt else ev.join(dim, "k")
        return (
            joined.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("value").alias("s"))
            .count()
        )

    def max_reducer_pairs(keys: list[str], frame, label: str, rows: int) -> None:
        # max over join-key groups of |ev rows| × |dim rows|
        keyed = frame.groupBy(*keys).agg(F.count(F.lit(1)).alias("ev_n"))
        signals["skew_join_max_reducer_pairs"][label] = (
            keyed.join(dimc, "k")
            .select(F.max(F.col("ev_n") * F.col("dim_n")).alias("m"))
            .collect()[0]["m"]
        )

    # Bloom semi-join reduction rows: the SIGNAL is the number of fact
    # rows that reach the exact join's exchange with vs without the
    # prefilter (1-URGENT keeps ~1/5 of lineitem; the shuffle it sheds
    # scales with the 100 TB fact, the sf0.1 wall does not). Same
    # builders as the declared `bloom_prefilter_join_agg` query. The
    # prefilter is built in `prepare`, untimed: its eager dim.count()
    # sizing pass is not part of the join being measured.
    li_b = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )  # the declared query's exact projection — shuffle bytes match
    urgent_b = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )

    def prefiltered():
        return bloom_semijoin_reduce(li_b, urgent_b, "l_orderkey", "o_orderkey")

    def bloom_join(fact) -> int:
        return (
            fact.join(urgent_b, fact.l_orderkey == urgent_b.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
            .count()
        )

    def shuffled_rows(fact_fn, label: str, rows: int) -> None:
        # rows entering the exact join's fact-side exchange
        key = label.replace("_join", "_shuffled_rows")
        signals["bloom_prefilter_shuffled_rows"][key] = fact_fn().count()

    return [
        Micro("skew_500dup_lsh_capped", 2, lambda: lsh(50), verified_pairs),
        Micro("skew_500dup_lsh_uncapped", 2, lambda: lsh(None), verified_pairs),
        Micro("skew_500emb_banded_capped", 2, lambda: banded(emb_degen, None, 50), verified_pairs),
        Micro("skew_500emb_banded_uncapped", 2, lambda: banded(emb_degen, None, None), verified_pairs),
        Micro("skew_500emb_incr_capped", 2, lambda: banded(emb_degen_flagged, "nw", 50), verified_pairs),
        Micro("skew_500emb_incr_uncapped", 2, lambda: banded(emb_degen_flagged, "nw", None), verified_pairs),
        Micro("skew_500contain_capped", 2, lambda: contain(16), partial(contain_signal, 16)),
        Micro(
            "skew_500contain_uncapped",
            2,
            lambda: contain(1_000_000_000),
            partial(contain_signal, 1_000_000_000),
        ),
        Micro("ann_lsh_candidates_only", 3, lambda: ann_production_topk_ids(emb).count()),
        Micro(
            "skew_zipf_join_salted",
            2,
            lambda: zipf(8),
            partial(max_reducer_pairs, ["k", "__salt"], salted_ev),
            shuffle_join=True,
        ),
        Micro(
            "skew_zipf_join_plain",
            2,
            lambda: zipf(None),
            partial(max_reducer_pairs, ["k"], ev),
            shuffle_join=True,
        ),
        Micro(
            "bloom_prefilter_join",
            2,
            bloom_join,
            partial(shuffled_rows, prefiltered),
            prepare=prefiltered,
            shuffle_join=True,
        ),
        Micro(
            "bloom_plain_join",
            2,
            bloom_join,
            partial(shuffled_rows, lambda: li_b),
            prepare=lambda: li_b,
            shuffle_join=True,
        ),
    ], signals


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    load_start, waited = _wait_for_quiet(MAX_LOAD, QUIET_WAIT_S)
    if waited:
        print(
            f"# quiet-load pre-flight: waited {waited}s, loadavg now "
            f"{load_start} (threshold {MAX_LOAD})",
            file=sys.stderr,
        )

    from oamap_spark import cache
    from oamap_spark.queries import registry
    from oamap_spark.session import get_spark, positive_int_env

    # the HONORED core count: session.py builds local[cpus] and sizes
    # shuffle partitions from it, and the record reports the same value
    cpus = positive_int_env("SPARK_GRAFT_CPUS", "32", "local cores")
    spark = get_spark("oamap-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers so we measure query execution, not
    # session startup.
    bench = registry.bench_queries()
    first = next(iter(bench.values()))
    first(spark, sf_dir).count()

    def cleanup() -> None:
        # the LSH/banded queries persist narrow signature tables whose
        # lifetime the CALLER owns (documented in the operators); a
        # sweep that never clears them would accumulate cached copies.
        # cache.sweep() drops the tracked handles; clearCache()
        # additionally covers anything persisted outside the track()
        # hook.
        cache.sweep()
        spark.catalog.clearCache()

    # Self-diagnosing timings: every raw run is recorded, plus the
    # 1-minute load average sampled around the sweep, so a rerun
    # regression can be attributed (noise vs plan change) from the
    # JSON alone: noisy runs show high run-to-run spread and/or
    # elevated load; a real regression shows tight runs at a new level.
    recorder = Recorder(cleanup)
    timings, all_runs = recorder.timings, recorder.all_runs
    load_samples: list[float] = [round(os.getloadavg()[0], 2)]
    # best-of-3: the later runs reuse warmed parquet footers / Python
    # workers, so transient machine load and one-time JVM costs don't
    # masquerade as query regressions. NOTE: for queries that
    # persist() intermediates (LSH signature tables, the MG summary,
    # the ANN exact/hits gates), Spark's cache manager matches the
    # repeat runs' identical sub-plans to the run-1 cache, so min(runs)
    # partially measures warm-cache reads — deliberately UNCHANGED since
    # round 1; altering it would break the round-over-round per-query
    # comparison. Run 1 in the `runs` list is always the cold number.
    def count_rows(fn) -> int:
        return fn(spark, sf_dir).count()

    for name, fn in bench.items():
        recorder.measure(name, partial(count_rows, fn), 3)
        load_samples.append(round(os.getloadavg()[0], 2))

    # Noisy-window retry: a headline query whose measurement window saw
    # 1-min load above the threshold is re-run after a short
    # wait-for-quiet and min'd into its record — so one background
    # spike doesn't smear a fake +25% across the round-over-round diff.
    # The retry is the SAME best-of-3 as the main loop: for
    # persist-heavy queries the original min is a warm-cache run, and a
    # single cold retry could never beat a load-smeared warm number.
    # Bounded to 8 queries; any noisy windows beyond the cap are
    # stamped noisy_unretried so the record never reads 'retried and
    # clean' when it wasn't.
    noisy_all = [
        n
        for i, n in enumerate(bench)
        if max(load_samples[i], load_samples[i + 1]) > MAX_LOAD
    ]
    noisy, noisy_unretried = noisy_all[:8], noisy_all[8:]
    for n in noisy:
        _wait_for_quiet(MAX_LOAD, 30.0)
        recorder.measure(n, partial(count_rows, bench[n]), 3)
        load_samples.append(round(os.getloadavg()[0], 2))

    table, signals = microbenches(spark, sf_dir)
    for m in table:
        with auto_broadcast_disabled(spark) if m.shuffle_join else contextlib.nullcontext():
            recorder.measure(m.label, m.run, m.n, m.prepare, m.signal)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # Per-query noise marker for the COMPACT stdout record (VERDICT r11
    # "Next round #3c"): max/min over the WARM runs (run 1 is always
    # the cold number — JVM/codegen warmup and one-time staging, not
    # machine noise). A tight warm spread at a new level is a real plan
    # change; a wide warm spread is a noisy measurement window — the
    # r11 verdict had to reconstruct that distinction from a second
    # full bench run. Only entries over SPREAD_FLOOR are emitted so the
    # stdout line stays under the driver's capture cap on quiet runs.
    SPREAD_FLOOR = 1.5
    spread = {}
    for n, rs in all_runs.items():
        warm = rs[1:] if len(rs) > 1 else rs
        if min(warm) > 0:
            r = round(max(warm) / min(warm), 1)
            if r > SPREAD_FLOOR:
                spread[n] = r
    # headline total = registry bench set ONLY (r7 review finding #4:
    # folding the ad-hoc microbench walls into `value` would read as a
    # multi-second regression on unchanged query code every time a
    # microbench is added). Ad-hoc entries stay in `queries`/`runs`
    # per-name and get their own subtotal. NOTE for cross-round
    # comparison: r1–r6 `value` included the then-existing microbench
    # labels (skew_500dup_* from r5, skew_zipf_* from r6, ~3.3 s at
    # r6); from r7 on, compare per-query or use value + value_microbench.
    headline = {n: t for n, t in timings.items() if n in bench}
    microbench = {n: t for n, t in timings.items() if n not in bench}
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(headline.values()), 4),
        # machine-readable schema marker (ADVICE r7): r1–r6 `value`
        # also folded the then-existing microbench walls in; from r7
        # on it is the registry bench set only. Tooling diffing
        # `value` across rounds must check this field first.
        "value_semantics": "headline_only_r7+",
        "unit": "sec",
        "value_microbench": round(sum(microbench.values()), 4),
        "microbench_names": sorted(microbench),
        "queries": timings,
        # noise forensics: every raw run per query + 1-min load average
        # sampled after each query. High spread / high load ⇒ machine
        # noise; tight runs at a new level ⇒ real plan change.
        "runs": all_runs,
        "loadavg_1min": load_samples,
        # quiet-load protocol record: start load (after pre-flight
        # wait), threshold, and whether the run violated it anyway —
        # start above threshold, or a mid-run spike past 2× start
        "loadavg_start_1min": load_start,
        "load_threshold": MAX_LOAD,
        "noisy_retried": noisy,
        "noisy_unretried": noisy_unretried,
        "ambient_load_warning": bool(
            load_start > MAX_LOAD
            or max(load_samples) > max(MAX_LOAD, 2 * max(load_start, 1.0))
        ),
        # the HONORED core count — NOT os.cpu_count(), which made the
        # r11 8-core scaling artifact claim "cpus": 32
        "cpus": cpus,
        "sf": sf_val,
        # the microbench signal dicts: the counts that scale, where the
        # microbench wall times do not (see microbenches())
        **signals,
    }
    # Full record (runs, loadavg samples, forensics dicts) goes to
    # stderr for humans and a/b tooling; stdout gets a COMPACT single
    # line. The driver records only the LAST 2000 chars of stdout and
    # parses the JSON line found there — r5–r8's line outgrew that cap
    # (4.3 KB by r8) and the recorded `parsed` field silently became
    # None for four rounds. Keep the stdout line under the cap forever.
    print(json.dumps(out), file=sys.stderr)
    try:  # full forensics for cross-round a/b (stderr is not kept)
        with open("/tmp/oamap_bench_full_last.json", "w") as f:
            json.dump(out, f)
    except OSError:
        pass
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "value_semantics": out["value_semantics"],
        "unit": out["unit"],
        "value_microbench": out["value_microbench"],
        "queries": {n: round(t, 3) for n, t in timings.items()},
        "loadavg_max_1min": max(load_samples) if load_samples else None,
        "loadavg_start_1min": load_start,
        "ambient_load_warning": out["ambient_load_warning"],
        "cpus": out["cpus"],
        "sf": sf_val,
        # warm-run max/min per query, only entries > 1.5 (see above):
        # lets the round-over-round diff separate noise from plan
        # changes from the stdout line alone
        "spread_gt1.5": spread,
    }
    if noisy_unretried:  # only spend stdout bytes when it happened
        compact["noisy_unretried"] = len(noisy_unretried)
    line = json.dumps(compact)
    if len(line) >= 1900:  # degrade loudly, never exceed the cap
        compact["queries"] = {n: round(t, 2) for n, t in timings.items()}
        # the spread marker is an annotation, not a measurement — shed
        # it before shedding any query's timing
        if len(json.dumps(compact)) >= 1900:
            compact["spread_gt1.5"] = {"omitted": len(spread)}
        line = json.dumps(compact)
        while len(line) >= 1900 and compact["queries"]:
            drop = min(compact["queries"], key=compact["queries"].get)
            del compact["queries"][drop]
            compact["queries_omitted"] = (
                compact.get("queries_omitted", 0) + 1
            )
            line = json.dumps(compact)
        print(
            f"# stdout line trimmed to fit driver cap: {line[:80]}...",
            file=sys.stderr,
        )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
