"""Physical-plan audits: the scale story asserted, not assumed.

Every test here encodes a property that must survive a 100×/1000×
scale-up: dims broadcast (no shuffle of the fact table against tiny
tables), filters pushed into the parquet scan (row-group pruning),
ReadSchema pruned to the touched columns (oamap's only-fetch-what-you-
touch guarantee), and the hot path inside WholeStageCodegen."""

from __future__ import annotations

import re

import pytest

from oamap_spark.plans import audit
from tests.conftest import SF_SMOKE

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


@pytest.fixture(scope="module")
def registry_plans(spark):
    """Each non-streaming query's plan string, or the exception its
    build raised; built once for both global plan guards (building a
    streaming query executes the stream)."""
    from oamap_spark.queries import registry

    plans: dict[str, str | Exception] = {}
    for name, spec in registry.all_specs().items():
        if "streaming" in spec.tags:
            continue
        try:
            plans[name] = audit.plan_string(spec.fn(spark, SF_SMOKE))
        except Exception as ex:  # each guard reports it as a build error
            plans[name] = ex
    return plans


def test_q5_broadcasts_dimension_tables(spark, queries):
    """region/nation/supplier/customer are O(rows-of-dim) at every SF;
    the 5-way join must broadcast them, never shuffle lineitem against
    them pairwise."""
    df = queries["q5_local_supplier_volume"](spark, SF_SMOKE)
    assert audit.broadcast_join_count(df) >= 3


def test_q6_pushes_filters_to_scan(spark, queries):
    df = queries["q6_forecast_revenue"](spark, SF_SMOKE)
    pushed = " ".join(audit.pushed_filters(df)).lower()
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q1_prunes_lineitem_scan(spark, queries):
    """Q1 touches 7 of lineitem's 16 columns; ReadSchema must show
    exactly those — reading 16 columns for a 7-column agg would double
    the scan volume at 100 TB."""
    df = queries["q1_pricing_summary"](spark, SF_SMOKE)
    cols = audit.scanned_columns(df)
    assert cols == {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }, cols


def test_q1_two_shuffles(spark, queries):
    """filter→partial agg→final agg→sort: exactly two exchanges (the
    group-key hash and the final orderBy's range partitioning over a
    4-row result). Partial aggregation must stay map-side."""
    df = queries["q1_pricing_summary"](spark, SF_SMOKE)
    assert audit.shuffle_count(df) == 2


def test_q1_wholestage_codegen(spark, queries):
    """scan→filter→partial-agg must fuse into whole-stage codegen.
    AQE only reports codegen ids on the finalized plan, so execute
    first."""
    df = queries["q1_pricing_summary"](spark, SF_SMOKE)
    df.collect()
    assert audit.codegen_stage_count(df) >= 1


def test_minhash_lsh_shuffles_bounded(spark, queries):
    """LSH dedup must shuffle only band keys + candidate ids — the
    wide shingle/signature stages are narrow. Exchanges: band
    self-join (2 sides), pair distinct, 2 verify joins ≈ 7; a
    regression that shuffles payloads shows up as growth here."""
    df = queries["dedup_minhash_lsh"](spark, SF_SMOKE)
    assert audit.shuffle_count(df) <= 8


def test_cosine_topk_broadcasts_queries_not_corpus(spark, queries):
    """The query set broadcasts; the corpus must stream (never the
    other way around at 100 TB)."""
    df = queries["cosine_topk_bruteforce"](spark, SF_SMOKE)
    p = audit.plan_string(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_filtered_topk_broadcast_equijoin(spark, queries):
    """cosine_topk_label_filtered must push the metadata constraint
    into a broadcast EQUI-join on the filter key (never a post-rank
    filter, never a shuffled join of the corpus). Pinned with
    autoBroadcastJoinThreshold=-1 so the assertion discriminates: only
    the explicit broadcast hint can produce the node at this SF."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["cosine_topk_label_filtered"](spark, SF_SMOKE)
        p = audit.plan_string(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p


def test_chunking_is_narrow_no_exchange(spark, queries):
    """doc_chunk_windows must be a pure narrow pass: split→explode→
    slice with ZERO exchanges (the 100 TB contract: chunking cost is
    linear scan, never a shuffle)."""
    df = queries["doc_chunk_windows"](spark, SF_SMOKE)
    assert audit.shuffle_count(df) == 0


def test_date_spine_broadcasts_spine(spark, queries):
    """The spine/daily join must broadcast — the orders aggregate must
    not shuffle against the spine. The spine is the preserved side of
    the left outer join and can never be built, so the hint sits on the
    daily aggregate: a hint on the spine is dropped by Spark (it logs
    `build left for left outer join`) and the join plans unhinted."""
    df = queries["date_spine_gap_fill"](spark, SF_SMOKE)
    assert audit.broadcast_join_count(df) >= 1
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    join = [ln for ln in plan.splitlines() if "Join LeftOuter" in ln]
    assert len(join) == 1, plan
    assert "rightHint=(strategy=broadcast)" in join[0], join[0]
    assert "leftHint" not in join[0], join[0]


def test_contamination_broadcasts_bench_side(spark, queries):
    """The 5% benchmark slice broadcasts; the train gram table streams."""
    df = queries["train_benchmark_overlap"](spark, SF_SMOKE)
    assert audit.broadcast_join_count(df) >= 1


def test_scrub_pii_prunes_scan(spark, queries):
    """The scrub reads doc_id/lang/text only — source and n_chars must
    be pruned out of the parquet ReadSchema."""
    df = queries["doc_scrub_pii"](spark, SF_SMOKE)
    cols = audit.scanned_columns(df)
    assert "source" not in cols and "n_chars" not in cols


def test_scanned_columns_unions_all_scans_in_join(spark, queries):
    """scanned_columns must union ReadSchema across EVERY file scan in
    the plan, not just the first: a join plan has one scan per table,
    and a pruning assertion that silently parsed only one side would
    pass even while the other side read all its columns. q3 scans
    customer, orders and lineitem — columns of all three must appear,
    and pruned columns of each side must not."""
    df = queries["q3_shipping_priority"](spark, SF_SMOKE)
    schemas = audit.read_schemas(df)
    assert len(schemas) >= 3, schemas  # one scan per joined table
    cols = audit.scanned_columns(df)
    # one column from each side proves the union reaches every scan
    assert "c_mktsegment" in cols, cols  # customer scan
    assert "o_orderdate" in cols, cols  # orders scan
    assert "l_extendedprice" in cols, cols  # lineitem scan
    # pruning still holds per-side: untouched wide columns stay out
    assert "c_name" not in cols, cols
    assert "l_tax" not in cols, cols


def test_no_unexpected_cartesian_products(registry_plans):
    """Global plan guard: no declared batch query may contain a
    CartesianProduct unless it is an intentionally quadratic form —
    the sf-bounded all-pairs oracle twins, the theta join demo, or a
    scalar-singleton cross join (those compile to broadcast nested
    loop, but whitelist by name where they don't)."""
    from oamap_spark.queries import registry

    allowed_tags = {"sf_bounded_oracle_twin", "theta"}
    allowed_names = {
        "theta_join_nation_pairs",
        "dedup_jaccard_pairs",
        "dedup_simhash_pairs",
        "dedup_embedding_cosine",
    }
    specs = registry.all_specs()
    offenders = []
    for name, plan in registry_plans.items():
        if name in allowed_names or allowed_tags & set(specs[name].tags):
            continue
        if isinstance(plan, Exception):
            offenders.append(f"{name}: build error {plan}")
            continue
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct in plan")
    assert not offenders, offenders


def test_compiled_rowfn_stays_jvm_side(spark, queries):
    """The AST-compiled row functions must produce a pure-JVM plan: no
    Python evaluation node anywhere, and the compiled predicate pushed
    into the parquet scan — the whole point of compiling instead of
    wrapping a UDF."""
    df = queries["compiled_rowfn_revenue"](spark, SF_SMOKE)
    plan = audit.plan_string(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    pushed = " ".join(audit.pushed_filters(df)).lower()
    assert "l_quantity" in pushed and "l_discount" in pushed


def test_compiled_nested_loop_stays_jvm_side(spark, queries):
    """Generator-expression loops lower to higher-order array functions
    — still no Python in the plan, and exactly the one groupBy shuffle
    that builds the per-order nest."""
    df = queries["compiled_nested_event_loop"](spark, SF_SMOKE)
    plan = audit.plan_string(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert audit.shuffle_count(df) == 1


def test_no_python_eval_outside_udf_surface(registry_plans):
    """Global scale guard: no batch query may evaluate Python row code
    (BatchEvalPython / ArrowEvalPython / mapInPandas nodes) unless it
    is a declared UDF-surface demo or an Arrow-vectorized signature
    path — everything else must stay inside whole-stage codegen. This
    is the repo's 'UDFs are the slow path' rule, enforced."""
    # legit Python: the three deliberate UDF-surface demos + the
    # Arrow-batched LSH/IVF signature paths (numpy matmuls, documented)
    allowed_names = {
        "reduce_custom_tally_geomean",  # GROUPED_AGG pandas_udf demo
        "udtf_token_positions",  # UDTF demo
        "multimodal_decode_features",  # mapInPandas decode stub
        "ann_lsh_topk",
        "ann_ivf_topk",
        "ivf_centroid_assignment",
        "dedup_embedding_banded",
        "dedup_embedding_banded_capped",  # same Arrow gram path, cap-guarded
        "dedup_embedding_incremental",  # rectangular new×all gram, same path
        "dedup_embedding_incremental_capped",  # + restricted-star cap route
        "dedup_embedding_incremental_steady",  # arrival-only signing, same path
        "dedup_embedding_cosine",
        "dedup_clusters_all_signals",  # unions the banded Arrow gram path's edges
        "pack_sequences_slots",  # per-bucket greedy scan is applyInPandas by design
        "multimodal_frame_sample",
        "multimodal_resize_metadata",
        "multimodal_audio_window_energy",  # mapInPandas frame-energy stub
        "heavy_hitter_terms",  # per-partition Misra-Gries summary pass
        # Arrow popcount simhash signatures (native twin + equality
        # test in test_llm_ops; same precedent as the LSH matmuls)
        "dedup_simhash_signatures",
        "dedup_simhash_banded",
        "dedup_simhash_pairs",
    }
    markers = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    offenders = []
    for name, plan in registry_plans.items():
        if name in allowed_names:
            continue
        if isinstance(plan, Exception):
            offenders.append(f"{name}: build error {plan}")
            continue
        hit = [m for m in markers if m in plan]
        if hit:
            offenders.append(f"{name}: {hit}")
    assert not offenders, offenders


def test_rank_filter_gets_window_group_limit(spark, queries):
    """rank()<=k filters must trigger the WindowGroupLimit rewrite —
    each partition keeps only its top-k rows BEFORE the full window
    sort, the difference between shuffling k rows per group and
    shuffling the whole table at 100 TB."""
    df = queries["window_rank_orders_per_customer"](spark, SF_SMOKE)
    assert "WindowGroupLimit" in audit.plan_string(df)


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Runtime bloom-filter join pruning — the AQE-era answer for a
    selective dim⋈fact join too big to broadcast: the filtered
    creation side builds a bloom filter that is pushed into the fact
    scan, dropping non-matching rows BEFORE the shuffle. At 100 TB
    this is the difference between shuffling the full fact table and
    shuffling the ~1/5 that survives. Thresholds are lowered so the
    optimizer fires at test SF; production defaults (10 MB creation /
    10 GB application side) fire on real volumes."""
    from pyspark.sql import functions as F

    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        phys = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "bloomfilter" in phys or "bloom_filter" in phys, phys[:2000]
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Dynamic partition pruning: a partitioned fact joined to a dim
    filtered on a NON-join column must scan only the partitions the
    dim's surviving keys name — the broadcast result is re-used as a
    partition filter (SubqueryAdaptiveBroadcast → dynamicpruning
    expression in the fact scan). Static pushdown can't do this (the
    partition keys aren't known until the dim filter runs); at 100 TB
    it's the difference between scanning 2 of 1000 daily partitions
    and all of them."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    fact_dir = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").mode("overwrite").parquet(fact_dir)
    part = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("en", "high"), ("de", "high"), ("fr", "low"), ("es", "low"), ("zh", "low")],
        ["lang", "tier"],
    )
    from pyspark.sql import functions as F

    j = part.join(dim, "lang").filter(F.col("tier") == "high").groupBy("lang").count()
    phys = j._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in phys, phys[:2000]


def test_oracle_guard_rejects_nested_and_hugeint_columns():
    """plans/verify.py hard-errors on oracle result shapes the driver's
    pandas canonicalization cannot hash: HUGEINT (degrades to float64)
    and top-level LIST/STRUCT columns (sort_values throws 'unhashable
    type: numpy.ndarray' — the CORRECTNESS_r03 embedding_label_
    centroids red row). Scalar columns pass."""
    import pytest as _pytest

    from oamap_spark.plans.verify import run_oracle

    sf = SF_SMOKE
    with _pytest.raises(AssertionError, match="HUGEINT"):
        run_oracle(sf, "SELECT sum(o_custkey) AS s FROM orders")
    with _pytest.raises(AssertionError, match="nested"):
        run_oracle(sf, "SELECT [1, 2, 3] AS a")
    with _pytest.raises(AssertionError, match="nested"):
        run_oracle(sf, "SELECT {'x': 1} AS s")
    # fixed-size ARRAY types describe as DOUBLE[3] — no "[]" substring
    with _pytest.raises(AssertionError, match="nested"):
        run_oracle(sf, "SELECT array_value(1.0, 2.0, 3.0) AS a")
    cols, rows = run_oracle(sf, "SELECT CAST(1 AS BIGINT) AS ok")
    assert cols == ["ok"] and rows == [(1,)]


def test_lateral_join_decorrelates_to_window_group_limit(spark, queries):
    """The LATERAL correlated subquery must decorrelate into a join +
    per-key WindowGroupLimit — NOT a per-outer-row nested-loop replay.
    At 100 TB decorrelation is the difference between one shuffle on
    the correlation key and |customer| subquery executions."""
    df = queries["lateral_top3_orders_per_customer"](spark, SF_SMOKE)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in phys, phys[:2000]
    assert "NestedLoop" not in phys and "CartesianProduct" not in phys, phys[:2000]


def test_nullsafe_join_stays_hash_join(spark, queries):
    """EqualNullSafe is a valid hash-join key: the null-safe join must
    plan as a hash/sort-merge equi-join, never fall back to a
    nested-loop — null-keyed rows hash like any other key value."""
    df = queries["nullsafe_join_event_props"](spark, SF_SMOKE)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "HashJoin" in phys or "SortMergeJoin" in phys, phys[:2000]
    assert "NestedLoop" not in phys and "CartesianProduct" not in phys, phys[:2000]


def test_analyze_table_stats_feed_cbo(spark):
    """Catalog statistics → cost-based optimizer: ANALYZE TABLE must
    surface rowCount (table-level) and column NDV/null-count stats to
    the optimizer. At 100 TB, stats are what let CBO pick build sides
    and join orders instead of size guesses — this pins that the
    ANALYZE → catalog → optimizedPlan.stats pipeline works end-to-end."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    spark.sql("DROP TABLE IF EXISTS __cbo_docs")
    # a previous session's DROP removes the catalog entry but can leave
    # the managed location behind; clear it or saveAsTable refuses
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/__cbo_docs", ignore_errors=True)
    docs.write.mode("overwrite").saveAsTable("__cbo_docs")
    keep_cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        # rowCount only propagates into optimizedPlan.stats under CBO
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.sql(
            "ANALYZE TABLE __cbo_docs COMPUTE STATISTICS FOR COLUMNS doc_id, lang"
        )
        n = docs.count()
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE EXTENDED __cbo_docs").collect()
        }
        assert "Statistics" in desc and f"{n} rows" in desc["Statistics"], desc.get(
            "Statistics"
        )
        col = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                "DESCRIBE EXTENDED __cbo_docs doc_id"
            ).collect()
        }
        assert int(col["distinct_count"]) > 0
        assert col["num_nulls"] == "0"
        # the optimizer sees the exact rowCount, not a size guess
        stats = (
            spark.table("__cbo_docs")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert stats.rowCount().isDefined() and stats.rowCount().get() == n
    finally:
        spark.conf.set("spark.sql.cbo.enabled", keep_cbo)
        spark.sql("DROP TABLE IF EXISTS __cbo_docs")


def test_heavy_hitters_verify_join_broadcasts_candidates(spark, queries):
    """The exact-verify pass must broadcast-join the tiny MG candidate
    list against the token stream — a shuffled join here would move
    every distinct term of the corpus, which is exactly what the
    operator exists to avoid at 100 TB."""
    df = queries["heavy_hitter_terms"](spark, SF_SMOKE)
    plan = audit.plan_string(df)
    assert audit.broadcast_join_count(df) >= 1, plan
    assert "MapInPandas" in plan, "MG summary pass missing"
    # token strings shuffle only inside the candidate-filtered verify
    # aggregate: summary + candidate-distinct + verify group ≈ 4;
    # growth here means the full term stream started riding a shuffle
    assert audit.shuffle_count(df) <= 5, plan


def test_ann_lsh_gate_candidate_join_carries_ids_only(spark, queries):
    """The recall-gated ANN query: the bucket equi-join and the pair
    distinct must not carry the 64-double vectors — ReadSchema includes
    the embedding (signatures + re-join by id read it), but the only
    BroadcastNestedLoopJoin allowed is the bounded exact side (10-row
    query set cross the corpus) and the 1-row recall flag."""
    df = queries["ann_lsh_topk"](spark, SF_SMOKE)
    plan = audit.plan_string(df)
    assert "CartesianProduct" not in plan, plan
    # the probe/bucket candidate path is an equi-join (hash or sort-merge)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_session_window_stays_single_stateless_batch_agg(spark, queries):
    """batch_session_window_stats: session_window in batch mode is one
    aggregate over the gap-merged windows — one shuffle on the session
    key plus the final projection; no Python nodes."""
    df = queries["batch_session_window_stats"](spark, SF_SMOKE)
    plan = audit.plan_string(df)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "session_window" in plan.lower() or "SessionWindow" in plan, plan


def test_salted_join_shuffles_on_key_plus_salt(spark, queries):
    """The deliberately Zipf-hot key (80% of events on k=42) must not
    land on a single reducer: every exchange feeding the salted join
    hashes on (k, __salt), so the hot key fans out over the salt
    domain — the no-single-task-straggler property, independent of
    whether AQE's sort-merge skew split would have fired.

    At SF_SMOKE the dim side fits under autoBroadcastJoinThreshold and
    Catalyst (correctly) broadcasts it, which makes salting moot — so
    the test disables auto-broadcast to surface the big×big shuffle
    shape the operator exists for at 100 TB."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["salted_join_skewed_events"](spark, SF_SMOKE)
        p = audit.plan_string(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    salted_exchanges = [
        ln
        for ln in p.splitlines()
        if "hashpartitioning" in ln and "__salt" in ln
    ]
    assert salted_exchanges, f"no (k, __salt) exchange in plan:\n{p}"


def test_aqe_skew_split_fires_and_its_limits(spark):
    """The runtime half of the skew story (the salted_join tests pin
    the deterministic half): AQE's skew-join split DOES fire for a
    hot-key sort-merge join — and its documented limits are exactly
    why the explicit salt operator exists. Three regimes, one hot-key
    join (99% of 2M rows on one key, multi-mapper shuffle — the split
    unit is a mapper range, so a single-mapper shuffle can never
    split):
    1. no downstream requirement  → split fires (skew=true);
    2. groupBy on the join key    → split SUPPRESSED (it would break
       the co-partitioning the agg reuses) — the join→agg-on-key
       pattern every pipeline runs is precisely where AQE declines;
    3. same, forceOptimizeSkewedJoin → fires again, paying an extra
       shuffle for the agg.
    Salting is independent of all three conditions."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.join.preferSortMergeJoin",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
        spark.conf.set("spark.sql.shuffle.partitions", "16")

        def hot_join():
            left = spark.range(0, 2_000_000, 1, 8).select(
                # 99% of rows on hot key 7; the cold 1% spread over all
                # 50 right-side keys (id/100 % 50, NOT id % 50 which is
                # constantly 0 for multiples of 100 — r6 review)
                F.when(
                    F.col("id") % 100 == 0,
                    (F.col("id") / 100).cast("long") % 50,
                )
                .otherwise(F.lit(7))
                .alias("k"),
                F.col("id").alias("payload"),
            )
            right = spark.range(0, 50, 1, 4).select(
                F.col("id").alias("k"), F.col("id").alias("r")
            )
            return left.join(right, "k")

        def executed_plan(df):
            # JVM-only action on df's OWN QueryExecution: finalizes the
            # adaptive plan without count()/collect() wrapping a new
            # plan on top, and without piping 2M rows through Python
            # workers (r6 review)
            df._jdf.queryExecution().toRdd().count()
            return df._jdf.queryExecution().executedPlan().toString()

        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
        assert "skew=true" in executed_plan(hot_join()), (
            "AQE skew split must fire for a downstream-free hot SMJ"
        )
        agg = hot_join().groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        assert "skew=true" not in executed_plan(agg), (
            "split should be suppressed by the agg's partitioning requirement"
        )
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        agg2 = hot_join().groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        assert "skew=true" in executed_plan(agg2), (
            "forceOptimizeSkewedJoin must re-enable the split under the agg"
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mixture_broadcasts_thresholds_no_corpus_shuffle(spark):
    """mixture_temperature_counts: the per-group threshold table must
    reach the corpus via a broadcast join — the corpus rows themselves
    never shuffle for the sampling step (the whole point of deriving
    rates from two tiny group-domain aggregates)."""
    from oamap_spark.operators.sampling import temperature_mixture_sample
    from oamap_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    plan = audit.plan_string(temperature_mixture_sample(d, "doc_id", "source", 0.25))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_pack_slots_single_bucket_shuffle(spark):
    """greedy_pack_slots: exactly ONE exchange (the bucket hash
    partitioning feeding the per-bucket pandas scan) — the corpus is
    not re-shuffled for ordering; the scan sorts within buckets."""
    from pyspark.sql import functions as F

    from oamap_spark.operators.packing import greedy_pack_slots
    from oamap_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    df = greedy_pack_slots(d, "doc_id", "n_tok", capacity=2048)
    plan = audit.plan_string(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert audit.shuffle_count(df) == 1, plan


def test_minhash_incremental_probe_filter_below_band_join(spark):
    """minhash_lsh_pairs_incremental: the arrival filter must sit
    UNDER the band join (the probe side is pre-filtered, so
    corpus×corpus candidates are never generated) — not above it as a
    post-join pair filter, which would be the quadratic batch join
    wearing an incremental hat. And the whole pipeline stays JVM-side."""
    from pyspark.sql import functions as F

    from oamap_spark.operators.dedup import minhash_lsh_pairs_incremental
    from oamap_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").withColumn(
        "nw", F.substring("source", 4, 10).cast("int") >= 10
    )
    df = minhash_lsh_pairs_incremental(d, "doc_id", "text", "nw")
    plan = audit.plan_string(df, mode="simple")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan
    lines = plan.splitlines()
    join_rows = [i for i, l in enumerate(lines) if "Join" in l and "band_key" in l]
    filt_rows = [i for i, l in enumerate(lines) if "Filter" in l and "is_new" in l]
    assert join_rows and filt_rows, plan
    band_join = min(join_rows)
    assert all(i > band_join for i in filt_rows), (
        "arrival filter printed above the band join — post-join filtering\n" + plan
    )


def test_bucketed_join_query_single_exchange(spark):
    """The declared `bucketed_join_colocated_agg` query's plan must
    contain exactly ONE exchange — the groupBy(c_mktsegment) hash agg.
    The orders⋈customer equi-join itself reads co-located buckets
    (both tables written bucketBy(8, custkey)), so no join exchange
    appears: the claim the query's docstring makes, pinned here."""
    from oamap_spark.plans.audit import shuffle_count
    from oamap_spark.queries.relational_extra import bucketed_join_colocated_agg

    # Pin autoBroadcastJoinThreshold=-1: at verification SF customer
    # broadcasts and shuffle_count == 1 would hold with or without
    # bucketing (an unbucketed broadcast join + agg also shows one
    # exchange). Forcing SMJ makes the assertion discriminating —
    # unbucketed SMJ + agg would show 3 exchanges, co-located buckets
    # show only the agg's.
    keep = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_join_colocated_agg(spark, SF_SMOKE)
        plan = audit.plan_string(df, mode="simple")
        assert "SortMergeJoin" in plan, plan
        assert shuffle_count(df) == 1, plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", keep)
        spark.sql("DROP TABLE IF EXISTS __bkt_orders")
        spark.sql("DROP TABLE IF EXISTS __bkt_customer")


def test_dpp_query_prunes_partitions(spark):
    """The declared `dpp_partition_prune_agg` query's executed plan
    must carry a dynamicpruning expression on the partitioned fact
    scan — the runtime partition filter derived from the broadcast
    tier dim, per the query docstring."""
    from oamap_spark.queries.relational_extra import dpp_partition_prune_agg

    df = dpp_partition_prune_agg(spark, SF_SMOKE)
    phys = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in phys, phys[:2000]


def test_bloom_prefilter_below_join(spark):
    """The declared `bloom_prefilter_join_agg` query must apply the
    Bloom bit-probe filter on the fact side BELOW the exact join —
    i.e. fact rows are shed before the join's exchange, which is the
    entire point of semi-join reduction. Forces
    autoBroadcastJoinThreshold=-1 so the exact join is a sort-merge
    join with real exchanges (at verification SF it would otherwise
    broadcast); the Bloom bitmap itself still broadcasts via the
    explicit broadcast() hint."""
    from oamap_spark.queries.relational_extra import bloom_prefilter_join_agg

    keep = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bloom_prefilter_join_agg(spark, SF_SMOKE)
        plan = audit.plan_string(df, mode="simple")
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan
        lines = plan.splitlines()
        smj = [i for i, l in enumerate(lines) if "SortMergeJoin" in l]
        # the probes are LEFT SEMI broadcast hash joins on the
        # xxhash64 position expression — one per hash function
        probe = [
            i
            for i, l in enumerate(lines)
            if "LeftSemi" in l and "xxhash64" in l
        ]
        assert smj and len(probe) == 2, plan
        assert all(i > min(smj) for i in probe), (
            "bloom probe semi-joins printed above the exact join — "
            "prefilter did not land on the join input\n" + plan
        )
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", keep)


def _assert_minhash_only_on_arrivals(p: str) -> None:
    """In a formatted plan of a steady MinHash probe, the corpus half
    of the band join reads ``sig`` from the persisted index, and
    ``array_min`` (the MinHash) reads only ids that no index scan
    produced: a corpus half re-hashed per probe — before or after the
    union, whose output keeps its first child's attributes — would
    hash an ids attribute of an ``oamap_steady_idx`` scan."""
    idx = [
        b for b in p.split("\n\n")
        if "Scan parquet" in b and "oamap_steady_idx" in b
    ]
    assert any("sig:array<bigint>" in b for b in idx), p[:2000]
    outputs = re.findall(r"Output \[\d+\]: \[(.*)\]", "\n".join(idx))
    idx_attrs = set(re.findall(r"\w+#\d+", " ".join(outputs)))
    hashed = set(re.findall(r"array_min\(transform\((\w+#\d+)", p))
    assert hashed and not hashed & idx_attrs, (hashed, idx_attrs)


def test_steady_state_probe_reads_persisted_index(spark, queries):
    """dedup_minhash_incremental_steady's whole point: the corpus half
    comes from the PERSISTED parquet signature index — the plan must
    scan the staged index path, and exactly one branch (the 10%
    arrival batch) may tokenize text."""
    df = queries["dedup_minhash_incremental_steady"](spark, SF_SMOKE)
    p = audit.plan_string(df)
    assert "oamap_steady_idx" in p, p[:2000]
    # one md5-bearing tokenize branch: the arrivals'. The corpus side
    # must not re-derive signatures from text.
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")
    # the corpus half of the band join bands the persisted sig —
    # re-signing the corpus index per batch is the O(corpus) k-hash
    # term the stored signatures exist to remove
    _assert_minhash_only_on_arrivals(p)


def test_containment_steady_probe_reads_persisted_index(spark, queries):
    """dedup_containment_incremental_steady probes the SAME persisted
    shingle index as the minhash steady twin (tokenize once, probe
    many detectors): the plan must scan the staged index path, and the
    only documents scan is the arrival batch's tokenize (the cached
    arr_ids table — a corpus re-tokenize would add unfiltered
    documents scans)."""
    df = queries["dedup_containment_incremental_steady"](spark, SF_SMOKE)
    p = audit.plan_string(df)
    assert "oamap_steady_idx" in p, p[:2000]
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")


def test_embedding_steady_probe_reads_persisted_index(spark, queries):
    """dedup_embedding_incremental_steady: the corpus band signatures
    come from the persisted parquet index — exactly ONE band-key UDF
    node (the arrival batch's; formatted explain prints each node
    twice, tree + detail) and three embeddings scans (verify side
    ×2 for the id_a/id_b joins + arrival signing). Re-signing the
    corpus would add a second ArrowEvalPython node and a fourth
    scan."""
    df = queries["dedup_embedding_incremental_steady"](spark, SF_SMOKE)
    p = audit.plan_string(df)
    assert "oamap_steady_embidx" in p, p[:2000]
    assert p.count("ArrowEvalPython") == 2, p.count("ArrowEvalPython")
    assert p.count("embeddings.parquet") == 3, p.count("embeddings.parquet")


def test_span_steady_probe_reads_persisted_index(spark, queries):
    """dedup_span_removal_steady: the corpus half of the (id, pos,
    wid) window table is the persisted parquet index — the plan scans
    it, and every documents scan is arrival-restricted: toks/T branch,
    the arrival window build, and the probe semi-join's two uses (4
    scan nodes). A corpus re-tokenize would add a fifth, unfiltered
    scan."""
    df = queries["dedup_span_removal_steady"](spark, SF_SMOKE)
    p = audit.plan_string(df)
    assert "oamap_steady_spanidx" in p, p[:2000]
    assert p.count("documents.parquet") == 4, p.count("documents.parquet")


def test_ngram_steady_probe_reads_persisted_index(spark, queries):
    """dedup_ngram_overlap_steady: one more consumer of the persisted
    span window index — the plan scans it; the only documents scans
    are arrival-restricted (the cached arrival window build + the
    output id universe = 2 scan nodes); tokenize stays out of Filter
    nodes (InferFiltersFromGenerate dodge) and fully JVM-side."""
    df = queries["dedup_ngram_overlap_steady"](spark, SF_SMOKE)
    p = audit.plan_string(df)
    assert "oamap_steady_spanidx" in p, p[:2000]
    assert p.count("documents.parquet") == 2, p.count("documents.parquet")
    assert not any(
        "md5" in l for l in p.splitlines() if "Filter" in l
    ), "md5 inlined into a Filter (InferFiltersFromGenerate trap)"


def test_clusters_steady_probes_persisted_state(spark, queries, monkeypatch):
    """dedup_clusters_steady: BOTH pieces of persisted state appear as
    parquet scans — the corpus signature index (shared with the
    minhash steady twin) and the corpus cluster assignment — and the
    only documents scans are arrival-restricted (the cached pair
    probe's tokenize + the output's left-semi id universe; a corpus
    re-tokenize or an in-query corpus re-clustering would add
    unfiltered scans). The contraction is the operator's one bounded
    collect, so its plan is read from the frame the driver finish
    receives; the returned frame joins the finished labels to the
    arrivals. Neither plan evaluates Python per row."""
    from oamap_spark.operators import clustering as C

    collected = []
    finish = C._driver_finish

    def spy(ends, rows):
        collected.append(ends)
        return finish(ends, rows)

    monkeypatch.setattr(C, "_driver_finish", spy)
    df = queries["dedup_clusters_steady"](spark, SF_SMOKE)
    assert len(collected) == 1
    p = audit.plan_string(collected[0])
    out = audit.plan_string(df)
    assert "oamap_steady_idx" in p, p[:2000]
    assert "oamap_steady_clusters" in p, p[:2000]
    # the pair probe bands the persisted corpus sig instead of
    # re-signing the corpus index per batch
    _assert_minhash_only_on_arrivals(p)
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")
    assert out.count("documents.parquet") == 1, out
    for plan in (p, out):
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan[:2000]



def test_incremental_bloom_prunes_corpus_side(spark):
    """dedup_incremental_bloom_pruned: the Bloom position probes
    (LeftSemi hash joins on xxhash64 of the digest) must sit on the
    CORPUS input BELOW the arrival←corpus left join — the corpus index
    sheds non-arrival digests before that join's exchange. Stays
    JVM-side throughout."""
    from oamap_spark.queries.llm_dedup import dedup_incremental_bloom_pruned

    keep = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = dedup_incremental_bloom_pruned(spark, SF_SMOKE)
        plan = audit.plan_string(df, mode="simple")
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan
        lines = plan.splitlines()
        outer = [
            i for i, l in enumerate(lines) if "SortMergeJoin" in l and "LeftOuter" in l
        ]
        probe = [
            i for i, l in enumerate(lines) if "LeftSemi" in l and "xxhash64" in l
        ]
        assert outer and len(probe) == 2, plan
        assert all(i > min(outer) for i in probe), (
            "bloom probes printed above the left join — corpus not "
            "pruned pre-join\n" + plan
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", keep)


def test_exact_steady_probe_reads_persisted_index(spark, queries):
    """dedup_exact_incremental_steady: the corpus digest set comes
    from the persisted parquet index — one documents scan (the
    arrivals'), zero Python nodes, pure JVM digest + left join."""
    df = queries["dedup_exact_incremental_steady"](spark, SF_SMOKE)
    p = audit.plan_string(df)
    assert "oamap_steady_digidx" in p, p[:2000]
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")


def test_apply_components_update_broadcasts_relabel_map(spark):
    """apply_components_update's 100 TB claim (operators/clustering.py):
    the |assignment|-sized relabel join runs against a BROADCAST of the
    batch-bounded rep relabel map — the corpus-wide assignment is never
    shuffled to merge a daily batch. Pinned with
    autoBroadcastJoinThreshold=-1 so only the explicit hint can produce
    a BroadcastHashJoin: the plan must carry exactly one."""
    import re

    from oamap_spark.operators import clustering as C

    def edges(pairs):
        return spark.createDataFrame(pairs, "id_a: long, id_b: long")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        asg = C.connected_components_min_id(edges([(1, 2), (10, 11)]))
        out = C.apply_components_update(asg, edges([(2, 50), (50, 10)]))
        p = audit.plan_string(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    hits = re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)
    assert len(hits) == 1, p


def test_apply_components_update_driver_finish_is_local_relation(
    spark, tmp_path
):
    """On the driver-finish path the fold's relabel map and fresh-node
    labels are Arrow-built local relations: the plan of
    apply_components_update over parquet inputs holds LocalTableScan
    and no RDD scan, so no micro-batch starts a Python worker to read
    them. (tools/plan_census.py cannot see inside foreachBatch bodies,
    so this plan is pinned here.)"""
    from oamap_spark.operators import clustering as C

    spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)], "node long, cluster_id long"
    ).write.parquet(str(tmp_path / "asg"))
    spark.createDataFrame(
        [(2, 50), (50, 10), (70, 71)], "id_a long, id_b long"
    ).write.parquet(str(tmp_path / "pairs"))
    asg = spark.read.parquet(str(tmp_path / "asg"))
    pairs = spark.read.parquet(str(tmp_path / "pairs"))
    p = audit.plan_string(C.apply_components_update(asg, pairs))
    assert "LocalTableScan" in p, p
    assert not re.search(r"ExistingRDD|Scan RDD|RDDScan", p), p
