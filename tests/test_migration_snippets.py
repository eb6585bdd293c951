"""MIGRATION.md's LLM-pipeline cookbook, executed — the snippets in
the doc are these, verbatim (modulo the `docs`/`events` fixtures), so
the cookbook cannot drift from the code."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _events(spark):
    return spark.read.parquet(f"{SF_SMOKE}/events.parquet")


def test_snippet_minhash_lsh_pairs(spark):
    from oamap_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text",
        k=16, rows_per_band=2, threshold=0.8,
        bucket_cap=50,
    )
    rows = pairs.collect()
    assert {"id_a", "id_b"} <= set(pairs.columns)
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_snippet_heavy_hitters(spark):
    from oamap_spark.operators.heavyhitters import heavy_hitters

    docs = _docs(spark)
    toks = docs.select(F.explode(F.split("text", " ")).alias("item"))
    hot = heavy_hitters(toks, "item", min_frac=0.002, capacity=512)
    rows = hot.collect()
    assert rows and all(r["cnt"] > 0 for r in rows)


def test_snippet_hll_sketch_rollup(spark):
    from oamap_spark.operators import sketches as SK

    events = _events(spark)
    daily = SK.group_sketches(events, ["event_type"], "user_id")
    total = SK.rollup_estimate(daily, [])
    est = total.collect()[0][0]
    exact = events.select("user_id").distinct().count()
    assert abs(est - exact) <= max(2, 0.05 * exact)


def test_snippet_train_test_split(spark):
    from oamap_spark.operators.sampling import train_test_split

    docs = _docs(spark)
    tagged = train_test_split(docs, "doc_id", test_fraction=0.1)
    counts = {r["split"]: r["n"] for r in
              tagged.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= {"train", "test"}
    assert counts.get("train", 0) > counts.get("test", 0)
    # determinism: same keys → same assignment on re-run
    again = {r["split"]: r["n"] for r in
             train_test_split(docs, "doc_id", test_fraction=0.1)
             .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == again


def test_snippet_salted_join(spark):
    from oamap_spark.operators.partitioning import salted_join

    # stand-ins for the doc's events_by_domain / domain_stats: a hot
    # "domain_key" carrying most rows, joined to a keyed stats table
    events_by_domain = _events(spark).select(
        F.when(F.col("user_id") % 5 == 0, F.col("user_id"))
        .otherwise(F.lit(42))
        .alias("domain_key"),
        "value",
    )
    domain_stats = (
        _events(spark)
        .select(
            F.when(F.col("user_id") % 5 == 0, F.col("user_id"))
            .otherwise(F.lit(42))
            .alias("domain_key")
        )
        .groupBy("domain_key")
        .count()
    )
    hits = salted_join(domain_stats, events_by_domain, "domain_key", salt=8)
    plain = events_by_domain.join(domain_stats, "domain_key")
    assert hits.count() == plain.count()
    assert "__salt" not in hits.columns


def test_snippet_containment_pairs(spark):
    from oamap_spark.operators.dedup import containment_pairs

    docs = _docs(spark)
    quoted = containment_pairs(docs, "doc_id", "text", threshold=0.8)
    rows = quoted.collect()
    assert {"id_a", "id_b", "containment"} <= set(quoted.columns)
    assert all(r["containment"] >= 0.8 for r in rows)


def test_snippet_epoch_shuffle(spark):
    from oamap_spark.operators.sampling import epoch_shuffle

    docs = _docs(spark)
    ordered = epoch_shuffle(docs, "doc_id", epoch=1)
    pos = [r["epoch_pos"] for r in ordered.collect()]
    assert sorted(pos) == list(range(len(pos)))


def test_snippet_greedy_pack_slots(spark):
    from pyspark.sql import functions as F

    from oamap_spark.operators.packing import greedy_pack_slots

    docs = _docs(spark)
    slots = greedy_pack_slots(
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tok")),
        "doc_id", "n_tok", capacity=2048)
    rows = slots.collect()
    assert len(rows) == docs.count()
    assert {"doc_id", "bucket", "seq_idx", "seq_off"} == set(slots.columns)


def test_snippet_temperature_mixture(spark):
    from oamap_spark.operators.sampling import temperature_mixture_sample

    docs = _docs(spark)
    mixed = temperature_mixture_sample(docs, "doc_id", "source", 0.25)
    n, total = mixed.count(), docs.count()
    assert 0 < n < total


def test_snippet_all_signals_dedup(spark):
    from oamap_spark.cache import track
    from oamap_spark.operators.clustering import (connected_components_min_id,
                                                  dedup_keepers)
    from oamap_spark.operators.dedup import (containment_pairs,
                                             minhash_lsh_pairs,
                                             shingle_ids_table)

    docs = _docs(spark)
    sids = track(shingle_ids_table(docs, "doc_id", "text"))
    edges = (minhash_lsh_pairs(docs, "doc_id", "text", ids_df=sids)
             .select("id_a", "id_b")
             .unionByName(containment_pairs(docs, "doc_id", "text",
                                            ids_df=sids)
                          .select("id_a", "id_b"))
             .distinct())
    kept = dedup_keepers(docs, "doc_id", connected_components_min_id(edges))
    assert 0 < kept.count() <= docs.count()


def test_snippet_steady_cluster_merge(spark, tmp_path):
    from oamap_spark.operators.clustering import (
        connected_components_min_id, incremental_components_min_id)
    from oamap_spark.operators.dedup import (flagged_shingle_ids_table,
                                             minhash_lsh_pairs,
                                             minhash_lsh_pairs_incremental,
                                             shingle_ids_table)

    docs = _docs(spark)
    corpus = docs.where(F.substring("source", 4, 10).cast("int") < 18)
    batch = docs.where(F.substring("source", 4, 10).cast("int") >= 18)
    idx_path = str(tmp_path / "idx")
    asg_path = str(tmp_path / "asg")
    shingle_ids_table(corpus, "doc_id", "text").write.parquet(idx_path)
    edges = minhash_lsh_pairs(
        corpus, "doc_id", "text", threshold=0.8).select("id_a", "id_b")
    connected_components_min_id(edges).write.parquet(asg_path)
    # ... next day ...
    arr = flagged_shingle_ids_table(batch, "doc_id", "text")  # every row new
    ids = (spark.read.parquet(idx_path)
           .select("id", F.lit(False).alias("is_new"), "ids")
           .unionByName(arr))
    mh = minhash_lsh_pairs_incremental(
        None, "doc_id", "text", "is_new", threshold=0.8, ids_df=ids)
    merged = incremental_components_min_id(
        mh.select("id_a", "id_b"), spark.read.parquet(asg_path))
    # bit-identical to rerunning batch CC over the whole corpus,
    # restricted to the arrival-touched nodes
    full = connected_components_min_id(
        minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
        .select("id_a", "id_b"))
    touched = {r["node"] for r in merged.select("node").collect()}
    want = {(r["node"], r["cluster_id"])
            for r in full.collect() if r["node"] in touched}
    got = {(r["node"], r["cluster_id"]) for r in merged.collect()}
    assert got == want and got
    # persist the NEXT state back — full-node-set fixpoint
    from oamap_spark.operators.clustering import apply_components_update
    apply_components_update(
        spark.read.parquet(asg_path), mh.select("id_a", "id_b")
    ).write.parquet(asg_path + ".next")
    nxt = {(r["node"], r["cluster_id"])
           for r in spark.read.parquet(asg_path + ".next").collect()}
    assert nxt == {(r["node"], r["cluster_id"]) for r in full.collect()}


def test_snippet_span_removal_and_quality_keeper(spark):
    from pyspark.sql import Window

    from oamap_spark.operators.clustering import connected_components_min_id
    from oamap_spark.operators.dedup import (duplicated_span_removal,
                                             minhash_lsh_pairs,
                                             shingle_ids_table)

    docs = _docs(spark)
    manifest = duplicated_span_removal(docs, "doc_id", "text", n=8)
    assert manifest.count() == docs.count()
    assert {"id", "n_tokens", "n_spans_cut", "kept_char_len",
            "cleaned_digest"} == set(manifest.columns)

    sids = shingle_ids_table(docs, "doc_id", "text")
    edges = minhash_lsh_pairs(docs, "doc_id", "text",
                              ids_df=sids).select("id_a", "id_b")
    comp = connected_components_min_id(edges)
    members = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node")
    best = members.withColumn(
        "rn", F.row_number().over(Window.partitionBy("cluster_id")
                                  .orderBy(F.col("n_chars").desc(), "node"))
    ).where("rn = 1")
    # exactly one keeper per cluster
    assert best.count() == comp.select("cluster_id").distinct().count()


def test_snippet_minhash_incremental(spark):
    from oamap_spark.operators.dedup import minhash_lsh_pairs_incremental

    docs = _docs(spark)
    flagged = docs.withColumn(
        "is_new", F.substring("source", 4, 10).cast("int") >= 10)
    new_dups = minhash_lsh_pairs_incremental(
        flagged, "doc_id", "text", "is_new", threshold=0.8)
    arrivals = {r["doc_id"]
                for r in flagged.where("is_new").select("doc_id").collect()}
    rows = new_dups.collect()
    assert all(r["id_a"] in arrivals or r["id_b"] in arrivals for r in rows)


def test_snippet_incremental_multi_detector_shared_ids(spark):
    from oamap_spark.cache import track
    from oamap_spark.operators.dedup import (containment_pairs_incremental,
                                             flagged_shingle_ids_table,
                                             minhash_lsh_pairs_incremental)

    docs = _docs(spark)
    flagged = docs.withColumn(
        "is_new", F.substring("source", 4, 10).cast("int") >= 10)
    fids = track(flagged_shingle_ids_table(flagged, "doc_id", "text", "is_new"))
    mh = minhash_lsh_pairs_incremental(
        flagged, "doc_id", "text", "is_new", threshold=0.8, ids_df=fids)
    ct = containment_pairs_incremental(
        flagged, "doc_id", "text", "is_new", ids_df=fids)
    # shared table must give the same answers as per-detector builds
    assert {(r["id_a"], r["id_b"]) for r in mh.collect()} == {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_incremental(
            flagged, "doc_id", "text", "is_new", threshold=0.8
        ).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in ct.collect()} == {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_incremental(
            flagged, "doc_id", "text", "is_new"
        ).collect()
    }


def test_snippet_bloom_semijoin_reduce(spark):
    from oamap_spark.operators.partitioning import bloom_semijoin_reduce

    fact = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").selectExpr(
        "l_orderkey as fact_key", "l_quantity"
    )
    dim = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
        "o_orderpriority = '1-URGENT'"
    ).selectExpr("o_orderkey as dim_key")
    fact_flt = bloom_semijoin_reduce(fact, dim, "fact_key", "dim_key",
                                     n_bits=1 << 20)
    result = fact_flt.join(dim, fact_flt.fact_key == dim.dim_key)
    plain = fact.join(dim, fact.fact_key == dim.dim_key)
    assert result.count() == plain.count()


def test_snippet_layout_levers(spark, tmp_path):
    from oamap_spark.operators.layout import compact
    from oamap_spark.operators.partitioning import write_bucketed

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    try:
        write_bucketed(
            orders, "orders_b", "o_custkey", 8, str(tmp_path / "orders_b")
        )
        write_bucketed(
            customer, "cust_b", "c_custkey", 8, str(tmp_path / "cust_b")
        )
        j = spark.table("orders_b").join(
            spark.table("cust_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        assert j.count() == orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")

    raw = str(tmp_path / "events_raw")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").repartition(
        16
    ).write.parquet(raw)
    n_files = compact(
        spark, raw, str(tmp_path / "events"), target_file_mb=128,
        even_sizes=True,
    )
    assert n_files == 1  # sf0.001 events fit one 128 MB target

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs.write.partitionBy("lang").parquet(str(tmp_path / "docs_by_lang"))
    part = spark.read.parquet(str(tmp_path / "docs_by_lang"))
    assert part.count() == docs.count()


def test_snippet_steady_state_shared_index(spark, tmp_path):
    from oamap_spark.cache import track
    from oamap_spark.operators.dedup import (
        containment_pairs_incremental,
        flagged_shingle_ids_table,
        minhash_lsh_pairs_incremental,
        shingle_ids_table,
    )

    docs = _docs(spark)
    src_num = F.substring("source", 4, 10).cast("int")
    corpus = docs.where(src_num < 10)
    batch = docs.where(src_num >= 10)
    idx_path = str(tmp_path / "shingle_idx")
    shingle_ids_table(corpus, "doc_id", "text").write.parquet(idx_path)
    arr = track(flagged_shingle_ids_table(batch, "doc_id", "text"))  # all new
    ids = (
        spark.read.parquet(idx_path)
        .select("id", F.lit(False).alias("is_new"), "ids")
        .unionByName(arr)
    )
    mh = minhash_lsh_pairs_incremental(
        None, "doc_id", "text", "is_new", threshold=0.8, ids_df=ids
    )
    ct = containment_pairs_incremental(
        None, "doc_id", "text", "is_new", ids_df=ids
    )
    # the persisted-index probe must give the same answers as the
    # cold-start run that re-derives everything from text
    flagged = docs.withColumn("is_new", src_num >= 10)
    assert {(r["id_a"], r["id_b"]) for r in mh.collect()} == {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_incremental(
            flagged, "doc_id", "text", "is_new", threshold=0.8
        ).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in ct.collect()} == {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_incremental(
            flagged, "doc_id", "text", "is_new"
        ).collect()
    }


def test_snippet_steady_span_removal(spark, tmp_path):
    from oamap_spark.operators.dedup import (
        duplicated_span_removal,
        positional_window_table,
    )

    docs = _docs(spark)
    src_num = F.substring("source", 4, 10).cast("int")
    corpus = docs.where(src_num < 10)
    batch = docs.where(src_num >= 10)
    wpath = str(tmp_path / "window_idx")
    positional_window_table(corpus, "doc_id", "text", 8).write.parquet(wpath)
    w = spark.read.parquet(wpath).unionByName(
        positional_window_table(batch, "doc_id", "text", 8)
    )
    cleaned = duplicated_span_removal(
        batch, "doc_id", "text", n=8, probe_ids=batch.select("doc_id"), w_df=w
    )
    got = {r["id"]: tuple(r) for r in cleaned.collect()}
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    full = {
        r["id"]: tuple(r)
        for r in duplicated_span_removal(docs, "doc_id", "text", n=8).collect()
        if r["id"] in batch_ids
    }
    assert got == full


def test_snippet_zorder_incremental(spark, tmp_path):
    from oamap_spark.operators.layout import zorder_incremental, zorder_write

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "orders_z")
    todays_orders = orders.where("o_orderkey % 10 = 0")
    zorder_write(
        orders.where("o_orderkey % 10 != 0"),
        path,
        ["o_custkey", "o_totalprice"],
        n_files=8,
    )
    stats = zorder_incremental(spark, path, todays_orders)
    assert stats["total_files"] == 8 and stats["rewritten_files"] >= 1
    assert spark.read.parquet(path).count() == orders.count()
