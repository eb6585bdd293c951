"""Second-wave analytics coverage: statistical moments, date-spine gap
fill, rank-variant windows, approximate percentiles, and outer-explode
null semantics (SURVEY §2.D widening)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oamap_spark.queries.registry import register
from oamap_spark.sources.tables import load_table


@register(
    "stats_moments_suite",
    tags=("agg", "stats", "moments"),
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       round(avg(l_discount), 6) AS avg_disc
FROM lineitem
GROUP BY l_returnflag
""",
)
def stats_moments_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per return flag: sample stddev /
    variance, Pearson correlation, sample covariance. All algebraic
    aggregates — single shuffle with map-side partials at any scale;
    rounded on both engines so the (identical to ~1e-14 relative)
    float sums hash equal."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


@register(
    "date_spine_gap_fill",
    tags=("join", "date_spine", "gap_fill"),
    oracle="""
WITH spine AS (
  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                     INTERVAL 1 DAY)) AS DATE) AS day
),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
         round(sum(o_totalprice), 2) AS total
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
  GROUP BY 1
)
SELECT s.day, coalesce(d.n, 0) AS n, coalesce(d.total, 0.0) AS total
FROM spine s LEFT JOIN daily d ON s.day = d.day
""",
)
def date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily order series over a fixed Q1-1995 spine:
    calendar days with zero orders appear with n=0 (the OLAP
    time-series densification idiom). The spine is generated (one row,
    sequence, explode — no table scan) and the daily aggregate joins
    onto it. The spine is the preserved side of the left outer join,
    so it can never be the build side; the daily aggregate (at most 90
    rows, one per day) is broadcast instead."""
    orders = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1995-01-01")),
                F.to_date(F.lit("1995-03-31")),
            )
        ).alias("day")
    )
    daily = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    return spine.join(F.broadcast(daily), "day", "left").select(
        "day",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("total", F.lit(0.0)).alias("total"),
    )


@register(
    "window_rank_variants",
    tags=("window", "ntile", "percent_rank", "cume_dist"),
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-variant window family (ntile / percent_rank /
    cume_dist) per customer, price-ordered. o_orderkey appended to the
    ordering so ntile's bucket assignment is deterministic under price
    ties. One shuffle on the partition key."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "percentile_approx_price",
    tags=("agg", "percentile", "approx", "tolerance_gated"),
    # Tolerance-mode oracle (VERDICT r3 "Next round #8"): the approx
    # sketch is engine-internal (Spark GK vs DuckDB t-digest), so raw
    # estimates can't hash-match. Each engine instead certifies ITS OWN
    # approx against ITS OWN exact quantile inside a pinned ±2% band,
    # emitting the boolean — and the exact quantiles (rounded) cross-
    # check between engines. A broken sketch OR a broken exact
    # percentile red-flags the row.
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
       round(quantile_cont(o_totalprice, 0.95), 2) AS exact_p95,
       abs(approx_quantile(o_totalprice, 0.5) - quantile_cont(o_totalprice, 0.5))
         <= 0.02 * quantile_cont(o_totalprice, 0.5) AS p50_within_2pct,
       abs(approx_quantile(o_totalprice, 0.95) - quantile_cont(o_totalprice, 0.95))
         <= 0.02 * quantile_cont(o_totalprice, 0.95) AS p95_within_2pct
FROM orders
GROUP BY o_orderstatus
""",
)
def percentile_approx_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles of o_totalprice via percentile_approx
    with accuracy 10⁴ — the sketch is mergeable, so at 100 TB this is
    one map-side sketch per partition + a tiny reduce, never a global
    sort (the exact-percentile oracle twin `percentiles_order_price`
    is the global-sort form). Gated in tolerance mode: the query emits
    |approx − exact| ≤ 2%·exact as a boolean per group (computed
    engine-side against the engine's own exact percentile), plus the
    exact quantiles themselves for the cross-engine hash."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("e50"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("e95"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.percentile_approx("o_totalprice", F.lit(0.95), F.lit(10000)).alias("a95"),
    )
    return g.select(
        "o_orderstatus",
        F.round("e50", 2).alias("exact_p50"),
        F.round("e95", 2).alias("exact_p95"),
        (F.abs(F.col("a50") - F.col("e50")) <= 0.02 * F.col("e50")).alias(
            "p50_within_2pct"
        ),
        (F.abs(F.col("a95") - F.col("e95")) <= 0.02 * F.col("e95")).alias(
            "p95_within_2pct"
        ),
    )


@register(
    "explode_outer_null_semantics",
    tags=("generator", "explode_outer", "nulls"),
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN []
              WHEN o_orderstatus = 'F' THEN NULL
              ELSE [o_orderpriority, o_orderstatus] END AS arr
  FROM orders
),
x AS (
  SELECT o_orderkey,
         unnest(CASE WHEN arr IS NULL OR len(arr) = 0
                     THEN [NULL] ELSE arr END) AS item
  FROM t
)
SELECT o_orderkey, item FROM x
""",
)
def explode_outer_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer's null semantics pinned: NULL arrays and EMPTY
    arrays both keep their parent row with item=NULL (plain explode
    would drop them — the classic silent-row-loss bug in nested
    pipelines; oamap's masked-list distinction, SURVEY §7.5). The
    oracle encodes the same contract via the [NULL]-substitution
    idiom."""
    orders = load_table(spark, sf_dir, "orders")
    arr = (
        F.when(F.col("o_orderstatus") == "O", F.array().cast("array<string>"))
        .when(F.col("o_orderstatus") == "F", F.lit(None).cast("array<string>"))
        .otherwise(F.array("o_orderpriority", "o_orderstatus"))
    )
    return orders.select(
        "o_orderkey", F.explode_outer(arr).alias("item")
    )


@register(
    "window_range_7d_sum",
    tags=("window", "range_frame", "interval"),
    oracle="""
WITH e AS (
  SELECT event_id, user_id, value,
         make_timestamp(epoch_ns(ts) // 1000) AS tsu
  FROM events
)
SELECT event_id, user_id,
       round(sum(value) OVER w, 2) AS sum_7d,
       CAST(count(*) OVER w AS BIGINT) AS n_7d
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tsu
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
""",
)
def window_range_7d_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (vs the ROWS frames elsewhere): per-user
    trailing-7-day sum/count of event values — the frame is defined by
    the ORDER key's VALUE distance, so timestamp ties share one frame.
    Spark side orders by epoch-µs with a µs range; the oracle uses the
    equivalent INTERVAL frame. One shuffle on the partition key."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("sum_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


@register(
    "median_by_status",
    tags=("agg", "median", "percentile"),
    oracle="""
SELECT o_orderstatus,
       round(median(o_totalprice), 2) AS med_price,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
FROM orders
GROUP BY o_orderstatus
""",
)
def median_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median + p90 per order status (both engines
    use the same linear interpolation between adjacent order
    statistics). Exact percentiles sort within the group — fine for
    bounded group counts; the sketch path for 100 TB is
    percentile_approx_price."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 2).alias("med_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90_price"),
    )


@register(
    "map_hof_suite",
    tags=("map", "hof", "transform_values", "map_filter"),
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type, n, CAST(n * 2 AS BIGINT) AS n_doubled
FROM c WHERE n > 3
""",
)
def map_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions end-to-end: per-user event-type
    counts packed into a MapType (map_from_entries), doubled with
    transform_values, thresholded with map_filter, then exploded back
    to rows via map_entries. The oracle is the relational image of the
    same pipeline — the map ops must neither drop nor duplicate
    entries."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    packed = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    doubled = packed.withColumn(
        "m2", F.transform_values(F.col("m"), lambda k, v: v * 2)
    )
    filtered = doubled.withColumn(
        "mf", F.map_filter(F.col("m"), lambda k, v: v > 3)
    )
    entries = filtered.select(
        "user_id", F.explode(F.map_entries("mf")).alias("e"), "m2"
    )
    return entries.select(
        "user_id",
        F.col("e.key").alias("event_type"),
        F.col("e.value").alias("n"),
        F.element_at(F.col("m2"), F.col("e.key")).alias("n_doubled"),
    )


def _pagerank_iter_sql(k: int) -> str:
    """One unrolled PageRank CTE step: r{k} from r{k-1}. Per-iteration
    round(12) keeps both engines on identical doubles so float sum
    order can't drift across 5 iterations."""
    return f"""
r{k} AS (
  SELECT an.node,
         round(0.15 / an.cnt + 0.85 * COALESCE(sum(rp.rank * e.w / ow.wout), 0.0),
               12) AS rank
  FROM an
  LEFT JOIN e  ON e.next = an.node
  LEFT JOIN r{k - 1} rp ON rp.node = e.prev
  LEFT JOIN ow ON ow.node = e.prev
  GROUP BY an.node, an.cnt
)"""


@register(
    "pagerank_event_types",
    bench=True,
    tags=("graph", "iterative", "pagerank"),
    oracle=(
        """
WITH pairs AS (
  SELECT event_type AS next,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
),
e AS (
  SELECT prev, next, CAST(count(*) AS DOUBLE) AS w
  FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2
),
ow AS (SELECT prev AS node, sum(w) AS wout FROM e GROUP BY 1),
an AS (
  SELECT event_type AS node,
         CAST((SELECT count(DISTINCT event_type) FROM events) AS DOUBLE) AS cnt
  FROM events GROUP BY 1
),
r0 AS (SELECT node, round(1.0 / cnt, 12) AS rank FROM an),
"""
        + ",".join(_pagerank_iter_sql(k) for k in range(1, 6))
        + """
SELECT node AS event_type, round(rank, 6) AS pagerank FROM r5
"""
    ),
)
def pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm with an EXACT SQL oracle: 5 power iterations
    of PageRank (d=0.85, no dangling redistribution) over the
    event-type transition graph. The heavy part — condensing 600k
    events into the weighted edge list — is one window pass + one agg;
    the iteration then runs over a dimension-sized node set, entirely
    as lazy DataFrame joins (no collect; the node count reaches the
    plan as a 1-row broadcast cross join). Per-iteration round(12) pins
    both engines to identical doubles so summation order can't drift.
    At 100 TB the edge condensation dominates and stays two shuffles;
    the iteration cost is independent of event volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("next"),
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    e = pairs.groupBy("prev", "next").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    ow = e.groupBy(F.col("prev").alias("node")).agg(F.sum("w").alias("wout"))
    ncnt = ev.select("event_type").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    an = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .crossJoin(F.broadcast(ncnt))
    )
    rank = an.select("node", F.round(F.lit(1.0) / F.col("cnt"), 12).alias("rank"))
    for _ in range(5):
        contrib = (
            e.join(rank.withColumnRenamed("node", "prev"), "prev")
            .join(ow.withColumnRenamed("node", "prev"), "prev")
            .select(
                F.col("next").alias("node"),
                (F.col("rank") * F.col("w") / F.col("wout")).alias("c"),
            )
        )
        rank = (
            an.join(contrib, "node", "left")
            .groupBy("node", "cnt")
            .agg(
                F.round(
                    F.lit(0.15) / F.col("cnt")
                    + F.lit(0.85) * F.coalesce(F.sum("c"), F.lit(0.0)),
                    12,
                ).alias("rank")
            )
            .select("node", "rank")
        )
    # rank already covers every node (left join from `an` each round)
    return rank.select(
        F.col("node").alias("event_type"), F.round("rank", 6).alias("pagerank")
    )


@register(
    "interpolate_daily_values",
    tags=("timeseries", "window", "interpolation"),
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    * 100.0 / count(*) + 0.5) AS BIGINT) / 10000.0 AS observed
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
spine AS (
  SELECT t.event_type, CAST(u.d AS DATE) AS day
  FROM (SELECT DISTINCT event_type FROM daily) t
  CROSS JOIN bounds b,
       UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS u(d)
),
joined AS (
  SELECT s.event_type, s.day, d.observed FROM spine s
  LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day
),
ctx AS (
  SELECT event_type, day, observed,
    last_value(CASE WHEN observed IS NOT NULL THEN day END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    last_value(observed IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    first_value(CASE WHEN observed IS NOT NULL THEN day END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
    first_value(observed IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM joined
)
SELECT event_type, day, observed,
  CAST(floor((CASE
    WHEN observed IS NOT NULL THEN observed
    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
      pv + (nv - pv) * date_diff('day', pd, day)
                     / date_diff('day', pd, nd)
    WHEN pv IS NOT NULL THEN pv
    ELSE nv END) * 10000.0 + 0.5) AS BIGINT) / 10000.0 AS interp
FROM ctx
""",
)
def interpolate_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with LINEAR interpolation: daily averages
    per event type on a full calendar spine; missing days take
    prev + (next−prev)·Δt/T between the nearest observed neighbours
    (hold / backfill at the edges). Two IGNORE-NULLS window passes over
    the same (type, day-ordered) partitioning — one shuffle total for
    spine join + both windows; the spine is generated, never stored.
    The observed mean uses an exact integer-cents sum and the
    deterministic floor(x·10⁴+0.5) rounding, so both engines
    interpolate from — and emit — bit-identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    # integer-cents sum → the daily mean is EXACT and order-independent
    # (a float avg can land on a rounding boundary differently per
    # engine depending on summation order)
    # deterministic 4-decimal rounding: both engines compute the SAME
    # double (exact integer-cents sum → one division), then
    # floor(x·10⁴+0.5) — engine round() implementations disagree on
    # exact decimal boundaries (BigDecimal HALF_UP vs pure-double)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        (
            F.floor(
                F.sum(F.round(F.col("value") * 100).cast("long"))
                * F.lit(100.0)
                / F.count(F.lit(1))
                + F.lit(0.5)
            ).cast("long")
            / F.lit(10000.0)
        ).alias("observed")
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("observed").isNotNull(), F.col("day"))
    ctx = joined.select(
        "event_type",
        "day",
        "observed",
        F.last(obs_day, ignorenulls=True).over(back).alias("pd"),
        F.last("observed", ignorenulls=True).over(back).alias("pv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
        F.first("observed", ignorenulls=True).over(fwd).alias("nv"),
    )
    interp = (
        F.when(F.col("observed").isNotNull(), F.col("observed"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff("day", "pd")
            / F.datediff("nd", "pd"),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return ctx.select(
        "event_type",
        "day",
        "observed",
        (F.floor(interp * 10000.0 + F.lit(0.5)).cast("long") / F.lit(10000.0)).alias(
            "interp"
        ),
    )


@register(
    "table_stats_profile",
    tags=("profiling", "stats", "metadata"),
    oracle="""
SELECT 'l_quantity' AS col, count(*) AS n_rows,
       count(*) - count(l_quantity) AS n_null,
       CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
       CAST(min(l_quantity) AS DOUBLE) AS mn,
       CAST(max(l_quantity) AS DOUBLE) AS mx
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
       CAST(count(DISTINCT l_extendedprice) AS BIGINT),
       CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*), count(*) - count(l_discount),
       CAST(count(DISTINCT l_discount) AS BIGINT),
       CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE)
FROM lineitem
""",
)
def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling (row count, nulls, NDV, min/max
    per column) — the stats a catalog or a data-quality gate collects.
    ONE scan: a single multi-distinct aggregate row, exploded into
    per-column rows driver-free (the oracle's three-scan UNION ALL is
    the naive form; results identical). All measures are exact, so no
    float-rounding concerns."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"cnt_{c}"),
            F.countDistinct(c).alias(f"ndv_{c}"),
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    one = li.agg(*aggs)
    per_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col"),
                    (F.col("n_rows") - F.col(f"cnt_{c}")).alias("n_null"),
                    F.col(f"ndv_{c}").alias("ndv"),
                    F.col(f"mn_{c}").alias("mn"),
                    F.col(f"mx_{c}").alias("mx"),
                )
                for c in cols
            ]
        )
    ).alias("s")
    return one.select("n_rows", per_col).select(
        F.col("s.col").alias("col"),
        "n_rows",
        F.col("s.n_null").alias("n_null"),
        F.col("s.ndv").alias("ndv"),
        F.col("s.mn").alias("mn"),
        F.col("s.mx").alias("mx"),
    )


@register(
    "zscore_normalize_by_group",
    tags=("features", "window", "normalization"),
    oracle="""
WITH s AS (
  SELECT event_type,
         avg(value) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(value) OVER (PARTITION BY event_type) AS sd,
         event_id, value
  FROM events
)
SELECT event_id, event_type,
       CAST(floor((value - mu) / sd * 10000.0 + 0.5) AS BIGINT) / 10000.0 AS z
FROM s
""",
)
def zscore_normalize_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization — the feature-engineering
    staple: every event's value standardized against its type's mean
    and sample stddev, computed as WINDOW aggregates so the row set is
    preserved (no join back after a groupBy). One shuffle on the group
    key serves both moments. The engines' float sums agree to ~1e-14
    relative here; the floor(x·10⁴+0.5) idiom absorbs that (and any
    exact-boundary round() divergence) deterministically."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sd
    return ev.select(
        "event_id",
        "event_type",
        (F.floor(z * 10000.0 + F.lit(0.5)).cast("long") / F.lit(10000.0)).alias("z"),
    )


@register(
    "triangle_counts_event_graph",
    tags=("graph", "triangles", "self-join"),
    oracle="""
WITH pairs AS (
  SELECT event_type AS next,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
),
e AS (
  SELECT DISTINCT least(prev, next) AS a, greatest(prev, next) AS b
  FROM pairs WHERE prev IS NOT NULL AND prev <> next
),
tri AS (
  SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e ab
  JOIN e bc ON bc.a = ab.b
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
),
nodes AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY node
""",
)
def triangle_counts_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the undirected event-type transition
    graph — the canonical multi-way distributed self-join. Edges are
    canonicalized (a<b), triangles enumerated once each via the ordered
    a<b<c join pattern (no duplicate orientations to dedup), then each
    triangle credits its three corners. The 100 TB story matches
    PageRank's: the heavy step is condensing events into the
    dimension-sized edge list (one window pass + one distinct); the
    join cascade runs on edge-scale data."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("next"),
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull() & (F.col("prev") != F.col("next")))
    e = pairs.select(
        F.least("prev", "next").alias("a"), F.greatest("prev", "next").alias("b")
    ).distinct()
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("bc.a") == F.col("ab.b"))
        .join(ac, (F.col("ac.a") == F.col("ab.a")) & (F.col("ac.b") == F.col("bc.b")))
        .select(
            F.col("ab.a").alias("x"), F.col("ab.b").alias("y"), F.col("bc.b").alias("z")
        )
    )
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


@register(
    "orders_monthly_growth",
    tags=("timeseries", "growth", "lag"),
    oracle="""
WITH m AS (
  SELECT o_orderpriority AS pri,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1, 2
),
l AS (
  SELECT pri, mon, rev_cents,
         lag(rev_cents) OVER (PARTITION BY pri ORDER BY mon) AS prev
  FROM m
)
SELECT pri, mon, rev_cents,
       CAST(floor((rev_cents - prev) * 10000.0 / prev + 0.5) AS BIGINT)
         AS growth_bp
FROM l
""",
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per priority, in basis points.
    Integer-cents monthly sums make the growth ratio a division of
    exact integers (same double in both engines); floor(x·10⁴+0.5)
    rounds it deterministically. First month per group → NULL growth.
    One shuffle for the monthly agg; the lag window reuses it."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.date_trunc("month", "o_orderdate").cast("timestamp").alias("mon"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.partitionBy("pri").orderBy("mon")
    l = m.withColumn("prev", F.lag("rev_cents").over(w))
    growth = F.floor(
        (F.col("rev_cents") - F.col("prev")) * F.lit(10000.0) / F.col("prev")
        + F.lit(0.5)
    ).cast("long")
    return l.select("pri", "mon", "rev_cents", growth.alias("growth_bp"))


@register(
    "winsorized_value_stats",
    tags=("stats", "percentile", "outlier"),
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(avg(e.value), 4) AS mean_raw,
       round(avg(CASE WHEN e.value < b.lo THEN b.lo
                      WHEN e.value > b.hi THEN b.hi
                      ELSE e.value END), 4) AS mean_winsorized,
       round(b.lo, 4) AS p05,
       round(b.hi, 4) AS p95
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type, b.lo, b.hi
""",
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust profiling: per event type, the mean before and
    after winsorizing `value` at the exact [p05, p95] band. Exact
    interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear interpolation) computed once per
    group — a 5-row aggregate joined back broadcast-style; the wide
    scan happens exactly twice and at 100 TB the percentile pass would
    switch to `percentile_approx` (declared separately as
    `percentile_approx_price`) without changing this plan's shape."""
    ev = load_table(spark, sf_dir, "events")
    bands = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    j = ev.join(F.broadcast(bands), "event_type")
    capped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return j.groupBy("event_type", "lo", "hi").agg(
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg(capped), 4).alias("mean_winsorized"),
    ).select(
        "event_type",
        "mean_raw",
        "mean_winsorized",
        F.round("lo", 4).alias("p05"),
        F.round("hi", 4).alias("p95"),
    )


@register(
    "event_type_entropy_daily",
    tags=("stats", "entropy", "profiling"),
    oracle="""
WITH c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), t AS (
  SELECT day, sum(n) AS tot FROM c GROUP BY day
)
SELECT c.day,
       round(-sum((n / tot) * ln(n / tot)), 6) AS entropy_nats,
       count(*) AS n_types
FROM c JOIN t USING (day)
GROUP BY c.day
""",
)
def event_type_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type mix per day — drift/anomaly
    profiling (a collapsed mix flags instrumentation breakage). Two
    narrow aggregations over (day, type) counts; the per-day total
    re-joins on the tiny day key."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("day").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    return (
        c.join(F.broadcast(t), "day")
        .groupBy("day")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )


@register(
    "gini_acctbal_by_nation",
    tags=("stats", "gini", "window"),
    oracle="""
WITH r AS (
  SELECT c_nationkey, c_acctbal - min(c_acctbal) OVER (PARTITION BY c_nationkey) AS x,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS i,
         count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
)
SELECT c_nationkey,
       round(2.0 * sum(i * x) / (n * sum(x)) - (n + 1.0) / n, 6) AS gini
FROM r
GROUP BY c_nationkey, n
HAVING sum(x) > 0
""",
)
def gini_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of (min-shifted, non-negative) account balances
    per nation via the sorted-rank identity G = 2·Σi·xᵢ/(n·Σx) −
    (n+1)/n. One window pass partitioned by nation (rank + min + count
    in a single shuffle on the nation key), then a hash agg — no
    pairwise |xᵢ−xⱼ| cross join, which is the O(n²) textbook form this
    identity replaces at scale. Deterministic tie-break on c_custkey."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    wo = w.orderBy("c_acctbal", "c_custkey")
    r = cust.select(
        "c_nationkey",
        (F.col("c_acctbal") - F.min("c_acctbal").over(w)).alias("x"),
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        r.groupBy("c_nationkey", "n")
        .agg(
            F.round(
                2.0 * F.sum(F.col("i") * F.col("x")) / (F.col("n") * F.sum("x"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini")
        )
        .where(F.col("gini").isNotNull())
        .select("c_nationkey", "gini")
    )
