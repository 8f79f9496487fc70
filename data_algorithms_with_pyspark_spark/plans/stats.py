"""Statistical / advanced-aggregation query set.

Extends the engine's aggregate surface beyond the reference's
count/avg/max (SURVEY.md §2.5, which notes distinct-count, grouping sets,
and window aggregates are absent from the reference): two-level
aggregation over a left join (TPC-H Q13 shape), GROUPING SETS with
grouping flags, exact interpolated percentiles, correlation/variance,
argmax-per-group via struct max, HyperLogLog distinct sketches, and a
bucketed range join (operators/ranges.py) binning a fact column into
intervals.

Determinism: percentiles/corr/variance use FLOOR-GRID rounding
(floor(x*10^s + 0.5)/10^s) on both engine sides — never round(), whose
half-way convention differs between the engines (Spark: HALF_UP on the
shortest decimal repr; DuckDB: half-even on the repr digits) and
diverges on any value whose repr terminates in 5 at scale+1 (the
event_value_percentiles sf1 catch, round 8); struct-max uses
a total order (ts, event_id unique tiebreak); the HLL sketch has no SQL
oracle (rows-only check) — tests/test_operators.py bounds its error
against the exact distinct count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.dedup import floor_round
from data_algorithms_with_pyspark_spark.operators.ranges import bucketed_range_join
from data_algorithms_with_pyspark_spark.plans.catalog import register
from data_algorithms_with_pyspark_spark.sources.readers import load_table


@register(
    "q13_customer_distribution",
    tags=("relational", "join", "aggregate"),
    description="TPC-H Q13: order-count distribution over a filtered left join",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation: per-customer order counts (left join keeps
    zero-order customers), then the histogram of those counts. The first
    groupBy shuffles on c_custkey — the join's own key, so AQE reuses the
    exchange; the second groupBy is over at most ~hundreds of distinct
    counts and collapses map-side."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_customer = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_customer.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "lineitem_grouping_sets",
    tags=("relational", "aggregate"),
    description="GROUPING SETS ((flag,status),(flag),()) with grouping flags",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT)  AS g_returnflag,
               CAST(GROUPING(l_linestatus) AS BIGINT)  AS g_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_items
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping-set aggregation (subsumes rollup here); per-column
    GROUPING() flags disambiguate 'NULL because aggregated' from data
    NULLs, emitted identically by Spark and DuckDB."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_returnflag"),
            F.grouping("l_linestatus").cast("long").alias("g_linestatus"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "event_value_percentiles",
    tags=("events", "aggregate", "stats"),
    description="Exact interpolated p25/p50/p75 of event value per type",
    oracle="""
        SELECT event_type,
               floor(quantile_cont(value, 0.25) * 10000 + 0.5) / 10000 AS p25,
               floor(quantile_cont(value, 0.50) * 10000 + 0.5) / 10000 AS p50,
               floor(quantile_cont(value, 0.75) * 10000 + 0.5) / 10000 AS p75
        FROM events
        GROUP BY event_type
    """,
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation at p*(n-1) — the same
    definition as DuckDB quantile_cont). Exact percentile is a full-sort
    aggregate per group; at 100 TB prefer approx_percentile (t-digest) —
    exposed by the sketch queries below.

    Rounding is the floor-grid form on BOTH sides (not round()): an
    interpolated percentile can land on an exact *.xxxx5 shortest repr,
    where Spark's BigDecimal-of-repr HALF_UP and DuckDB's true-binary
    round diverge — caught as a real mismatch by the round-8 full-catalog
    sf1 sweep (purchase p25 = 139.28945: spark 139.2895, duck 139.2894)."""
    from data_algorithms_with_pyspark_spark.operators.text import floor_round4

    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        floor_round4(F.percentile("value", F.lit(0.25))).alias("p25"),
        floor_round4(F.percentile("value", F.lit(0.50))).alias("p50"),
        floor_round4(F.percentile("value", F.lit(0.75))).alias("p75"),
    )


@register(
    "lineitem_price_quantity_stats",
    tags=("relational", "aggregate", "stats"),
    description="corr / stddev / variance of quantity & price per returnflag",
    oracle="""
        SELECT l_returnflag,
               floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000   AS qty_price_corr,
               floor(stddev_samp(l_quantity) * 10000 + 0.5) / 10000             AS qty_stddev,
               floor(var_samp(l_quantity) * 10000 + 0.5) / 10000                AS qty_var,
               floor(covar_samp(l_quantity, l_extendedprice) * 100 + 0.5) / 100 AS qty_price_covar
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def lineitem_price_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates — single-pass, map-side partial (Spark's
    Welford-style merge), no extra shuffle beyond the groupBy."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        floor_round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        floor_round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        floor_round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        floor_round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
    )


@register(
    "latest_event_per_user",
    tags=("events", "aggregate"),
    description="Argmax per group: each user's latest event via struct max",
    oracle="""
        SELECT user_id, ts AS last_ts, event_id AS last_event_id,
               event_type AS last_event_type
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user argmax via ``max(struct(ts, event_id, event_type))``.

    The struct buffer cannot ride HashAggregateExec, so this plans as
    partial+final SortAggregate — a shape the plan lint normally forbids
    and therefore allowlists HERE with a measured justification: the
    rank-1-window alternative (row_number over user_id, which plans as
    WindowGroupLimit) was built and benchmarked in round 4 at sf0.1 —
    struct 0.33s vs window 0.43s warm (~1.3x) — because BOTH forms sort
    each task by the key (partial SortAggregate and partial
    WindowGroupLimit do the same pre-shuffle one-row-per-key pruning);
    the struct form just skips the window machinery. event_id makes the
    order total, so the result is deterministic under any partitioning.
    (Contrast operators/merge.py:latest_change_per_key, which uses the
    window form: its input is the small changelog side, where lint
    cleanliness is worth more than the constant factor.)"""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("last"))
        .select(
            "user_id",
            F.col("last.ts").alias("last_ts"),
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
        )
    )


@register(
    "approx_distinct_users_hll",
    oracle=None,  # HyperLogLog estimate: engine-specific -> rows-only check;
    # tests/test_operators.py asserts <5% error vs the exact count.
    tags=("events", "sketch"),
    description="HyperLogLog approx distinct users per event type",
)
def approx_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for COUNT(DISTINCT): a fixed-size HLL sketch per
    group merges map-side, vs exact distinct which shuffles every
    (group, user) pair."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


@register(
    "exact_distinct_users",
    tags=("events", "sketch"),
    description="Exact distinct users per event type — the oracle-green "
    "twin that brackets approx_distinct_users_hll at the driver level "
    "(HLL itself is engine-specific, so its estimate can only be checked "
    "rows-only; this query pins the true value it must approximate)",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
    """,
)
def exact_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )


@register(
    "part_price_band_range_join",
    tags=("relational", "join", "range-join"),
    description="Bucketed range join binning part prices into [lo,hi) bands",
    oracle="""
        SELECT band, count(*) AS n_parts,
               floor(avg(p_retailprice) * 10000 + 0.5) / 10000 AS avg_price
        FROM part
        JOIN (
            SELECT i * 10.0 AS lo, (i + 1) * 10.0 AS hi,
                   'band_' || CAST(i AS VARCHAR) AS band
            FROM range(90, 100) t(i)
        ) bands
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
    """,
)
def part_price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via operators/ranges.bucketed_range_join — an equi-join
    on quantized buckets instead of the O(n*m) cross-join+filter, so it
    scales like any hash join. Bands here are tiny (broadcast), but the
    operator works for large range tables too."""
    part = load_table(spark, sf_dir, "part")
    bands = (
        spark.range(90, 100)
        .select(
            (F.col("id") * 10.0).alias("lo"),
            ((F.col("id") + 1) * 10.0).alias("hi"),
            F.concat(F.lit("band_"), F.col("id").cast("string")).alias("band"),
        )
    )
    joined = bucketed_range_join(part, bands, "p_retailprice", "lo", "hi", 10.0)
    return joined.groupBy("band").agg(
        F.count("*").alias("n_parts"),
        floor_round(F.avg("p_retailprice"), 4).alias("avg_price"),
    )


@register(
    "customer_feature_engineering",
    tags=("features",),
    description="Feature pipeline: z-score + min-max scaled acctbal, price "
    "bucket, one-hot segment, deterministic train/test tag "
    "(operators/features.py; ref ch.12 was never written)",
    oracle="""
        WITH stats AS (
            SELECT avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd,
                   min(c_acctbal) AS lo, max(c_acctbal) AS hi
            FROM customer
        )
        SELECT c_custkey,
               floor((c_acctbal - mu) / sd * 10000 + 0.5) / 10000 AS acctbal_z,
               floor((c_acctbal - lo) / (hi - lo) * 10000 + 0.5) / 10000 AS acctbal_scaled,
               CASE WHEN c_acctbal >= 0 AND c_acctbal < 2500 THEN 0
                    WHEN c_acctbal >= 2500 AND c_acctbal < 5000 THEN 1
                    WHEN c_acctbal >= 5000 AND c_acctbal < 7500 THEN 2
                    WHEN c_acctbal >= 7500 AND c_acctbal < 10001 THEN 3
                    END AS acctbal_bucket,
               CAST(c_mktsegment = 'BUILDING' AS INT)  AS seg_BUILDING,
               CAST(c_mktsegment = 'MACHINERY' AS INT) AS seg_MACHINERY,
               CAST(substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)
                    IN ('0','1','2','3') AS INT) AS is_test
        FROM customer, stats
    """,
)
def customer_feature_engineering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass feature engineering: one scalar stats aggregate broadcast
    back over the table, then a pure-codegen projection (scale, z-score,
    bucketize, one-hot, split tag). Nothing is collected; the stats row is
    the only data that moves."""
    from data_algorithms_with_pyspark_spark.operators.features import (
        bucketize,
        one_hot,
        scale_features,
    )
    from data_algorithms_with_pyspark_spark.operators.sampling import (
        hash_sample_predicate,
    )

    customer = load_table(spark, sf_dir, "customer")
    df = scale_features(customer, ["c_acctbal"])
    df = bucketize(df, "c_acctbal", [0.0, 2500.0, 5000.0, 7500.0, 10001.0])
    df = one_hot(df, "c_mktsegment", ["BUILDING", "MACHINERY"], prefix="seg")
    return df.select(
        "c_custkey",
        floor_round(F.col("c_acctbal_z"), 4).alias("acctbal_z"),
        floor_round(F.col("c_acctbal_scaled"), 4).alias("acctbal_scaled"),
        F.col("c_acctbal_bucket").alias("acctbal_bucket"),
        F.col("seg_BUILDING"),
        F.col("seg_MACHINERY"),
        hash_sample_predicate("c_custkey", 4).cast("int").alias("is_test"),
    )


@register(
    "customer_balance_ranks",
    tags=("relational", "window", "ranking"),
    description="Ranking surface: dense_rank / ntile(4) / percent_rank of "
    "customers by balance within nation (ref ch.8 'Ranking' was never written)",
    oracle="""
        SELECT c_custkey, c_nationkey,
               CAST(dense_rank() OVER w AS BIGINT)   AS balance_dense_rank,
               CAST(ntile(4) OVER w AS INT)          AS balance_quartile,
               floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000
                                                     AS balance_pct_rank
        FROM customer
        WINDOW w AS (
            PARTITION BY c_nationkey
            ORDER BY round(c_acctbal, 2) DESC, c_custkey
        )
    """,
)
def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window shuffle on c_nationkey serves all three ranking
    functions; the order key carries c_custkey as a unique tie-break so
    every rank is deterministic across engines and partitionings."""
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.round(F.col("c_acctbal"), 2).desc(), F.col("c_custkey")
    )
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.dense_rank().over(w).cast("long").alias("balance_dense_rank"),
        F.ntile(4).over(w).alias("balance_quartile"),
        # percent_rank is (rank-1)/(n-1) — the same exact-small-ratio
        # class as cume_dist below, so the same floor(x*1e6+0.5) form
        # (round() diverges when the ratio's shortest repr ends in 5).
        (
            F.floor(F.percent_rank().over(w) * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("balance_pct_rank"),
    )


@register(
    "customer_balance_window_bounds",
    tags=("relational", "window"),
    description="Frame-bound window functions: first_value / last_value "
    "(full-partition frame) and cume_dist per nation over customer "
    "balances — completes the ranking-function family of "
    "customer_balance_ranks",
    oracle="""
        SELECT c_custkey, c_nationkey,
               round(first_value(round(c_acctbal, 2)) OVER w_full, 2)
                   AS richest_balance,
               round(last_value(round(c_acctbal, 2)) OVER w_full, 2)
                   AS poorest_balance,
               floor(cume_dist() OVER w_order * 1000000 + 0.5) / 1000000
                   AS balance_cume_dist
        FROM customer
        WINDOW
            w_order AS (PARTITION BY c_nationkey
                        ORDER BY round(c_acctbal, 2) DESC, c_custkey),
            w_full AS (PARTITION BY c_nationkey
                       ORDER BY round(c_acctbal, 2) DESC, c_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING)
    """,
)
def customer_balance_window_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """last_value needs the explicit UNBOUNDED FOLLOWING frame (the default
    frame ends at CURRENT ROW, where last_value degenerates to the row
    itself) — stated identically in both engines. One window shuffle on
    c_nationkey serves all three functions; ties broken by c_custkey so
    cume_dist is deterministic."""
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    balance = F.round(F.col("c_acctbal"), 2)
    order = Window.partitionBy("c_nationkey").orderBy(
        balance.desc(), F.col("c_custkey")
    )
    full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # cume_dist is k/n — its shortest decimal repr can be exactly
    # *.xxxxxx5, where Spark's repr-based round() goes up but engines
    # rounding the binary value go down; floor(x*1e6+0.5) is exact IEEE
    # ops on the identical double, so both engines agree (found as a real
    # sf0.1 mismatch at 0.0640625).
    cume = F.floor(F.cume_dist().over(order) * F.lit(1000000.0) + F.lit(0.5)) / F.lit(
        1000000.0
    )
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.first(balance).over(full), 2).alias("richest_balance"),
        F.round(F.last(balance).over(full), 2).alias("poorest_balance"),
        cume.alias("balance_cume_dist"),
    )


@register(
    "event_value_sampled_quantiles",
    tags=("stats", "sketch", "events"),
    description="Bounded-memory quantile estimation: deterministic 1/8 "
    "md5 sample's nearest-rank p50/p95 vs the exact full-data quantiles "
    "riding along as truth — all-integer cents + rank arithmetic, "
    "engine-exact",
    oracle="""
        WITH base AS (
            SELECT event_id, event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        f AS (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM base
        ),
        fq AS (
            SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                   max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                       AS p50_cents,
                   max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END)
                       AS p95_cents
            FROM f GROUP BY event_type
        ),
        s AS (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM base
            WHERE ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 6))
                      ::BIGINT * 8 < 16777216
        ),
        sq AS (
            SELECT event_type, CAST(max(n) AS BIGINT) AS n_sample,
                   max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                       AS p50_est_cents,
                   max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END)
                       AS p95_est_cents
            FROM s GROUP BY event_type
        )
        SELECT f.event_type, f.n, s.n_sample,
               f.p50_cents, s.p50_est_cents,
               f.p95_cents, s.p95_est_cents
        FROM fq f JOIN sq s USING (event_type)
        ORDER BY f.event_type
    """,
)
def event_value_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a bounded sample — the streaming/low-memory path
    when exact per-group sorting is too expensive: a deterministic
    1/8 md5-bucket sample (``sampling.rational_hash_sample_predicate``,
    a scan-stage integer filter) estimates p50/p95 by nearest rank
    (``k = ceil(q*n)``, pure integer arithmetic), and the exact full-data
    quantiles ride along as the audit columns, KMV-style. At 100 TB the
    truth side is dropped and the sample rate tuned to the epsilon the
    report needs (sampling theory: error ~ 1/sqrt(rate * n) quantile
    deviation)."""
    from pyspark.sql import Window

    from data_algorithms_with_pyspark_spark.operators.sampling import (
        rational_hash_sample_predicate,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )

    def ranked_quantiles(df: DataFrame, n_name: str, p50: str, p95: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy("cents")
        wn = Window.partitionBy("event_type")
        r = df.select(
            "event_type",
            "cents",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        k50 = F.expr("(n + 1) div 2")
        k95 = F.expr("(19 * n + 19) div 20")
        return r.groupBy("event_type").agg(
            F.max("n").alias(n_name),
            F.max(F.when(F.col("rn") == k50, F.col("cents"))).alias(p50),
            F.max(F.when(F.col("rn") == k95, F.col("cents"))).alias(p95),
        )

    full = ranked_quantiles(base, "n", "p50_cents", "p95_cents")
    samp = ranked_quantiles(
        base.where(
            rational_hash_sample_predicate(
                F.col("event_id"), F.lit(1), F.lit(8)
            )
        ),
        "n_sample",
        "p50_est_cents",
        "p95_est_cents",
    )
    return (
        full.join(samp, on="event_type")
        .select(
            "event_type",
            "n",
            "n_sample",
            "p50_cents",
            "p50_est_cents",
            "p95_cents",
            "p95_est_cents",
        )
        .orderBy("event_type")
    )


@register(
    "customer_rfm_segments",
    tags=("stats", "tpch", "window"),
    description="RFM segmentation: per-customer recency / frequency / "
    "monetary (exact cents) bucketed into quartiles by interpolated "
    "percentile BOUNDARIES (broadcast 1-row cutoffs, no global-ntile "
    "single-partition window); segment = concatenated quartile digits",
    oracle="""
        WITH maxd AS (SELECT max(o_orderdate) AS d FROM orders),
        base AS (
            SELECT o_custkey AS custkey,
                   CAST(date_diff('day', max(o_orderdate),
                                  (SELECT d FROM maxd)) AS BIGINT)
                       AS recency_days,
                   CAST(count(*) AS BIGINT) AS frequency,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS monetary_cents
            FROM orders
            GROUP BY o_custkey
        ),
        cuts AS (
            SELECT quantile_cont(recency_days, 0.25) AS r25,
                   quantile_cont(recency_days, 0.5)  AS r50,
                   quantile_cont(recency_days, 0.75) AS r75,
                   quantile_cont(frequency, 0.25) AS f25,
                   quantile_cont(frequency, 0.5)  AS f50,
                   quantile_cont(frequency, 0.75) AS f75,
                   quantile_cont(monetary_cents, 0.25) AS m25,
                   quantile_cont(monetary_cents, 0.5)  AS m50,
                   quantile_cont(monetary_cents, 0.75) AS m75
            FROM base
        )
        SELECT b.custkey, b.recency_days, b.frequency, b.monetary_cents,
               CAST(1 + (b.recency_days > c.r25)::INT
                      + (b.recency_days > c.r50)::INT
                      + (b.recency_days > c.r75)::INT AS BIGINT) AS r_q,
               CAST(1 + (b.frequency < c.f75)::INT
                      + (b.frequency < c.f50)::INT
                      + (b.frequency < c.f25)::INT AS BIGINT) AS f_q,
               CAST(1 + (b.monetary_cents < c.m75)::INT
                      + (b.monetary_cents < c.m50)::INT
                      + (b.monetary_cents < c.m25)::INT AS BIGINT) AS m_q,
               CAST(1 + (b.recency_days > c.r25)::INT
                      + (b.recency_days > c.r50)::INT
                      + (b.recency_days > c.r75)::INT AS VARCHAR)
               || CAST(1 + (b.frequency < c.f75)::INT
                         + (b.frequency < c.f50)::INT
                         + (b.frequency < c.f25)::INT AS VARCHAR)
               || CAST(1 + (b.monetary_cents < c.m75)::INT
                         + (b.monetary_cents < c.m50)::INT
                         + (b.monetary_cents < c.m25)::INT AS VARCHAR)
                   AS rfm_segment
        FROM base b, cuts c
        ORDER BY b.custkey
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic CRM segmentation, formulated for scale: quartile
    membership comes from interpolated percentile BOUNDARIES (one 9-cell
    aggregate row broadcast back over the customers) rather than a
    global ntile — whose single-partition window the catalog plan lint
    rightly rejects. Money in exact integer cents; boundary comparisons
    are integer-vs-interpolated-double, which both engines compute
    identically (exact when p*(n-1) lands on a datum, strictly between
    integers otherwise — the same percentile equivalence
    event_value_percentiles relies on). One orders aggregate + one
    broadcast join; at 100 TB all window-free."""
    orders = load_table(spark, sf_dir, "orders")
    max_d = orders.agg(F.max("o_orderdate").alias("d"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count("*").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(max_d))
        .select(
            "custkey",
            F.datediff(F.col("d"), F.col("_last")).cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    cuts = base.agg(
        *[
            F.percentile(col, F.lit(p)).alias(f"{a}{int(p * 100)}")
            for col, a in (
                ("recency_days", "r"),
                ("frequency", "f"),
                ("monetary_cents", "m"),
            )
            for p in (0.25, 0.5, 0.75)
        ]
    )
    asc = lambda c, a: (  # noqa: E731
        F.lit(1)
        + (F.col(c) > F.col(f"{a}25")).cast("int")
        + (F.col(c) > F.col(f"{a}50")).cast("int")
        + (F.col(c) > F.col(f"{a}75")).cast("int")
    ).cast("long")
    desc = lambda c, a: (  # noqa: E731
        F.lit(1)
        + (F.col(c) < F.col(f"{a}75")).cast("int")
        + (F.col(c) < F.col(f"{a}50")).cast("int")
        + (F.col(c) < F.col(f"{a}25")).cast("int")
    ).cast("long")
    q = base.crossJoin(F.broadcast(cuts)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        asc("recency_days", "r").alias("r_q"),
        desc("frequency", "f").alias("f_q"),
        desc("monetary_cents", "m").alias("m_q"),
    )
    return q.select(
        "*",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("rfm_segment"),
    ).orderBy("custkey")


@register(
    "orders_key_skew_report",
    tags=("stats", "skew", "partitioning"),
    description="Join-key skew diagnostic over orders.o_custkey: the 10 "
    "heaviest keys with integer basis-point shares, plus the "
    "p99-to-mean hot-key ratio a planner would compare against the "
    "salting threshold — the measurement step that precedes "
    "orders_salted_join_agg's mitigation",
    oracle="""
        WITH per_key AS (
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY o_custkey
        ),
        tot AS (
            SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
                   CAST(count(*) AS BIGINT) AS n_keys
            FROM per_key
        )
        SELECT CAST(row_number() OVER (
                   ORDER BY p.n_rows DESC, p.o_custkey
               ) AS BIGINT) AS heavy_rank,
               p.o_custkey, p.n_rows,
               p.n_rows * 10000 // t.total_rows AS share_bp,
               p.n_rows * t.n_keys * 100 // t.total_rows AS x_mean_pct
        FROM per_key p, tot t
        ORDER BY p.n_rows DESC, p.o_custkey
        LIMIT 10
    """,
)
def orders_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diagnosis half of skew handling (operators/skew.py holds the
    mitigation): one hash aggregate on the join key, then a broadcast of
    the 2-value totals row back onto the tiny per-key relation, and a
    global top-10 that plans as TakeOrderedAndProject (per-partition
    heaps, never a full sort). ``share_bp`` (basis points of all rows)
    and ``x_mean_pct`` (key weight as % of the mean key's weight — 100 =
    perfectly uniform) are integer floor-divisions, so the report is
    engine-exact; a planner salts when x_mean_pct of the top key crosses
    its threshold. At 100 TB this is the cheap pre-pass that decides
    whether the expensive salted shape is needed at all."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_rows")
    )
    tot = per_key.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count("*").alias("n_keys"),
    )
    ranked = (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "n_rows",
            F.expr("n_rows * 10000 div total_rows").alias("share_bp"),
            F.expr("n_rows * n_keys * 100 div total_rows").alias("x_mean_pct"),
        )
        .orderBy(F.col("n_rows").desc(), "o_custkey")
        .limit(10)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_rows").desc(), "o_custkey")
    return ranked.select(
        F.row_number().over(w).cast("long").alias("heavy_rank"),
        "o_custkey",
        "n_rows",
        "share_bp",
        "x_mean_pct",
    )


def _hll_oracle_sql() -> str:
    from data_algorithms_with_pyspark_spark.operators.sketches import (
        HLL_RAW_NUM,
    )

    two53 = 1 << 53
    return f"""
        WITH h AS (
            SELECT event_type,
                   ('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)),
                                      1, 15))::BIGINT AS hv
            FROM events
        ),
        r AS (
            SELECT event_type, hv % 256 AS j,
                   CASE WHEN hv // 256 = 0 THEN 53
                        ELSE bit_count(((hv // 256) & -(hv // 256)) - 1) + 1
                   END AS rho
            FROM h
        ),
        regs AS (
            SELECT event_type, j, max(rho) AS m FROM r GROUP BY 1, 2
        ),
        g AS (
            SELECT event_type,
                   count(*) AS nregs,
                   CAST(sum(CAST(floor(power(2.0, 53 - m) + 0.5) AS BIGINT))
                        AS BIGINT) AS sp
            FROM regs GROUP BY event_type
        ),
        e AS (
            SELECT event_type,
                   256 - nregs AS zeros,
                   {HLL_RAW_NUM!r}
                   / CAST((256 - nregs) * {two53} + sp AS DOUBLE) AS raw
            FROM g
        )
        SELECT event_type,
               floor(CASE WHEN raw <= 640.0 AND zeros > 0
                          THEN 256.0 * ln(256.0 / zeros)
                          ELSE raw END * 100.0 + 0.5) / 100.0
                   AS hll_estimate
        FROM e
    """


@register(
    "portable_hll_distinct_users",
    tags=("events", "sketch"),
    description="Engine-portable HyperLogLog (p=8, md5-lane registers, "
    "integer-exact harmonic denominator): the same 100 TB COUNT(DISTINCT) "
    "answer as approx_distinct_users_hll, but with the ESTIMATE itself "
    "under a full value oracle — the sketch construction is the spec, not "
    "an engine internal (operators/sketches.py:hll_distinct)",
    oracle=_hll_oracle_sql(),
)
def portable_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the catalog's one rows-only gap CLASS: the built-in
    approx_count_distinct stays registered (bracketed by its exact
    twin), and this md5-lane HLL carries the full cross-engine value
    check — register max is the merge, the harmonic denominator is an
    exact integer (sum of 2^(53-M) terms), and only the final division
    and the small-range ln touch floats, in fixed shared-literal order."""
    from data_algorithms_with_pyspark_spark.operators.sketches import (
        hll_distinct,
    )

    events = load_table(spark, sf_dir, "events")
    return hll_distinct(events, "event_type", "user_id")


_GRP_APPROX_ACCURACY = 10_000
_GRP_APPROX_TOL_PERMILLE = 1  # 10x the GK guarantee of 1/accuracy


@register(
    "event_value_quantile_approx_audit",
    tags=("sketch", "stats", "events"),
    description="PER-GROUP attestation of the approx-percentile drop-in "
    "event_value_percentiles documents: percentile_approx p25/p50/p75 of "
    "value per event_type, audited by exact tie-robust integer rank bounds "
    "— one boolean per quantile per group, deterministic under any "
    "partition order, so the oracle pins them TRUE per group",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
        FROM events GROUP BY event_type
    """,
)
def event_value_quantile_approx_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The grouped twin of doc_length_quantile_approx_audit: the
    Greenwald-Khanna summary is built PER GROUP inside one hash
    aggregate (mergeable partials, no per-group sort — the exact
    percentile's full-sort cost is what the drop-in removes at 100 TB),
    and the same corpus scan joins the |groups|-row threshold relation
    back to compute exact below/at counts per group. v is a valid
    eps-approximate q-quantile of its group iff count(x < v) <=
    n_g*(q+eps) and count(x <= v) >= n_g*(q-eps) — integer per-mille
    arithmetic per group, partition-order-independent booleans."""
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    qs = events.groupBy("event_type").agg(
        F.percentile_approx(
            "value", [0.25, 0.50, 0.75], _GRP_APPROX_ACCURACY
        ).alias("pa")
    ).select(
        "event_type",
        F.col("pa")[0].alias("q25"),
        F.col("pa")[1].alias("q50"),
        F.col("pa")[2].alias("q75"),
    )
    j = events.join(F.broadcast(qs), "event_type")
    aggs = [F.count("*").alias("n_rows")]
    for q in (25, 50, 75):
        aggs.append(
            F.sum(F.when(F.col("value") < F.col(f"q{q}"), 1).otherwise(0))
            .cast("long")
            .alias(f"below{q}")
        )
        aggs.append(
            F.sum(F.when(F.col("value") <= F.col(f"q{q}"), 1).otherwise(0))
            .cast("long")
            .alias(f"at{q}")
        )
    audit = j.groupBy("event_type").agg(*aggs)
    tol = _GRP_APPROX_TOL_PERMILLE
    n = F.col("n_rows")
    cols = [F.col("event_type"), n.alias("n_rows")]
    for q in (25, 50, 75):
        cols.append(
            (
                (F.col(f"below{q}") * 1000 <= n * (q * 10 + tol))
                & (F.col(f"at{q}") * 1000 >= n * (q * 10 - tol))
            ).alias(f"p{q}_ok")
        )
    return audit.select(*cols)


_CMP_KMV_K = 64


def _kmv_est_sql(k: int) -> str:
    """Subquery: (event_type, estimate) — the kmv_distinct_users oracle's
    estimate expression (shared construction, plans/curation.py)."""
    return f"""
        SELECT event_type,
               coalesce(
                   floor({k - 1} * 16777216.0
                         / max(CASE WHEN rn = {k} THEN h END)
                         * 100 + 0.5) / 100,
                   CAST(count(*) AS DOUBLE)) AS estimate
        FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rn
            FROM (
                SELECT DISTINCT event_type,
                       ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                          1, 6))::BIGINT AS h
                FROM events
            )
        )
        GROUP BY event_type
    """


@register(
    "distinct_users_sketch_comparison",
    tags=("sketch", "events", "quality"),
    description="The distinct-count sketch family on ONE axis: per event "
    "type, exact COUNT(DISTINCT) vs the KMV(64) estimate vs the portable "
    "HLL(p=8) estimate, each with its signed error in basis points — the "
    "accuracy-vs-state trade (exact: O(n) state, KMV: 64 hashes, HLL: 256 "
    "registers) rendered as data; both sketch replays share their "
    "attested single-method constructions",
    oracle=f"""
        WITH exacts AS (
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
            FROM events GROUP BY event_type
        ),
        kmv AS ({_kmv_est_sql(_CMP_KMV_K)}),
        hll AS (
            SELECT event_type, hll_estimate AS estimate
            FROM ({_hll_oracle_sql()})
        ),
        m AS (
            SELECT event_type, 'exact' AS method,
                   CAST(exact_n AS DOUBLE) AS estimate FROM exacts
            UNION ALL
            SELECT event_type, 'kmv' AS method, estimate FROM kmv
            UNION ALL
            SELECT event_type, 'hll' AS method, estimate FROM hll
        )
        SELECT m.event_type, m.method, m.estimate,
               CAST(floor((m.estimate / CAST(e.exact_n AS DOUBLE) - 1.0)
                          * 10000 + 0.5) AS BIGINT) AS err_bp
        FROM m JOIN exacts e ON m.event_type = e.event_type
    """,
)
def distinct_users_sketch_comparison(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composes the two attested sketch constructions
    (operators/sketches.py:kmv_distinct / hll_distinct) with the exact
    baseline into one long-form comparison — the selection table an
    engineer reads before picking the distinct-count strategy for a
    100 TB column (exact needs a full shuffle of distinct keys; KMV
    ships 64 hashes per group; HLL ships 256 registers and merges
    losslessly). Error in basis points via one pinned division chain on
    the already-grid-quantized estimates."""
    from data_algorithms_with_pyspark_spark.operators.sketches import (
        hll_distinct,
        kmv_distinct,
    )

    events = load_table(spark, sf_dir, "events")
    exacts = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_n")
    )
    kmv = kmv_distinct(
        events, "event_type", "user_id", k=_CMP_KMV_K
    ).select("event_type", F.col("kmv_estimate").alias("estimate"))
    hll = hll_distinct(events, "event_type", "user_id").select(
        "event_type", F.col("hll_estimate").alias("estimate")
    )
    exact_m = exacts.select(
        "event_type", F.col("exact_n").cast("double").alias("estimate")
    )
    m = (
        exact_m.withColumn("method", F.lit("exact"))
        .unionByName(kmv.withColumn("method", F.lit("kmv")))
        .unionByName(hll.withColumn("method", F.lit("hll")))
    )
    err = (
        F.floor(
            (F.col("estimate") / F.col("exact_n").cast("double") - F.lit(1.0))
            * F.lit(10000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("err_bp")
    )
    return m.join(exacts, on="event_type").select(
        "event_type", "method", "estimate", err
    )
