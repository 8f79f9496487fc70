"""Relational query set over the TPC-H-ish star schema (SURVEY.md §2.3-2.10).

Exercises the engine's full relational surface — scans, pushed-down filters,
projections, multi-way joins (broadcast for small dims), semi/anti joins,
hash aggregation (partial+final), window functions, rollup, conditional-agg
pivot, sort and top-k — as TPC-H-shaped queries adapted to the driver's
synthetic columns.

Aggregation patterns re-express the reference's analytics
(`flight_analysis.py:61-88`, `parquet_operations.py:163-173`,
`csv_json_operations.py:199-202` in /root/reference); the join patterns
subsume its chapter-11 "Join Design Patterns" scaffolding (never written).

Scale design: every join here is either (a) a broadcast of a genuinely
small dimension (region/nation/supplier — explicitly hinted), or (b) an
equi-join on a key the data is already organized by, which Catalyst+AQE
plan as sort-merge with skew splitting. Filters are literal predicates on
scan columns (pushed to parquet), aggregates are built-ins (map-side
partial aggregation for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.plans.catalog import cents_sum, register, ts
from data_algorithms_with_pyspark_spark.operators.windows import top_k_per_group
from data_algorithms_with_pyspark_spark.sources.readers import load_table

def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q1_pricing_summary",
    tags=("relational", "aggregate"),
    description="TPC-H Q1: scan-heavy multi-aggregate groupBy over lineitem",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                    AS sum_qty,
               CAST(sum(CAST(floor((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
               CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
               CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_charge,
               floor(avg(l_quantity) * 10000 + 0.5) / 10000                 AS avg_qty,
               floor((CAST(sum(CAST(floor((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 / count(*)) * 10000 + 0.5) / 10000 AS avg_price,
               floor((CAST(sum(CAST(floor((l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 / count(*)) * 10000 + 0.5) / 10000 AS avg_disc,
               count(*)                                                     AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Averages ride exact lanes (the cume_dist/rolling-avg discipline):
    avg_qty is an integer-valued-double ratio (bit-identical on every
    engine) under the floor-round form, and avg_price/avg_disc average
    the integer-cent lane (prices and discounts are 2-dp, so the
    quantization is the identity) — one exact division chain, then
    floor-round. round(avg(double), 4) is repr-rounding on Spark and
    binary-rounding elsewhere, which diverges at exact decimal halves."""
    lineitem = load_table(spark, sf_dir, "lineitem")

    def _floor4(c):
        return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)

    n = F.count("*")
    return (
        lineitem.where(F.col("l_shipdate") <= ts("2000-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            cents_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            cents_sum(_revenue()).alias("sum_disc_price"),
            cents_sum(_revenue() * (1 + F.col("l_tax"))).alias("sum_charge"),
            _floor4(F.avg("l_quantity")).alias("avg_qty"),
            _floor4(cents_sum(F.col("l_extendedprice")) / n).alias("avg_price"),
            _floor4(cents_sum(F.col("l_discount")) / n).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    tags=("relational", "join", "topk"),
    description="TPC-H Q3: 3-way join, grouped revenue, deterministic top-10",
    oracle="""
        SELECT o_orderkey,
               CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
               o_orderdate
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_shipdate") > ts("1998-01-01"))
        .join(
            orders.where(F.col("o_orderdate") < ts("1998-01-01")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(cents_sum(_revenue()).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    tags=("relational", "join"),
    description="TPC-H Q5: 6-way join with broadcast dims, revenue by nation",
    oracle="""
        SELECT n_name,
               CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.join(
            orders.where(
                (F.col("o_orderdate") >= ts("1996-01-01"))
                & (F.col("o_orderdate") < ts("1998-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(cents_sum(_revenue()).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    tags=("relational", "filter"),
    description="TPC-H Q6: pure pushed-down filter + single aggregate",
    oracle="""
        SELECT CAST(sum(CAST(floor((l_extendedprice * l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= ts("1996-01-01"))
            & (F.col("l_shipdate") < ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            cents_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q10_returned_items",
    tags=("relational", "join", "topk"),
    description="TPC-H Q10: returned-item revenue by customer, top 20",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(cents_sum(_revenue()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q4_order_priority",
    tags=("relational", "semi-join"),
    description="TPC-H Q4 shape: EXISTS as left-semi join, count by priority",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        )
        GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "customers_without_orders",
    tags=("relational", "anti-join"),
    description="NOT EXISTS as left-anti join, counted per market segment",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_customers
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "top_orders_per_priority",
    tags=("relational", "window"),
    description="Top-3 orders by total price per priority (window row_number)",
    oracle="""
        SELECT * FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
)
def top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        group_cols=["o_orderpriority"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )


@register(
    "returnflag_linestatus_pivot",
    tags=("relational", "pivot"),
    description="Pivot as conditional aggregation (linestatus columns)",
    oracle="""
        SELECT l_returnflag,
               round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_o,
               round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_f,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def returnflag_linestatus_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)),
            2,
        ).alias("qty_o"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)),
            2,
        ).alias("qty_f"),
        F.count("*").alias("n_rows"),
    )


@register(
    "lineitem_rollup",
    tags=("relational", "rollup"),
    description="ROLLUP(returnflag, linestatus) with subtotal NULL rows",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "top_customers_by_balance",
    tags=("relational", "topk"),
    description="Global deterministic top-10 (orderBy + limit -> TakeOrdered)",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 10
    """,
)
def top_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(10)
    )


@register(
    "active_nation_keys",
    tags=("relational", "set-ops"),
    description="UNION DISTINCT of customer and supplier nation keys",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def active_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@register(
    "part_name_words",
    tags=("relational", "explode"),
    description="Array explode -> word frequencies over part names",
    oracle="""
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        GROUP BY word
    """,
)
def part_name_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "orders_by_year_month",
    tags=("relational", "partitioning"),
    description="Partition-key derivation (year/month) + pruned aggregation",
    oracle="""
        SELECT CAST(extract(year FROM o_orderdate) AS INTEGER)  AS o_year,
               CAST(extract(month FROM o_orderdate) AS INTEGER) AS o_month,
               count(*) AS n_orders,
               CAST(sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_total
        FROM orders
        WHERE extract(year FROM o_orderdate) = 1996
        GROUP BY 1, 2
    """,
)
def orders_by_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .withColumn("o_month", F.month("o_orderdate").cast("int"))
        .where(F.col("o_year") == 1996)
        .groupBy("o_year", "o_month")
        .agg(
            F.count("*").alias("n_orders"),
            cents_sum(F.col("o_totalprice")).alias("sum_total"),
        )
    )


@register(
    "customer_balance_etl",
    tags=("relational", "etl"),
    description="ETL pipeline shape: filter + derived column + projection "
    "(re-expresses etl_census_dataframe.py:26-39)",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal,
               floor(c_acctbal * 105 + 0.5) / 100.0 AS acctbal_with_bonus
        FROM customer
        WHERE c_acctbal > 5000
    """,
)
def customer_balance_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.where(F.col("c_acctbal") > 5000)
        .withColumn("acctbal_with_bonus", (F.floor(F.col("c_acctbal") * 105 + 0.5) / 100.0))
        .select("c_custkey", "c_name", "c_acctbal", "acctbal_with_bonus")
    )
