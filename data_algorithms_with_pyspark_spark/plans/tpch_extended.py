"""Extended TPC-H-shaped query set (adapted to the driver's synthetic schema).

Widens the relational surface beyond plans/tpch.py with the join/agg shapes
of TPC-H Q7/Q8/Q9/Q12/Q14/Q15/Q16/Q17/Q18/Q19/Q22, adapted to the columns
that exist (no l_receiptdate/l_shipmode; money stays DOUBLE per the
reference's type policy — SURVEY.md §1.3). The testdata also has no
partsupp table, which blocked Q2/Q11/Q20 through round 3 — those three now
run against ``derived_partsupp`` (end of this file), a deterministic
4-suppliers-per-part relation both engines materialize identically
in-query, closing the TPC-H shape set. These exercise:
fact-fact self-aggregation joins, conditional aggregation, disjunctive
pushable predicates, correlated-subquery decorrelation (re-expressed as
aggregate+join), distinct aggregation, scalar subqueries, and
anti-join + scalar-subquery composition.

Scale notes (100 TB design point): every dimension join is an explicit
``F.broadcast``; the only fact-fact shuffles are key-partitioned hash
aggregations on l_orderkey / l_partkey, which AQE coalesces and
skew-splits. Shares/ratios are computed from integer-cent sums
(catalog.cents_sum) so results are order- and partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.dedup import floor_round
from data_algorithms_with_pyspark_spark.plans.catalog import (
    cents_sum,
    cents_sum_sql,
    register,
    ts,
)
from data_algorithms_with_pyspark_spark.sources.readers import load_table


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REVENUE_SQL = "l_extendedprice * (1 - l_discount)"


def _cents(expr):
    """Exact integer cents for one row (IEEE-exact in Spark and DuckDB)."""
    return F.floor(expr * 100 + F.lit(0.5)).cast("long")


@register(
    "q7_nation_trade_volume",
    tags=("relational", "join"),
    description="TPC-H Q7 shape: supplier-nation x customer-nation revenue by year",
    oracle=f"""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               {cents_sum_sql(_REVENUE_SQL)} AS revenue
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND n1.n_name IN ('NATION_3', 'NATION_12')
          AND n2.n_name IN ('NATION_3', 'NATION_12')
          AND n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = nation.where(F.col("n_name").isin("NATION_3", "NATION_12"))
    n1 = pair.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = pair.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.where(
            (F.col("l_shipdate") >= ts("1996-01-01"))
            & (F.col("l_shipdate") < ts("1998-01-01"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nkey") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nkey") == F.col("c_nationkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(cents_sum(_revenue()).alias("revenue"))
    )


@register(
    "q8_market_share",
    tags=("relational", "join", "conditional-agg"),
    description="TPC-H Q8 shape: NATION_5 suppliers' share of the ASIA market by year",
    oracle="""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               floor((
                 CAST(sum(CASE WHEN n_s.n_name = 'NATION_5'
                     THEN CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT)
                 * 1.0 /
                 CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 ) * 1000000 + 0.5) / 1000000 AS mkt_share
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n_c ON n_c.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n_c.n_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n_s ON n_s.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n_c = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n_s = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cents = _cents(_revenue())
    return (
        lineitem.join(
            orders.where(
                (F.col("o_orderdate") >= ts("1996-01-01"))
                & (F.col("o_orderdate") < ts("1998-01-01"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n_c), F.col("c_nkey") == F.col("c_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("c_rkey"),
        )
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n_s), F.col("s_nkey") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            floor_round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", cents).otherwise(
                        F.lit(0)
                    )
                )
                * 1.0
                / F.sum(cents),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_nation_profit",
    tags=("relational", "join"),
    description="TPC-H Q9 shape: widget-part revenue by supplier nation and year",
    oracle=f"""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {cents_sum_sql(_REVENUE_SQL)} AS sum_profit
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
    """,
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        lineitem.join(
            F.broadcast(part.where(F.col("p_name").contains("widget"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(cents_sum(_revenue()).alias("sum_profit"))
    )


@register(
    "q12_priority_by_linestatus",
    tags=("relational", "conditional-agg"),
    description="TPC-H Q12 shape: high/low-priority order counts per linestatus",
    oracle="""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= ts("1997-01-01"))
            & (F.col("l_shipdate") < ts("1998-01-01"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    tags=("relational", "conditional-agg"),
    description="TPC-H Q14 shape: PROMO parts' share of one month's revenue",
    oracle="""
        SELECT floor((
                 100.0 *
                 CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT)
                 /
                 CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 ) * 10000 + 0.5) / 10000 AS promo_revenue_pct
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = _cents(_revenue())
    return (
        lineitem.where(
            (F.col("l_shipdate") >= ts("1996-09-01"))
            & (F.col("l_shipdate") < ts("1996-10-01"))
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            floor_round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0)))
                / F.sum(cents),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q15_top_supplier",
    tags=("relational", "scalar-subquery"),
    description="TPC-H Q15 shape: supplier(s) with max quarterly revenue",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, revenue_cents / 100.0 AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE revenue_cents = (SELECT max(revenue_cents) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        lineitem.where(
            (F.col("l_shipdate") >= ts("1996-01-01"))
            & (F.col("l_shipdate") < ts("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_cents(_revenue())).alias("revenue_cents"))
    )
    mx = revenue.agg(F.max("revenue_cents").alias("_mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("revenue_cents") == F.col("_mx"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("revenue_cents") / 100.0).alias("total_revenue"),
        )
    )


@register(
    "q16_supplier_part_variety",
    tags=("relational", "distinct-agg"),
    description="TPC-H Q16 shape: distinct suppliers per brand/type for small parts",
    oracle="""
        SELECT p_brand, p_type,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM part
        JOIN lineitem ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_size <= 15
        GROUP BY p_brand, p_type
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(
            F.broadcast(
                part.where((F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 15))
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    tags=("relational", "correlated-subquery"),
    description="TPC-H Q17 shape: avg yearly revenue of below-half-average-quantity lineitems",
    oracle="""
        SELECT floor(
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 / 100.0 / 7.0 * 100 + 0.5) / 100 AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13'
          AND l_quantity < (
              SELECT 0.5 * avg(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = part.p_partkey
          )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The correlated scalar subquery decorrelates to a per-part aggregate
    # joined back to the fact table (exactly what Catalyst does for the SQL
    # form). l_quantity values are small integers stored as DOUBLE, so
    # avg = exact-sum / count is bit-identical across engines.
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    half_avg = lineitem.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.avg("l_quantity") * 0.5).alias("_half_avg")
    )
    return (
        lineitem.join(
            F.broadcast(part.where(F.col("p_brand") == "Brand#13")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(half_avg), F.col("_pk") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("_half_avg"))
        .agg(
            floor_round(
                F.sum(_cents(F.col("l_extendedprice"))) / 100.0 / 7.0, 2
            ).alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume_customers",
    tags=("relational", "having"),
    description="TPC-H Q18 shape: orders whose total quantity exceeds a threshold",
    oracle="""
        SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
        FROM (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        )
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )


@register(
    "q19_bracket_revenue",
    tags=("relational", "disjunctive-filter"),
    description="TPC-H Q19 shape: revenue under OR-ed brand/size/quantity brackets",
    oracle=f"""
        SELECT {cents_sum_sql(_REVENUE_SQL)} AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 10
               AND l_quantity BETWEEN 1  AND 20)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 35)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(bracket)
        .agg(
            cents_sum(_revenue()).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q22_idle_rich_customers",
    tags=("relational", "anti-join", "scalar-subquery"),
    description="TPC-H Q22 shape: above-average-balance customers idle since 1999, by nation",
    oracle="""
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS totacctbal
        FROM customer
        WHERE c_acctbal > (
                SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01'
              )
        GROUP BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = customer.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            orders.where(F.col("o_orderdate") >= ts("1999-01-01")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            cents_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "lineitem_cube",
    tags=("relational", "cube"),
    description="CUBE over (returnflag, linestatus): all grouping-set rollups",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


@register(
    "nation_customer_supplier_setops",
    tags=("relational", "set-ops"),
    description="INTERSECT / EXCEPT over customer vs supplier nation keys",
    oracle="""
        SELECT 'both' AS tag, n_key FROM (
            SELECT DISTINCT c_nationkey AS n_key FROM customer
            INTERSECT
            SELECT DISTINCT s_nationkey FROM supplier
        )
        UNION ALL
        SELECT 'customers_only' AS tag, n_key FROM (
            SELECT DISTINCT c_nationkey AS n_key FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey FROM supplier
        )
    """,
)
def nation_customer_supplier_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").alias("n_key")).distinct()
    s = supplier.select(F.col("s_nationkey").alias("n_key")).distinct()
    return c.intersect(s).select(F.lit("both").alias("tag"), "n_key").unionByName(
        c.exceptAll(s).select(F.lit("customers_only").alias("tag"), "n_key")
    )


# --- derived partsupp: the three remaining TPC-H shapes ---------------------
#
# The driver's testdata has no partsupp table (the round-3 VERDICT's one
# remaining TPC-H gap), but Q2/Q11/Q20 are join/agg SHAPES, not data: a
# deterministic part-supplier relation derived in-query from the tables
# that DO exist lets both engines materialize the identical relation and
# run the real query forms. Each part gets exactly 4 suppliers at evenly
# spaced key offsets (distinct for any supplier count >= 4 since keys are
# 0-based contiguous), with availqty/supplycost as small modular
# polynomials of (p_partkey, i) — integer-exact in both engines.

_PS_PER_PART = 4

_PARTSUPP_SQL = """
        partsupp AS (
            SELECT p_partkey,
                   (p_partkey + i * (s_count // 4)) % s_count AS ps_suppkey,
                   (p_partkey * 7 + i * 3) % 9999 + 1 AS ps_availqty,
                   (p_partkey * 31 + i * 17) % 100000 + 1 AS ps_supplycost_cents
            FROM part,
                 (SELECT CAST(count(*) AS BIGINT) AS s_count FROM supplier),
                 (SELECT unnest(range(4)) AS i)
        )
"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp relation: 4 suppliers per part.

    The supplier-count scalar comes from a partial-aggregated global
    count (one pre-combined row per task crosses the single-partition
    exchange — the lint-sanctioned global-aggregate shape) broadcast
    onto the part scan; the relation itself is one narrow projection
    per (part, i) — no shuffle of part rows, 4x |part| output, and the
    same arithmetic replays exactly in the DuckDB oracle CTE
    (_PARTSUPP_SQL)."""
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    s_count = supplier.agg(F.count("*").alias("s_count"))
    i = F.col("i").cast("long")
    return (
        part.select("p_partkey")
        .crossJoin(F.broadcast(s_count))
        .select(
            "p_partkey",
            F.explode(
                F.array(*[F.lit(k) for k in range(_PS_PER_PART)])
            ).alias("i"),
            "s_count",
        )
        .select(
            "p_partkey",
            (
                (F.col("p_partkey") + i * F.expr("s_count DIV 4"))
                % F.col("s_count")
            ).alias("ps_suppkey"),
            ((F.col("p_partkey") * 7 + i * 3) % 9999 + 1).alias("ps_availqty"),
            ((F.col("p_partkey") * 31 + i * 17) % 100000 + 1).alias(
                "ps_supplycost_cents"
            ),
        )
    )


@register(
    "q2_min_cost_supplier",
    tags=("relational", "join", "scalar-subquery", "tpch"),
    description="TPC-H Q2 shape over the derived partsupp: per qualifying "
    "part, the ASIA supplier with minimum supply cost (correlated min "
    "decorrelated as aggregate + join-back)",
    oracle=f"""
        WITH {_PARTSUPP_SQL},
        asia_sup AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
        ),
        cand AS (
            SELECT p.p_partkey, p.p_brand, a.s_name, a.n_name,
                   ps.ps_supplycost_cents,
                   CAST(floor(a.s_acctbal * 100 + 0.5) AS BIGINT)
                       AS s_acctbal_cents
            FROM partsupp ps
            JOIN asia_sup a ON ps.ps_suppkey = a.s_suppkey
            JOIN part p ON ps.p_partkey = p.p_partkey
            WHERE p.p_type = 'ECONOMY' AND p.p_size < 30
        )
        SELECT c.p_partkey, c.p_brand, c.s_name, c.n_name,
               c.ps_supplycost_cents, c.s_acctbal_cents
        FROM cand c
        JOIN (
            SELECT p_partkey, min(ps_supplycost_cents) AS min_cost
            FROM cand GROUP BY p_partkey
        ) m ON c.p_partkey = m.p_partkey
           AND c.ps_supplycost_cents = m.min_cost
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's correlated `cost = (SELECT min(cost) ...)` decorrelated the
    way Catalyst would: aggregate the candidate relation per part, join
    the min back on (part, cost). Supply costs are distinct within a
    part by construction (17*i mod 1e5 injective for i<4), so exactly
    one supplier survives per part — no tie ambiguity across engines.
    Dimensions (nation/region, the supplier side after the region
    filter) broadcast; the only key shuffle is the per-part min +
    join-back, both on p_partkey."""
    ps = derived_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    asia_sup = (
        supplier.join(
            F.broadcast(nation),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.floor(F.col("s_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("s_acctbal_cents"),
            "n_name",
        )
    )
    cand = (
        ps.join(asia_sup, ps.ps_suppkey == asia_sup.s_suppkey)
        .join(
            part.where(
                (F.col("p_type") == "ECONOMY") & (F.col("p_size") < 30)
            ).select("p_partkey", "p_brand"),
            "p_partkey",
        )
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            "ps_supplycost_cents",
            "s_acctbal_cents",
        )
    )
    min_cost = cand.groupBy("p_partkey").agg(
        F.min("ps_supplycost_cents").alias("min_cost")
    )
    return (
        cand.join(min_cost, "p_partkey")
        .where(F.col("ps_supplycost_cents") == F.col("min_cost"))
        .drop("min_cost")
    )


@register(
    "q11_important_stock",
    tags=("relational", "aggregate", "scalar-subquery", "tpch"),
    description="TPC-H Q11 shape over the derived partsupp: per-part stock "
    "value for one nation's suppliers, kept where value > 0.1% of the "
    "nation total (global-scalar threshold, integer-exact)",
    oracle=f"""
        WITH {_PARTSUPP_SQL},
        nat_sup AS (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_12'
        ),
        vals AS (
            SELECT p_partkey,
                   CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT)
                       AS value_cents
            FROM partsupp JOIN nat_sup ON ps_suppkey = s_suppkey
            GROUP BY p_partkey
        )
        SELECT p_partkey, value_cents
        FROM vals, (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents
                    FROM vals) t
        WHERE value_cents * 1000 > total_cents
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's `HAVING value > (SELECT sum(...) * fraction)` with the
    global scalar as a partial-aggregated 1-row broadcast crossed back
    onto the per-part values (the lint-sanctioned global-aggregate
    shape). The threshold compare is all-integer (value*1000 > total —
    exact while the nation's total stock value stays under ~9.2e15
    cents, i.e. ~1e4x the sf1 total), so both engines keep the
    identical row set. One key shuffle (per-part sum); the nation's
    supplier list broadcasts."""
    ps = derived_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nat_sup = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == "NATION_12")),
        supplier.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey")
    vals = (
        ps.join(F.broadcast(nat_sup), ps.ps_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents") * F.col("ps_availqty")
            ).alias("value_cents")
        )
    )
    total = vals.agg(F.sum("value_cents").alias("total_cents"))
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("p_partkey", "value_cents")
    )


@register(
    "q20_promotable_suppliers",
    tags=("relational", "join", "semi-join", "tpch"),
    description="TPC-H Q20 shape over the derived partsupp: suppliers of "
    "'small%' parts whose stock exceeds half of 1996 shipments for that "
    "(part, supplier) — correlated half-sum as aggregate + join",
    oracle=f"""
        WITH {_PARTSUPP_SQL},
        shipped AS (
            SELECT l_partkey, l_suppkey,
                   CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS qty_centi
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey
        ),
        promo AS (
            SELECT DISTINCT ps.ps_suppkey
            FROM partsupp ps
            JOIN part p ON ps.p_partkey = p.p_partkey
            JOIN shipped sh ON ps.p_partkey = sh.l_partkey
                           AND ps.ps_suppkey = sh.l_suppkey
            WHERE p.p_name LIKE 'small%'
              AND ps.ps_availqty * 200 > sh.qty_centi
        )
        SELECT s.s_suppkey, s.s_name, n.n_name
        FROM promo JOIN supplier s ON ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def q20_promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's correlated `ps_availqty > 0.5 * (SELECT sum(l_quantity)...)`
    decorrelated as a (partkey, suppkey) aggregate joined to the derived
    partsupp; the half-sum compare rides integer centi-units
    (avail*200 > sum(floor(qty*100+0.5))) so the strict inequality is
    engine-exact. One fact shuffle (the lineitem group-by); the
    qualifying (part, supplier) pairs then distinct on supplier and the
    supplier/nation dimensions broadcast."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    lineitem = load_table(spark, sf_dir, "lineitem")

    shipped = (
        lineitem.where(
            (F.col("l_shipdate") >= ts("1996-01-01"))
            & (F.col("l_shipdate") < ts("1997-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
            ).alias("qty_centi")
        )
    )
    promo = (
        ps.join(
            part.where(F.col("p_name").like("small%")).select("p_partkey"),
            "p_partkey",
        )
        .join(
            shipped,
            (ps.p_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .where(F.col("ps_availqty") * 200 > F.col("qty_centi"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        promo.join(supplier, promo.ps_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(nation),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .select("s_suppkey", "s_name", "n_name")
    )


# --- Z-order layout extents (functions/zorder.py made driver-attestable) ----

_Z_BITS = 4  # 16 buckets per dimension -> 256 Morton cells


def _zcell_sql(qp: str, qs: str) -> str:
    """Unrolled Morton interleave in SQL: bit i of qp -> bit 2i, bit i of
    qs -> bit 2i+1 (same layout as functions/zorder.interleave_bits)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({qp} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({qs} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "lineitem_zorder_extents",
    tags=("layout", "partitioning"),
    description="Z-order (Morton) layout audit over lineitem "
    "(l_partkey x l_suppkey): min/max-scaled 4-bit quantization per "
    "dimension, bit-interleaved cell key, per-cell row counts and "
    "2-D extents plus the extent-area product a file skipper would prune "
    "against — all-integer arithmetic, exact on every engine",
    oracle=f"""
        WITH mm AS (
            SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                   min(l_suppkey) AS smin, max(l_suppkey) AS smax
            FROM lineitem
        ),
        q AS (
            SELECT l_partkey, l_suppkey,
                   ((l_partkey - mm.pmin) * {1 << _Z_BITS})
                       // (mm.pmax - mm.pmin + 1) AS qp,
                   ((l_suppkey - mm.smin) * {1 << _Z_BITS})
                       // (mm.smax - mm.smin + 1) AS qs
            FROM lineitem, mm
        )
        SELECT zcell,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(l_partkey) AS p_min, max(l_partkey) AS p_max,
               min(l_suppkey) AS s_min, max(l_suppkey) AS s_max,
               (max(l_partkey) - min(l_partkey) + 1)
                   * (max(l_suppkey) - min(l_suppkey) + 1) AS extent_area
        FROM (SELECT l_partkey, l_suppkey,
                     {_zcell_sql('qp', 'qs')} AS zcell
              FROM q)
        GROUP BY zcell
    """,
)
def lineitem_zorder_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse OPTIMIZE-ZORDER primitive as an auditable query:
    quantize (l_partkey, l_suppkey) to a bounded unsigned space by exact
    integer min/max scaling, Morton-interleave the bits
    (functions/zorder.py:interleave_bits — pure shift/mask codegen), and
    report per-cell row counts and 2-D extents. Supported key span:
    ``max - min < 2^59`` per dimension — beyond that ``(v - min) * 16``
    would wrap int64 silently on Spark while the SQL twin raises, the
    engine-divergence mode the ADVICE audits flag; quantize such keys
    by dividing first. ``extent_area`` is what a
    min/max file skipper prunes against: under a Z-order layout it stays
    near (span_p/16)*(span_s/16) per cell in BOTH dimensions, where a
    single-column sort leaves the other dimension's extent at full span
    (tests/test_bucketing.py demonstrates the box-query pruning win on
    written files). Scale shape: one broadcast of the 1-row min/max
    aggregate back onto the scan, one hash aggregate keyed by the 256
    Morton cells — no other coordination; the quantization and
    interleave are exact integer ops, so the oracle replays bit-for-bit.
    """
    from data_algorithms_with_pyspark_spark.functions.zorder import (
        interleave_bits,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mm = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    scale = 1 << _Z_BITS
    q = li.crossJoin(F.broadcast(mm)).select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            f"((l_partkey - pmin) * {scale}) div (pmax - pmin + 1)"
        ).alias("qp"),
        F.expr(
            f"((l_suppkey - smin) * {scale}) div (smax - smin + 1)"
        ).alias("qs"),
    )
    cells = q.select(
        "l_partkey",
        "l_suppkey",
        interleave_bits(F.col("qp"), F.col("qs"), bits=_Z_BITS).alias("zcell"),
    )
    return cells.groupBy("zcell").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("l_partkey").alias("p_min"),
        F.max("l_partkey").alias("p_max"),
        F.min("l_suppkey").alias("s_min"),
        F.max("l_suppkey").alias("s_max"),
        (
            (F.max("l_partkey") - F.min("l_partkey") + 1)
            * (F.max("l_suppkey") - F.min("l_suppkey") + 1)
        ).alias("extent_area"),
    )


# --- Q21: the last classic TPC-H shape (derived receipt/commit dates) -------
#
# The testdata lacks l_receiptdate/l_commitdate (the round-4 VERDICT's one
# remaining TPC-H gap). Same closure pattern as derived_partsupp: both
# engines derive the dates deterministically from columns that DO exist —
# commitdate = shipdate + 30 days, receiptdate = shipdate + a modular
# polynomial of (orderkey, linenumber, suppkey) in [0, 60] days — so a line
# is "late" (receipt > commit) iff its offset exceeds 30, identically on
# both engines, and the query keeps Q21's real date comparison.

_Q21_NATIONS = ("NATION_3", "NATION_8", "NATION_13", "NATION_18", "NATION_23")


@register(
    "q21_waiting_suppliers",
    tags=("relational", "join", "exists", "anti-join", "tpch"),
    description="TPC-H Q21 shape over derived receipt/commit dates: "
    "suppliers in a nation group who were the SOLE late supplier on a "
    "multi-supplier finalized order (exists + not-exists decorrelated as "
    "one per-order distinct-count aggregate joined back)",
    oracle=f"""
        WITH li AS (
            SELECT l_orderkey, l_suppkey,
                   CAST(l_shipdate AS DATE) + 30 AS l_commitdate,
                   CAST(l_shipdate AS DATE)
                       + CAST((l_orderkey * 31 + l_linenumber * 7
                               + l_suppkey * 13) % 61 AS INTEGER)
                       AS l_receiptdate
            FROM lineitem
        ),
        late AS (
            SELECT * FROM li WHERE l_receiptdate > l_commitdate
        )
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM late l1
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
                     AND o.o_orderstatus = 'F'
        JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN {_Q21_NATIONS!r}
          AND EXISTS (SELECT 1 FROM li l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 (suppliers who kept orders waiting), decorrelated the way the
    classic optimizers rewrite it: instead of re-scanning lineitem for the
    EXISTS (another supplier on the order) and NOT EXISTS (no OTHER late
    supplier), ONE per-order aggregate computes n_supp = countDistinct
    (supplier) and n_late_supp = countDistinct(late supplier); a late line
    qualifies iff n_supp >= 2 and n_late_supp == 1 (the sole late supplier
    is then necessarily its own). One fact scan + one orderkey-partitioned
    aggregate + one orderkey join-back replace two extra fact joins —
    the shuffles share the o_orderkey key, and at 100 TB the per-order
    relation is ~|orders| rows of three ints. orders prunes to status 'F'
    before its join; supplier⨝nation (filtered to the nation group —
    testdata nations are uniform, so a 5-nation group keeps the filter
    selective but non-empty at every SF) broadcasts. The derived dates
    make the real receipt>commit comparison engine-exact: offsets are
    integer-modular, and DATE + k days is exact calendar arithmetic in
    both engines. LIMIT rides a total order (numwait DESC, unique s_name).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    ship_date = F.col("l_shipdate").cast("date")
    recv_off = (
        (
            F.col("l_orderkey") * 31
            + F.col("l_linenumber").cast("long") * 7
            + F.col("l_suppkey") * 13
        )
        % 61
    ).cast("int")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        F.date_add(ship_date, 30).alias("l_commitdate"),
        F.date_add(ship_date, recv_off).alias("l_receiptdate"),
    )
    is_late = F.col("l_receiptdate") > F.col("l_commitdate")

    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(is_late, F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    nat_sup = supplier.join(
        F.broadcast(nation.where(F.col("n_name").isin(*_Q21_NATIONS))),
        supplier.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", "s_name")

    cand = (
        li.where(is_late)
        .join(
            orders.where(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(per_order, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        cand.join(F.broadcast(nat_sup), cand.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
