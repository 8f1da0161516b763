"""TPC-H-shaped headline queries over the driver tables.

The driver's testdata is "TPC-H-ish" (TESTDATA.md), so the classic TPC-H
shapes are the natural macro-benchmarks (SURVEY.md §5): they compose the
§2 operators into realistic multi-join/aggregation pipelines and anchor
bench.py. Query constants are adapted to this data's actual ranges
(orderdates 1995→2001).

Scale notes per query are inline; the common theme: dims broadcast,
facts shuffle once on their join key, aggregates combine map-side, and
top-k never sorts globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatacw1_spark.operators.relational import (
    exact_avg,
    exact_sum,
    fan_out,
    from_units,
    stable_round,
    sum_units,
)
from bigdatacw1_spark.queries.registry import q
from bigdatacw1_spark.queries.registry import t as _t


@q(
    "tpch_q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_qty,
               FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_base_price,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_charge,
               FLOOR((SUM(CAST(l_quantity AS DECIMAL(30,2))) / COUNT(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
               FLOOR((SUM(CAST(l_extendedprice AS DECIMAL(30,2))) / COUNT(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
               FLOOR((SUM(CAST(l_discount AS DECIMAL(30,2))) / COUNT(l_discount)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: full-scan aggregation — the map-side-combine stress test.
    One scan, one tiny shuffle (6 groups); everything else is partial
    aggregation inside whole-stage codegen.

    fan_out: seven exact aggregates per row make this the most
    CPU-bound headline query, and the test parquet is a single row group
    (scan parallelism 1), so the conditional repartition buys a measured
    ~40%. Round-4 interleaved A/B (n=6 each, sf0.1) including the COLD
    first run VERDICT r3 #8 flagged: no-fan-out min 1.90 s / cold 4.10 s;
    fan_out(32) min 1.13 / cold 2.40; fan_out(16) min 1.21 / cold 1.83 —
    fan_out wins on BOTH bases at either width; 32 kept for the best
    steady-state (cold-vs-warm is now visible in bench runs[0] either
    way). On a production many-split scan fan_out is a no-op and the
    plan stays pure scan -> partial agg -> one exchange of 6 groups. The
    same A/B on the join/window headliners (q18/q5/ev_tumbling/ref_sql2)
    showed the injected shuffle LOSES there, so only q1 fans out."""
    # Project to the 7 referenced columns BEFORE the fan-out exchange
    # (guide §2.3): the hash spread key is derived from the row, so an
    # unprojected input would force the scan to read (and the key to
    # hash) all 11 columns; the explicit select keeps ReadSchema at 7.
    l = fan_out(
        _t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        )
    )
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc_price} * (1 + l_tax)"
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", scale=2).alias("sum_qty"),
            exact_sum("l_extendedprice", scale=2).alias("sum_base_price"),
            exact_sum(disc_price, scale=6).alias("sum_disc_price"),
            exact_sum(charge, scale=6).alias("sum_charge"),
            exact_avg("l_quantity", scale=2).alias("avg_qty"),
            exact_avg("l_extendedprice", scale=2).alias("avg_price"),
            exact_avg("l_discount", scale=2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-30'
          AND l_shipdate > TIMESTAMP '1997-06-30'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    headline=True,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter → fact join → top-k. The segment
    filter prunes customer before the join (predicate pushdown to the
    scan); the final sort+limit is TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-06-30").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@q(
    "tpch_q5_local_volume",
    oracle="""
        SELECT n_name,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    headline=True,
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-table join with the co-nation constraint. nation/region
    broadcast; the customer⨝supplier nation equality rides along as a
    join-side filter — no extra shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(s, (l["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@q(
    "tpch_q4_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: ship-after-order instead of the absent
    commit/receipt dates): EXISTS → left-semi join with a non-equi
    residual condition, then a tiny grouped count."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o["o_orderkey"] == l["l_orderkey"]) & (l["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@q(
    "tpch_q7_volume_shipping",
    oracle="""
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               YEAR(l_shipdate) AS l_year,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_name IN ('NATION_1', 'NATION_2')
          AND sn.n_name IN ('NATION_1', 'NATION_2')
          AND cn.n_name <> sn.n_name
        GROUP BY cn.n_name, sn.n_name, YEAR(l_shipdate)
        ORDER BY cust_nation, supp_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: cross-nation trade volume by year. The two nation dims
    broadcast under different aliases; the nation-pair inequality is a
    cheap residual predicate after the broadcasts."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nations = ["NATION_1", "NATION_2"]
    cn = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("revenue")
        )
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


@q(
    "tpch_q8_market_share",
    oracle="""
        WITH all_rev AS (
            SELECT YEAR(o_orderdate) AS o_year,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS volume,
                   sn.n_name AS supp_nation
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN part ON l_partkey = p_partkey
            WHERE p_type = 'PROMO'
        )
        SELECT o_year,
               FLOOR((CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(volume) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS mkt_share
        FROM all_rev
        GROUP BY o_year
        ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (adapted to available columns): one nation's share of
    PROMO-part revenue per order year — conditional-over-total aggregation
    after a 5-way join with broadcast dims."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    nat_vol = "CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0.0D END"
    return (
        base.groupBy("o_year")
        .agg(
            stable_round(
                exact_sum(nat_vol, scale=6, digits=None)
                / exact_sum("volume", scale=6, digits=None),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@q(
    "tpch_q6_forecast_revenue",
    oracle="""
        SELECT FLOOR(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter-aggregate. All three predicates push to the
    parquet scan (PushedFilters); the aggregate is a single partial+final
    pair with no grouping key — the minimal-shuffle shape."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum("l_extendedprice * l_discount", scale=6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@q(
    "tpch_q10_returned_items",
    oracle="""
        SELECT c_custkey, c_name,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
               c_acctbal, n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer. Date + returnflag
    filters push to the scans before the joins; nation broadcasts;
    top-20 via TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@q(
    "tpch_q14_promo_effect",
    oracle="""
        SELECT FLOOR((100.0 * SUM(CAST(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,6)))
                     / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))) * 10000.0 + 0.5) / 10000.0
               AS promo_revenue_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional aggregation over a
    fact⨝dim join. part broadcasts (it is the small side); the month
    filter prunes lineitem at the scan. Exact sums keep the ratio
    order-independent across engines."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = "l_extendedprice * (1 - l_discount)"
    promo_rev = f"CASE WHEN p_type = 'PROMO' THEN {rev} ELSE 0.0D END"
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    return joined.agg(
        stable_round(
            (F.lit(100.0) * exact_sum(promo_rev, scale=6, digits=None))
            / exact_sum(rev, scale=6, digits=None),
            4,
        ).alias("promo_revenue_pct")
    )


@q(
    "tpch_q9_product_profit",
    oracle="""
        SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, YEAR(o_orderdate)
        ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: no partsupp table, so profit omits supplycost):
    revenue on LIKE-matched parts by supplier nation and order year. The
    contains-pattern prunes part before the broadcast; StartsWith/Contains
    push to the scan as parquet filters."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@q(
    "tpch_q13_customer_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed k orders, for every k. Left
    outer join (customers with no orders count as 0 — COUNT of a nullable
    key), then a second tiny aggregation over the counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@q(
    "tpch_q15_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue —
    equality against an uncorrelated scalar subquery. The max is a
    one-row broadcast (cross-join of a scalar), not a sort."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        l.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("__mx"))
    return (
        s.join(revenue, s["s_suppkey"] == revenue["supplier_no"])
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("__mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@q(
    "tpch_q17_small_quantity_revenue",
    oracle="""
        WITH avg_qty AS (
            SELECT l_partkey AS pk,
                   SUM(CAST(l_quantity AS DECIMAL(30,2))) / COUNT(l_quantity) AS aq
            FROM lineitem GROUP BY l_partkey
        )
        SELECT FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / 7.0 * 100.0 + 0.5) / 100.0 AS avg_yearly,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN avg_qty ON l_partkey = pk
        WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * aq
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: lines below 20% of their part's average quantity — the
    correlated-aggregate pattern, decorrelated by hand into a per-part
    aggregate re-joined to the fact (exactly what Catalyst does to the
    correlated form). exact_avg per part (DuckDB's own cast and division
    steps) keeps the 0.2*avg threshold bit-identical across engines."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    avg_qty = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        exact_avg("l_quantity", scale=2, digits=None).alias("aq")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(avg_qty, l["l_partkey"] == F.col("pk"))
        .where(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(
            stable_round(exact_sum("l_extendedprice", scale=2, digits=None) / 7.0, 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@q(
    "tpch_q22_global_sales_opportunity",
    oracle="""
        WITH pos AS (
            SELECT SUM(CAST(c_acctbal AS DECIMAL(30,2))) / COUNT(c_acctbal) AS avg_bal
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey,
               COUNT(*) AS numcust,
               FLOOR(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS totacctbal
        FROM customer, pos
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-06-01')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: nation key instead of the absent phone prefix,
    and 'no RECENT order' so the anti join is non-trivial at test scale):
    well-funded lapsed customers — scalar subquery threshold (broadcast
    one-row cross join) + anti join + grouped totals."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    )
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        exact_avg("c_acctbal", scale=2, digits=None).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", scale=2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@q(
    "tpch_q19_discounted_revenue",
    oracle="""
        SELECT FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted): three disjunctive brand/size/quantity branches.
    Catalyst extracts the common join key and pushes the per-side parts of
    the OR (brand/size to the part scan, quantity to lineitem) as an
    OR-of-ranges filter; part broadcasts."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    branch = lambda brand, s1, s2, q1, q2: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s1, s2)
        & F.col("l_quantity").between(q1, q2)
    )
    cond = (
        branch("Brand#1", 1, 15, 1, 11)
        | branch("Brand#2", 10, 30, 10, 20)
        | branch("Brand#3", 20, 50, 20, 30)
    )
    return joined.where(cond).agg(
        exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@q(
    "tpch_q18_large_orders",
    oracle="""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > 120
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    headline=True,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the IN-against-aggregated-subquery, computed in ONE pass
    over lineitem (optimization guide §1.2: don't compute things you throw
    away). The naive form — semi-join orders against the HAVING subquery,
    re-join lineitem, re-aggregate per order — scans and aggregates
    lineitem TWICE to produce the same per-order quantity sum both times:
    o_orderkey is unique in orders and c_custkey unique in customer, so
    every final group (c_name, c_custkey, o_orderkey, o_orderdate,
    o_totalprice) is exactly one order and its SUM(l_quantity) is exactly
    the subquery's per-order sum. Aggregating once and joining the
    HAVING-filtered result to orders⨝customer is row-for-row identical
    (driver-oracle-checked) and removes one full fact scan, one shuffle
    aggregation and one fact join — the dominant costs at 100 TB.
    Round-12 measured (sf0.1, interleaved A/B min-of-5): 1.29 s → 0.56 s,
    plan 2 lineitem scans → 1, 6 jobs → 4."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(sum_units("l_quantity", 2).alias("__q"))
        .where(F.col("__q") > 12000)  # HAVING SUM(...) > 120, in hundredths
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(big, o["o_orderkey"] == big["l_orderkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            stable_round(from_units(F.col("__q"), 2), 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@q(
    "tpch_q12_late_shipment_priority",
    oracle="""
        SELECT l_returnflag AS ship_class,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def tpch_q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: return-flag ship classes + ship-lag lateness
    instead of the absent shipmode/commit/receipt dates): equi join with a
    non-equi residual (shipped >60 days after ordering) + conditional
    counts. The ship-date range prunes the fact scan before the shuffle;
    the residual evaluates post-join inside codegen."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (l["l_orderkey"] == o["o_orderkey"])
            & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@q(
    "tpch_q16_supplier_part_counts",
    oracle="""
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#3'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: lineitem stands in for the absent partsupp;
    negative account balance is the 'complaints' predicate): NOT IN →
    broadcast left-anti join, distinct-count of suppliers per part class.
    Both dims broadcast; the only shuffle is the final distinct-agg."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@q(
    "tpch_q20_excess_shippers",
    oracle="""
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
          AND s_suppkey IN (
              SELECT l_suppkey
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'small%'
                AND l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY l_suppkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > 300
          )
        ORDER BY s_name
    """,
)
def tpch_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: shipped volume from lineitem replaces the absent
    partsupp availability): IN-against-aggregated-subquery → left-semi join
    on a HAVING-filtered grouped fact; part + nation broadcast."""
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select("p_partkey")
    heavy = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(sum_units("l_quantity", 2).alias("qty"))
        .where(F.col("qty") > 30000)  # HAVING SUM(...) > 300, in hundredths
        .select("l_suppkey")
    )
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@q(
    "tpch_q21_waiting_suppliers",
    oracle="""
        WITH late AS (
            SELECT l_orderkey, l_suppkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM late l1
        JOIN supplier ON s_suppkey = l1.l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: 'late' = shipped >60 days after ordering, for
    the absent commit/receipt dates): the classic EXISTS / NOT EXISTS pair
    over the same fact — a left-semi then left-anti self-join, both with a
    suppkey-inequality residual, co-partitioned on l_orderkey so the two
    self-joins reuse one shuffle of the late set."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = (
        _t(spark, sf_dir, "lineitem")
        .join(
            o,
            (F.col("l_orderkey") == o["o_orderkey"])
            & (F.col("l_shipdate") > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = late.select(F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3"))
    l1 = (
        late.join(
            l2,
            (F.col("l_orderkey") == F.col("ok2")) & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("ok3")) & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
    )
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        l1.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@q(
    "tpch_q2_min_cost_supplier",
    oracle="""
        WITH offers AS (
            SELECT l_partkey, l_suppkey, l_extendedprice FROM lineitem
        ), best AS (
            SELECT l_partkey AS b_partkey, MIN(l_extendedprice) AS min_price
            FROM offers GROUP BY l_partkey
        )
        SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name, min_price
        FROM part
        JOIN best ON p_partkey = b_partkey
        JOIN offers ON offers.l_partkey = p_partkey AND offers.l_extendedprice = min_price
        JOIN supplier ON s_suppkey = offers.l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: cheapest observed lineitem price replaces the
    absent partsupp supplycost): correlated-min subquery → grouped min
    re-joined on (partkey, price), keeping ALL tied suppliers like the
    spec; region→nation→supplier dim chain broadcasts. DISTINCT guards
    against the same supplier hitting the min price twice."""
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    best = l.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    p = _t(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        l.join(best, (l["l_partkey"] == F.col("b_partkey")) & (l["l_extendedprice"] == F.col("min_price")))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "min_price")
        .distinct()
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@q(
    "tpch_q11_important_parts",
    oracle="""
        WITH val AS (
            SELECT l_partkey AS ps_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS v
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
            GROUP BY l_partkey
        )
        SELECT ps_partkey, FLOOR(CAST(v AS DOUBLE) * 100.0 + 0.5) / 100.0 AS part_value
        FROM val
        WHERE CAST(v AS DOUBLE) > (SELECT CAST(SUM(v) AS DOUBLE) * 0.001 FROM val)
        ORDER BY part_value DESC, ps_partkey
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: traded value from lineitem replaces the absent
    partsupp stock value): grouped exact-decimal sums filtered against a
    scalar-subquery fraction of the grand total — the one-row total
    broadcasts as a cross join, so the per-part values are not reshuffled."""
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(sum_units("l_extendedprice", 2).alias("v"))
    )
    total = val.agg((from_units(F.sum("v"), 2) * F.lit(0.001)).alias("threshold"))
    v = from_units(F.col("v"), 2)
    return (
        val.join(F.broadcast(total))
        .where(v > F.col("threshold"))
        .select("ps_partkey", stable_round(v, 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "ps_partkey")
    )
