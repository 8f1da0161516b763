"""Per-operator micro-queries: one oracle-checked entry per SURVEY.md §2 row.

Each entry isolates one operator (plus the minimum scaffolding to make it
observable) so the driver's CORRECTNESS json maps line-by-line onto the
operator inventory. Reference cites are to
/root/reference/Student_23098644/1.CourseworkOne/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatacw1_spark.operators.relational import (
    above_group_average,
    as_of_join,
    conditional_avg,
    exact_avg,
    exact_sum,
    group_dedup,
    salted_join,
    stable_round,
    topk,
)
from bigdatacw1_spark.queries.registry import q
from bigdatacw1_spark.queries.registry import t as _t


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------

@q("p1_projection", oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer")
def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 column projection (SQLQueries.sql:11,37-38,44). Column pruning
    must reach the scan: ReadSchema lists exactly these three columns."""
    return _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@q(
    "p2_computed_column",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price
        FROM lineitem
    """,
)
def p2_computed_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 derived column + F1 round + F2 arithmetic (SQLQueries.sql:45-46)."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
    )


@q(
    "p3_in_list",
    oracle="""
        SELECT n_nationkey, n_name FROM nation
        WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
    """,
)
def p3_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 IN-list predicate (SQLQueries.sql:15). Pushed to the parquet scan."""
    return (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
        .select("n_nationkey", "n_name")
    )


@q(
    "p4_between_dates",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-06-30'
    """,
)
def p4_between_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 date-range predicate (SQLQueries.sql:41). At 100 TB this is the
    predicate that partition pruning keys on (facts partitioned by date)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .where(
            F.col("l_shipdate").between(
                F.lit("1997-01-01").cast("timestamp"), F.lit("1997-06-30").cast("timestamp")
            )
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@q(
    "p5_sentinel_filter",
    oracle="""
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderstatus <> 'F'
    """,
)
def p5_sentinel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 inequality vs a string sentinel (SQLQueries.sql:50 ``trader <>
    'null'``): SQL ``<>`` is null-rejecting, replicated explicitly
    (SURVEY.md §7.4.1)."""
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus").isNotNull() & (F.col("o_orderstatus") != "F"))
        .select("o_orderkey", "o_orderstatus")
    )


@q(
    "p6_nested_predicate",
    oracle="SELECT p_partkey, p_retailprice AS price FROM part WHERE p_retailprice > 1500",
)
def p6_nested_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 comparison on a nested field (NoSQLQueries.js:9
    ``MarketData.MarketCap > 100000``): build the document struct, filter
    through the dotted path (F9), project back to flat columns.
    Catalyst's NestedColumnAliasing keeps pruning effective."""
    part = _t(spark, sf_dir, "part")
    nested = part.select(
        "p_partkey",
        F.struct(F.col("p_retailprice").alias("Price"), F.col("p_size").alias("Size")).alias(
            "MarketData"
        ),
    )
    return nested.where(F.col("MarketData.Price") > 1500).select(
        "p_partkey", F.col("MarketData.Price").alias("price")
    )


@q(
    "p7_sentinel_nin_trycast",
    oracle="""
        SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
          AND json_extract_string(props, '$.k') NOT IN ('NA')
    """,
)
def p7_sentinel_nin_trycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 set-exclusion / mixed-type sentinel (NoSQLQueries.js:30-33
    ``$nin: ["NA", null]``): ingest the flexible field as string, try_cast
    to double, drop NULL-result and literal 'NA' — the engine's standard
    sentinel ingest (SURVEY.md §7.4.1). Also exercises JSON extraction."""
    ev = _t(spark, sf_dir, "events")
    k_raw = F.get_json_object(F.col("props"), "$.k")
    return (
        ev.select("event_id", k_raw.try_cast("double").alias("k_val"), k_raw.alias("__raw"))
        .where(F.col("k_val").isNotNull() & ~F.col("__raw").isin("NA"))
        .drop("__raw")
    )


@q(
    "p8_nested_projection",
    oracle="SELECT c_custkey, c_name AS name, c_acctbal AS bal FROM customer",
)
def p8_nested_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 nested-field projection incl. suppressing fields
    (NoSQLQueries.js:42-47,51): build a 3-field struct, project 2 of its
    fields out, suppress the third."""
    c = _t(spark, sf_dir, "customer")
    nested = c.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_mktsegment").alias("segment"),
        ).alias("info"),
    )
    return nested.select("c_custkey", F.col("info.name").alias("name"), F.col("info.bal").alias("bal"))


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------

@q(
    "j1_left_join_dim",
    oracle="""
        SELECT c_custkey, n_name FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
)
def j1_left_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 left outer equi join onto a dimension (SQLQueries.sql:13-14).
    nation is tiny → explicit broadcast: no shuffle of the probe side."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left").select(
        "c_custkey", "n_name"
    )


@q(
    "j2_left_join_fact",
    oracle="""
        SELECT l_orderkey, l_linenumber, o_orderstatus FROM lineitem
        LEFT JOIN orders ON l_orderkey = o_orderkey
    """,
)
def j2_left_join_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 fact-to-fact left join (SQLQueries.sql:39-40). No broadcast hint:
    at 100 TB both sides are large → sort-merge on the shuffle key; AQE
    may still demote to broadcast at small SF."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return l.join(o, l["l_orderkey"] == o["o_orderkey"], "left").select(
        "l_orderkey", "l_linenumber", "o_orderstatus"
    )


@q(
    "j3_right_join_compound",
    oracle="""
        SELECT l2.l_orderkey, l2.l_linenumber, f.lq
        FROM (SELECT l_orderkey, l_linenumber, l_quantity AS lq
              FROM lineitem WHERE l_quantity > 25) f
        RIGHT JOIN lineitem l2
          ON f.l_orderkey = l2.l_orderkey AND f.l_linenumber = l2.l_linenumber
    """,
)
def j3_right_join_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 right outer join on a compound 2-column key (SQLQueries.sql:48).
    Unmatched right rows carry NULLs for the left columns."""
    l = _t(spark, sf_dir, "lineitem")
    f = l.where(F.col("l_quantity") > 25).select(
        F.col("l_orderkey").alias("f_ok"), F.col("l_linenumber").alias("f_ln"), F.col("l_quantity").alias("lq")
    )
    return f.join(
        l, (f["f_ok"] == l["l_orderkey"]) & (f["f_ln"] == l["l_linenumber"]), "right"
    ).select("l_orderkey", "l_linenumber", "lq")


@q(
    "j4_broadcast_chain",
    oracle="""
        SELECT s_suppkey, s_name, n_name, r_name FROM supplier
        LEFT JOIN nation ON s_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def j4_broadcast_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 dimension-lookup chain (SQLQueries.sql:49): two broadcast hash
    joins back to back — zero shuffles end to end."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left")
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


@q(
    "j5_multiway_pipeline",
    oracle="""
        SELECT n_name,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0
                 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
)
def j5_multiway_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 multi-way join pipeline (SQLQueries.sql:39-49): fact ⨝ fact ⨝ dim
    ⨝ dim, then aggregate. Catalyst orders the joins; nation broadcasts;
    the orders⨝lineitem join shuffles on the order key once and the
    aggregation reuses map-side partial sums."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


@q(
    "j6_left_semi",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
    """,
)
def j6_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders having at least one high-quantity
    line. Semi joins never duplicate or widen the left side — one
    key-hash shuffle, probe-side early-out."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48)
    return o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@q(
    "j7_left_anti",
    oracle="""
        SELECT o_orderkey, o_orderpriority
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    """,
)
def j7_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): orders with no line above quantity 45.
    Same single-shuffle shape as the semi join, inverted emit."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_anti").select(
        "o_orderkey", "o_orderpriority"
    )


_CORRELATED_SQL = """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
        SELECT AVG(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
"""


@q("p9_correlated_subquery", oracle=_CORRELATED_SQL)
def p9_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL front end (Engine.sql
    lifecycle, SURVEY.md §3.1/§3.3): Catalyst decorrelates it into an
    aggregate + join — the same plan the hand-written groupBy+join would
    produce. One query text serves both engines."""
    from bigdatacw1_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CORRELATED_SQL)


@q(
    "j9_salted_skew_join",
    oracle="""
        SELECT p_brand,
               FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
)
def j9_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting demonstration (operators/relational.salted_join): lineitem
    ⨝ part on (l_partkey, salt) with part replicated 8x — a hot part key
    spreads across 8 reducers instead of one. Result is provably
    identical to the plain join, so the oracle IS the plain join."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        salted_join(l, p, "l_partkey", "p_partkey", n_salts=8)
        .groupBy("p_brand")
        .agg(
            exact_sum("l_extendedprice * (1 - l_discount)", scale=6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@q(
    "w5_ntile_percent_rank",
    oracle="""
        SELECT c_custkey,
               NTILE(4) OVER w AS quartile,
               FLOOR(PERCENT_RANK() OVER w * 10000.0 + 0.5) / 10000.0 AS pct_rank
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def w5_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile quartiles, percent_rank) over
    a total order — one shuffle on the partition key."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        stable_round(F.percent_rank().over(w), 4).alias("pct_rank"),
    )


@q(
    "w6_range_frame",
    oracle="""
        SELECT o_orderkey, o_custkey,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DOUBLE)
                              RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING) AS n_similar
        FROM orders
    """,
)
def w6_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: per customer, how many of their orders fall
    within +-1000 of each order's total — value-based frames, not row
    counts. (PySpark's Window.rangeBetween only takes integer offsets, so
    the fractional-valued frame is expressed as a SQL window expression —
    same Catalyst plan.)"""
    o = _t(spark, sf_dir, "orders")
    return o.selectExpr(
        "o_orderkey",
        "o_custkey",
        "COUNT(*) OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DOUBLE)"
        " RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING) AS n_similar",
    )


@q(
    "f7_json_extract",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               FLOOR(CAST(SUM(CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS DECIMAL(30,0))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_k
        FROM events
        GROUP BY event_type
    """,
)
def f7_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string payload column (events.props is
    JSON): get_json_object stays JVM-side — no Python parse. At scale
    prefer from_json ONCE into a struct column over repeated path
    extraction of the same document."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(
            "CAST(CAST(get_json_object(props, '$.k') AS BIGINT) AS DOUBLE)", scale=0, digits=2
        ).alias("sum_k"),
    )


@q(
    "f8_explode_unnest",
    oracle="""
        SELECT tok, COUNT(*) AS n
        FROM (SELECT UNNEST(STRING_SPLIT(p_name, ' ')) AS tok FROM part)
        GROUP BY tok
    """,
)
def f8_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (lateral view / UNNEST): split-then-explode with a
    count per token. The explode is generate-side (no shuffle); only the
    count aggregation shuffles, after map-side combine."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "f9_pivot",
    oracle="""
        SELECT c_mktsegment,
               COUNT(CASE WHEN n_name = 'NATION_1' THEN 1 END) AS nation_1,
               COUNT(CASE WHEN n_name = 'NATION_2' THEN 1 END) AS nation_2,
               COUNT(CASE WHEN n_name = 'NATION_3' THEN 1 END) AS nation_3
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY c_mktsegment
    """,
)
def f9_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class pivot (the declarative form of A3's pivot-by-CASE):
    explicit value list so the plan is a single aggregate — no extra
    values-discovery pass over the fact."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    piv = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_mktsegment")
        .pivot("n_name", ["NATION_1", "NATION_2", "NATION_3"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "c_mktsegment",
        F.coalesce("NATION_1", F.lit(0)).alias("nation_1"),
        F.coalesce("NATION_2", F.lit(0)).alias("nation_2"),
        F.coalesce("NATION_3", F.lit(0)).alias("nation_3"),
    )


@q(
    "j8_asof_join",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
               p.value AS purchase_value, p.event_id AS purchase_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def j8_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each click gets the user's most recent
    purchase at or before it. Implemented as union + ordered window (one
    key shuffle, O(1) state per row — operators/relational.as_of_join),
    oracle-checked against DuckDB's native ASOF JOIN."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_id"),
    )
    return as_of_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="ts",
        right_cols=["purchase_value", "purchase_id"],
        tiebreak="purchase_id",
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------

@q(
    "a1_multikey_group",
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_multikey_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hash aggregate on a multi-column key (SQLQueries.sql:16)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), exact_sum("l_quantity", scale=2).alias("sum_qty"))
    )


@q(
    "a2_avg_of_expression",
    oracle="""
        SELECT l_returnflag,
               FLOOR((SUM(CAST(((l_extendedprice - l_quantity * 100) / (l_quantity * 100)) * 100
                        AS DECIMAL(30,8))) / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS pct_premium
        FROM lineitem GROUP BY l_returnflag
    """,
)
def a2_avg_of_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 avg over an arithmetic expression — the daily-return shape
    ``avg(((close-open)/open)*100)`` (SQLQueries.sql:12)."""
    expr = "((l_extendedprice - l_quantity * 100) / (l_quantity * 100)) * 100"
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(exact_avg(expr, scale=8).alias("pct_premium"))
    )


@q(
    "a3_conditional_agg",
    oracle="""
        WITH pv AS (
            SELECT o_orderpriority,
                   FLOOR((SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(30,2)))
                         / COUNT(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)) * 10000.0 + 0.5) / 10000.0 AS f_avg,
                   FLOOR((SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(30,2)))
                         / COUNT(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)) * 10000.0 + 0.5) / 10000.0 AS o_avg
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, f_avg, o_avg,
               CASE WHEN f_avg > o_avg THEN 'F' WHEN f_avg < o_avg THEN 'O' ELSE 'N/A' END AS winner
        FROM pv ORDER BY o_orderpriority
    """,
)
def a3_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 conditional aggregation (pivot-by-CASE, SQLQueries.sql:19-26) +
    F3 searched CASE with null-rejecting comparisons."""
    o = _t(spark, sf_dir, "orders")
    pv = o.groupBy("o_orderpriority").agg(
        exact_avg("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", scale=2).alias("f_avg"),
        exact_avg("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", scale=2).alias("o_avg"),
    )
    return pv.select(
        "o_orderpriority",
        "f_avg",
        "o_avg",
        F.when(F.col("f_avg") > F.col("o_avg"), "F")
        .when(F.col("f_avg") < F.col("o_avg"), "O")
        .otherwise("N/A")
        .alias("winner"),
    ).orderBy("o_orderpriority")


@q(
    "a4_having_distinct_count",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer GROUP BY c_mktsegment
        HAVING COUNT(DISTINCT c_nationkey) > 10
    """,
)
def a4_having_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 distinct aggregate inside HAVING (SQLQueries.sql:30). HAVING is a
    post-aggregation filter; countDistinct expands to a two-phase plan."""
    agged = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.countDistinct("c_nationkey").alias("__nd"))
    )
    return agged.where(F.col("__nd") > 10).drop("__nd")


@q("a5_group_dedup", oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")
def a5_group_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 group-by-every-column dedup (SQLQueries.sql:42,51) ≡ SELECT
    DISTINCT. Plans as hash aggregate with map-side combine: duplicates
    collapse before the shuffle."""
    return group_dedup(_t(spark, sf_dir, "customer"), ["c_mktsegment", "c_nationkey"])


@q(
    "a6_two_stage_agg",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   FLOOR((SUM(CAST(o_totalprice AS DECIMAL(30,2))) / COUNT(o_totalprice)) * 10000.0 + 0.5) / 10000.0 AS cust_avg
            FROM orders GROUP BY o_custkey
        )
        SELECT c_nationkey,
               FLOOR((SUM(CAST(cust_avg AS DECIMAL(30,4))) / COUNT(cust_avg)) * 10000.0 + 0.5) / 10000.0 AS nation_avg
        FROM per_cust JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
)
def a6_two_stage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 re-aggregation over a derived table (SQLQueries.sql:54-56):
    avg-of-avgs — two shuffles on different keys."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(exact_avg("o_totalprice", scale=2).alias("cust_avg"))
    return (
        per_cust.join(c, per_cust["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(exact_avg("cust_avg").alias("nation_avg"))
    )


@q(
    "a7_group_avg",
    oracle="""
        SELECT lang,
               FLOOR((SUM(CAST(n_chars AS DECIMAL(30,0))) / COUNT(n_chars)) * 10000.0 + 0.5) / 10000.0 AS avg_chars
        FROM documents GROUP BY lang
    """,
)
def a7_group_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 plain group-average (NoSQLQueries.js:10) over the documents table."""
    return _t(spark, sf_dir, "documents").groupBy("lang").agg(
        exact_avg("n_chars", scale=0).alias("avg_chars")
    )


@q(
    "a8_collect_list_sorted",
    oracle="""
        SELECT p_brand,
               STRING_AGG(p_type || ':' || CAST(p_size AS VARCHAR), '|' ORDER BY p_type || ':' || CAST(p_size AS VARCHAR)) AS members
        FROM part
        GROUP BY p_brand
    """,
)
def a8_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 collect_list (Mongo $push, NoSQLQueries.js:40), made
    hash-comparable: the collected list is sorted then joined to one
    string (collect_list order is partition-dependent; a deterministic
    total order is imposed before output). The struct-typed variant is
    exercised by ref_nosql2_hof and fixture tests."""
    p = _t(spark, sf_dir, "part")
    member = F.concat_ws(":", F.col("p_type"), F.col("p_size"))
    return p.groupBy("p_brand").agg(
        F.array_join(F.sort_array(F.collect_list(member)), "|").alias("members")
    )


@q(
    "a11_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total) in one
    pass — Spark expands grouping sets inside a single hash aggregate,
    not one scan per level."""
    l = _t(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), exact_sum("l_quantity", scale=2).alias("sum_qty")
    )


@q(
    "a12_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping sets of the two keys in one aggregation."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@q(
    "a9_argmin_per_group",
    oracle="""
        SELECT c_nationkey, symbol, bal FROM (
            SELECT c_nationkey, c_custkey AS symbol, c_acctbal AS bal,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rn
            FROM customer
        ) WHERE rn = 1
    """,
)
def a9_argmin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 deterministic first-per-group / argmin (NoSQLQueries.js:49-50)
    via min_by-on-struct: min of (value, tie-break key) struct is a single
    hash-agg pass — cheaper than the window variant when only the argmin
    row is needed (no full sort per partition)."""
    c = _t(spark, sf_dir, "customer")
    best = c.groupBy("c_nationkey").agg(
        F.min(F.struct(F.col("c_acctbal").alias("bal"), F.col("c_custkey").alias("symbol"))).alias("b")
    )
    return best.select("c_nationkey", F.col("b.symbol").alias("symbol"), F.col("b.bal").alias("bal"))


@q(
    "a10_min_max",
    oracle="""
        SELECT event_type, ROUND(MIN(value), 4) AS min_v, ROUND(MAX(value), 4) AS max_v,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    """,
)
def a10_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 min/max aggregates (NoSQLQueries.js:51). Min/max of doubles are
    order-independent — no decimal quantization needed."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 Window functions
# ---------------------------------------------------------------------------

@q(
    "w1_above_group_average",
    oracle="""
        SELECT s_suppkey, s_nationkey, s_acctbal FROM (
            SELECT s_suppkey, s_nationkey, s_acctbal,
                   AVG(s_acctbal) OVER (PARTITION BY s_nationkey) AS nav
            FROM supplier
        ) WHERE s_acctbal > nav
    """,
)
def w1_above_group_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 compare-row-to-group-average (NoSQLQueries.js:35-47 intent):
    window avg + row filter — no per-group array materialization."""
    return above_group_average(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal"),
        ["s_nationkey"],
        ["s_acctbal"],
    )


@q(
    "w2_rank_per_group",
    oracle="""
        SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
)
def w2_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 best-per-group via rank window (NoSQLQueries.js:49-50 intent):
    top-3 orders per priority with explicit tie-break."""
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@q(
    "w3_lag_delta",
    oracle="""
        SELECT event_id,
               ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
        FROM events
        QUALIFY delta IS NOT NULL
    """,
)
def w3_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag/offset window over event time per user — the per-entity
    sequential pattern (beyond reference surface; needed for the events
    stream table). Total order (ts, event_id) makes it deterministic."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"))
        .where(F.col("delta").isNotNull())
    )


@q(
    "w4_running_sum",
    oracle="""
        SELECT event_id,
               ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        FROM events
    """,
)
def w4_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (prefix) sum per user: frame-bounded window aggregate.
    Prefix sums evaluate in frame order in both engines → deterministic
    without decimal quantization."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "events").select(
        "event_id", F.round(F.sum("value").over(w), 4).alias("running_value")
    )


# ---------------------------------------------------------------------------
# §2.6 Sorts / limits / top-k  +  §2.7 set operations
# ---------------------------------------------------------------------------

@q(
    "o4_topk",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O4 sort+limit (NoSQLQueries.js:11-12): planned as
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    return topk(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        10,
    )


@q(
    "set_union",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 UNION (distinct): free via DataFrame union + dropDuplicates."""
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).dropDuplicates()


@q(
    "set_intersect",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.intersect(b)


@q(
    "set_except",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.exceptAll(b).dropDuplicates()


# ---------------------------------------------------------------------------
# §2.8 Scalar functions
# ---------------------------------------------------------------------------

@q(
    "f_scalar_suite",
    oracle="""
        SELECT p_partkey,
               ROUND(p_retailprice, 2) AS rounded,
               ABS(p_retailprice - 1000.0) AS dist,
               GREATEST(p_retailprice, CAST(p_size AS DOUBLE)) AS hi,
               LEAST(p_retailprice, CAST(p_size AS DOUBLE)) AS lo,
               UPPER(p_brand) AS brand_u,
               LOWER(p_type) AS type_l,
               SUBSTRING(p_name, 1, 8) AS name8,
               LENGTH(p_name) AS name_len,
               COALESCE(NULLIF(p_brand, 'Brand#11'), 'OTHER') AS brand_or_other,
               CONCAT(p_brand, '/', p_type) AS brand_type
        FROM part
    """,
)
def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4 + common scalar surface (round/abs/greatest/least/case
    folding/string ops) — all Catalyst built-ins, whole-stage codegen."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("rounded"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("dist"),
        F.greatest("p_retailprice", F.col("p_size").cast("double")).alias("hi"),
        F.least("p_retailprice", F.col("p_size").cast("double")).alias("lo"),
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.length("p_name").alias("name_len"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#11")), F.lit("OTHER")).alias("brand_or_other"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
    )


@q(
    "f_date_suite",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               YEAR(l_shipdate) AS y, MONTH(l_shipdate) AS m, DAY(l_shipdate) AS d,
               CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS month_start,
               DATEDIFF('day', TIMESTAMP '1995-01-01', l_shipdate) AS days_since
        FROM lineitem WHERE l_linenumber = 1
    """,
)
def f_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 date handling beyond literals: extract/trunc/diff — the functions
    date-partitioned 100 TB layouts key on."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").cast("long").alias("y"),
        F.month("l_shipdate").cast("long").alias("m"),
        F.dayofmonth("l_shipdate").cast("long").alias("d"),
        F.date_trunc("month", F.col("l_shipdate")).alias("month_start"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since"),
    )


@q(
    "f5_hof_filter",
    oracle="""
        SELECT doc_id,
               LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> LENGTH(w) > 4)) AS n_long_words
        FROM documents
    """,
)
def f5_hof_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 higher-order array filter with lambda (Mongo $filter,
    NoSQLQueries.js:43-47): JVM-side HOF — no Python round trip."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: F.length(w) > 4)).cast("long").alias(
            "n_long_words"
        ),
    )


@q(
    "f6_element_at",
    oracle="SELECT doc_id, STRING_SPLIT(text, ' ')[1] AS first_word FROM documents",
)
def f6_element_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 array element access (Mongo $arrayElemAt, NoSQLQueries.js:43)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.try_element_at(F.split("text", " "), F.lit(1)).alias("first_word"))


@q(
    "f_regexp",
    oracle="""
        SELECT p_partkey,
               REGEXP_EXTRACT(p_name, '[0-9]+') AS first_num,
               REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devoweled,
               CASE WHEN REGEXP_MATCHES(p_name, '^part_1') THEN 1 ELSE 0 END AS starts_part1
        FROM part
    """,
)
def f_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface (extract/replace/match) — needed by the text-analysis
    extensions; Spark regexp_replace is global like DuckDB's 'g' flag."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "[0-9]+", 0).alias("first_num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.when(F.col("p_name").rlike("^part_1"), 1).otherwise(0).alias("starts_part1"),
    )


@q(
    "a13_grouping_sets",
    oracle="""
        SELECT n_name, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority))
        ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def a13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube): three
    chosen groupings in one pass — Catalyst expands then aggregates once
    with map-side combine, instead of three scans + a union."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    j.createOrReplaceTempView("gs_base")
    return spark.sql("""
        SELECT n_name, o_orderpriority, COUNT(*) AS n_orders
        FROM gs_base
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority))
        ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
    """)


@q(
    "w7_first_last_nth",
    oracle="""
        SELECT DISTINCT o_custkey,
               FIRST_VALUE(o_orderkey) OVER w AS first_order,
               LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
               NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey
    """,
)
def w7_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value navigation over full-partition frames (the
    default growing frame would make last/nth row-dependent; the explicit
    UNBOUNDED frame makes them per-partition constants, hence DISTINCT
    collapses to one row per customer)."""
    from pyspark.sql import Window

    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_custkey",
            F.first("o_orderkey").over(full).alias("first_order"),
            F.last("o_orderkey").over(full).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(full).alias("second_order"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


@q(
    "set_except_all",
    oracle="""
        SELECT l_returnflag FROM lineitem WHERE l_quantity > 30
        EXCEPT ALL
        SELECT l_returnflag FROM lineitem WHERE l_discount > 0.05
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity-preserving difference) —
    distinct from the set-semantics EXCEPT in set_except."""
    l = _t(spark, sf_dir, "lineitem")
    a = l.where(F.col("l_quantity") > 30).select("l_returnflag")
    b = l.where(F.col("l_discount") > 0.05).select("l_returnflag")
    return a.exceptAll(b)


@q(
    "set_intersect_all",
    oracle="""
        SELECT l_returnflag FROM lineitem WHERE l_quantity > 30
        INTERSECT ALL
        SELECT l_returnflag FROM lineitem WHERE l_discount > 0.05
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL (min-multiplicity intersection)."""
    l = _t(spark, sf_dir, "lineitem")
    a = l.where(F.col("l_quantity") > 30).select("l_returnflag")
    b = l.where(F.col("l_discount") > 0.05).select("l_returnflag")
    return a.intersectAll(b)


# ---------------------------------------------------------------------------
# Beyond-reference: exact moment statistics, percentiles, top-k per group,
# referential-integrity audit, histogram binning
# ---------------------------------------------------------------------------

@q(
    "a14_stats_moments",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   COUNT(value) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                   CAST(SUM(user_id) AS DOUBLE) AS sy,
                   CAST(SUM(user_id * user_id) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(user_id AS DECIMAL(10,0))) AS DOUBLE) AS sxy
            FROM events GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               FLOOR(((sxx - sx*sx/n) / (n - 1)) * 10000.0 + 0.5) / 10000.0 AS var_value,
               FLOOR(SQRT((sxx - sx*sx/n) / (n - 1)) * 10000.0 + 0.5) / 10000.0 AS sd_value,
               FLOOR(((n*sxy - sx*sy) / SQRT((n*sxx - sx*sx) * (n*syy - sy*sy))) * 10000.0 + 0.5) / 10000.0 AS corr_value_uid
        FROM m ORDER BY event_type
    """,
)
def a14_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-exact variance / stddev / correlation from decimal
    moment sums. Built-in stddev/corr stream doubles in partition order,
    so the last ulp (and hence a rounded digit at a midpoint) can differ
    between engines and between runs; summing exact decimals first makes
    the moments order-independent, after which both engines execute the
    identical double-precision closed forms. One map-side-combinable
    aggregate — no second pass, scales as a plain groupBy."""
    e = _t(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(18,2)")
    du = F.col("user_id").cast("decimal(10,0)")
    m = e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(dv).cast("double").alias("sx"),
        F.sum(dv * dv).cast("double").alias("sxx"),
        F.sum("user_id").cast("double").alias("sy"),
        F.sum(F.col("user_id") * F.col("user_id")).cast("double").alias("syy"),
        F.sum(dv * du).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    var = (sxx - sx * sx / n) / (n - 1)
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        stable_round(var, 4).alias("var_value"),
        stable_round(F.sqrt(var), 4).alias("sd_value"),
        stable_round(corr, 4).alias("corr_value_uid"),
    ).orderBy("event_type")


@q(
    "a15_exact_percentiles",
    oracle="""
        SELECT event_type,
               FLOOR(QUANTILE_CONT(value, 0.25) * 10000.0 + 0.5) / 10000.0 AS p25,
               FLOOR(QUANTILE_CONT(value, 0.50) * 10000.0 + 0.5) / 10000.0 AS p50,
               FLOOR(QUANTILE_CONT(value, 0.75) * 10000.0 + 0.5) / 10000.0 AS p75
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def a15_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics): both
    engines use the same index = p*(n-1) linear-interpolation definition
    over the same doubles, so results agree bit-for-bit (rounded only as
    midpoint insurance). Exact percentile is a full-sort-per-group
    operator — the scale path is ext_sketch_quantiles (GK); this entry is
    the exactness anchor the sketch's error bound is tested against."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            stable_round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
            stable_round(F.percentile("value", F.lit(0.50)), 4).alias("p50"),
            stable_round(F.percentile("value", F.lit(0.75)), 4).alias("p75"),
        )
        .orderBy("event_type")
    )


@q(
    "w8_topk_per_group",
    oracle="""
        SELECT lang, doc_id, n_chars, rk FROM (
            SELECT lang, doc_id, n_chars,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rk
            FROM documents
        ) WHERE rk <= 3 ORDER BY lang, rk
    """,
)
def w8_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (rank + filter): the grouped counterpart of O4's
    global TakeOrderedAndProject. One hash-partition shuffle on the group
    key; the per-partition sort is bounded by partition size, and rows
    beyond rank k are dropped before the final order — no global sort of
    the full table. Deterministic under ties via the doc_id tie-break."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
        .orderBy("lang", "rk")
    )


@q(
    "j10_orphan_audit",
    oracle="""
        SELECT 'customer->nation' AS fk_edge, CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM customer WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
        UNION ALL
        SELECT 'lineitem->orders', CAST(COUNT(*) AS BIGINT)
        FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        UNION ALL
        SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
        FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
        UNION ALL
        SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT)
        FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
        UNION ALL
        SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        ORDER BY fk_edge
    """,
)
def j10_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: count child rows with no parent, per
    FK edge, via LEFT ANTI joins. Small parent sides (nation, customer,
    part, supplier at their respective ratios) broadcast; the lineitem->
    orders edge is the only genuine shuffle. A data-quality primitive any
    ingest pipeline runs before publishing a snapshot."""
    edges = [
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
    ]
    parts = []
    for child, fk, parent, pk in edges:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(pk)
        orphans = c.join(p, c[fk] == p[pk], "left_anti")
        parts.append(
            orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
                F.lit(f"{child}->{parent}").alias("fk_edge"),
                "n_orphans",
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out.orderBy("fk_edge")


@q(
    "f10_histogram",
    oracle="""
        WITH mm AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events)
        SELECT CAST(LEAST(9, FLOOR((value - mn) / ((mx - mn) / 10.0))) AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(value) AS lo, MAX(value) AS hi
        FROM events, mm
        GROUP BY 1 ORDER BY 1
    """,
)
def f10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram (width_bucket pattern): global min/max from a
    first pass (a 1-row broadcast, not a driver collect), then a bucket
    expression every engine evaluates identically in IEEE doubles. lo/hi
    per bucket are raw input values (no arithmetic), so no rounding is
    needed for cross-engine agreement."""
    e = _t(spark, sf_dir, "events")
    mm = e.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / F.lit(10.0)
    bucket = F.least(F.lit(9), F.floor((F.col("value") - F.col("mn")) / width)).cast("int")
    return (
        e.crossJoin(F.broadcast(mm))
        .select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("lo"), F.max("value").alias("hi"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Beyond-reference: range-band join, unpivot, string/array function
# surface, skew diagnostics, IQR outlier fences
# ---------------------------------------------------------------------------

_BANDS = [(0.0, 100.0, "low"), (100.0, 250.0, "mid"), (250.0, 1e9, "high")]

# DuckDB tokenizer fragment mirroring functions/text.tokens (same def as
# queries/extensions._DUCK_TOKS).
_DUCK_TOKS_OPS = "LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'), w -> w <> '')"


@q(
    "j11_range_band_join",
    oracle="""
        WITH bands(lo, hi, band) AS (
            VALUES (0.0, 100.0, 'low'), (100.0, 250.0, 'mid'), (250.0, 1e9, 'high')
        )
        SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events JOIN bands ON value >= lo AND value < hi
        GROUP BY band ORDER BY band
    """,
)
def j11_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a tiny bands dimension: the inequality
    predicate rules out a hash join, so Spark plans a
    BroadcastNestedLoopJoin — which is exactly right when one side is a
    handful of rows: each executor scans its events partition once
    against the in-memory bands table, no shuffle of the fact side at
    any scale. The dangerous plan (cartesian of two big sides) never
    arises because the dimension is a literal."""
    e = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "lo double, hi double, band string")
    j = e.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return (
        j.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", scale=2, digits=2).alias("total_value"),
        )
        .orderBy("band")
    )


@q(
    "f13_unpivot",
    oracle="""
        SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(CAST(SUM(CAST(val AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total
        FROM (
            SELECT l_orderkey, val, metric
            FROM lineitem UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
        )
        GROUP BY metric ORDER BY metric
    """,
)
def f13_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (wide→long): the inverse of f9_pivot. Row expansion
    happens pipelined inside the scan stage (no shuffle until the
    aggregate), so the 3× row multiplier never hits disk."""
    l = _t(spark, sf_dir, "lineitem")
    long = l.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return (
        long.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("val", scale=2, digits=2).alias("total"),
        )
        .orderBy("metric")
    )


@q(
    "f12_string_distance",
    oracle="""
        SELECT p_partkey,
               CAST(LEVENSHTEIN(p_name, REVERSE(p_name)) AS INTEGER) AS lev_to_reverse,
               TRANSLATE(p_name, 'aeiou', 'AEIOU') AS upvoweled,
               LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
               SPLIT_PART(p_name, '_', 2) AS second_field
        FROM part ORDER BY p_partkey
    """,
)
def f12_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface beyond the reference: edit distance
    (levenshtein — fuzzy-matching primitive), translate, lpad,
    split_part. All Catalyst built-ins, codegen'd."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", F.reverse(F.col("p_name"))).alias("lev_to_reverse"),
        F.translate("p_name", "aeiou", "AEIOU").alias("upvoweled"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.split_part(F.col("p_name"), F.lit("_"), F.lit(2)).alias("second_field"),
    ).orderBy("p_partkey")


@q(
    "f11_array_ops",
    oracle=f"""
        WITH toksrc AS (SELECT doc_id, {_DUCK_TOKS_OPS} AS toks FROM documents)
        SELECT doc_id,
               CAST(LEN(toks) AS INTEGER) AS n_toks,
               CAST(LEN(LIST_DISTINCT(toks)) AS INTEGER) AS n_distinct,
               ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(toks))[1:5], ',') AS first5_sorted,
               CASE WHEN LIST_CONTAINS(toks, 'data') THEN 1 ELSE 0 END AS has_data
        FROM toksrc ORDER BY doc_id
    """,
)
def f11_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: size, distinct, sort, slice, contains,
    join-to-string. Arrays never reach the output (the driver's hash
    can't consume them) — they collapse to scalars in the same select."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    toks = F.filter(toks, lambda w: w != "")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), ",").alias("first5_sorted"),
        F.when(F.array_contains(toks, "data"), 1).otherwise(0).alias("has_data"),
    ).orderBy("doc_id")


@q(
    "diag_key_skew",
    oracle="""
        WITH counts AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
        ), tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM counts)
        SELECT user_id, n,
               FLOOR((CAST(n AS DOUBLE) / total) * 10000.0 + 0.5) / 10000.0 AS share
        FROM counts, tot
        ORDER BY n DESC, user_id LIMIT 10
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic: the 10 heaviest keys and their share
    of all rows — the measurement that decides whether a join needs
    salting (j9) or AQE skew handling. Count-per-key is map-side
    combined; the total joins back as a 1-row broadcast; top-10 is
    TakeOrderedAndProject, not a global sort."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").cast("double").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            stable_round(F.col("n").cast("double") / F.col("total"), 4).alias("share"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


@q(
    "a16_iqr_outliers",
    oracle="""
        WITH fences AS (
            SELECT event_type,
                   QUANTILE_CONT(value, 0.25) - 1.5 * (QUANTILE_CONT(value, 0.75) - QUANTILE_CONT(value, 0.25)) AS lo,
                   QUANTILE_CONT(value, 0.75) + 1.5 * (QUANTILE_CONT(value, 0.75) - QUANTILE_CONT(value, 0.25)) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               FLOOR(lo * 10000.0 + 0.5) / 10000.0 AS lo_fence,
               FLOOR(hi * 10000.0 + 0.5) / 10000.0 AS hi_fence
        FROM events e JOIN fences f ON e.event_type = f.event_type
        GROUP BY e.event_type, lo, hi ORDER BY e.event_type
    """,
)
def a16_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screen per group: exact quartiles → broadcast
    the per-group fences → one filter pass. The fence arithmetic runs on
    identical doubles in both engines, so the boundary comparisons agree
    exactly; only the *reported* fences are rounded. The standard
    numeric-quality gate before a column enters training features."""
    e = _t(spark, sf_dir, "events")
    q25, q75 = F.percentile("value", F.lit(0.25)), F.percentile("value", F.lit(0.75))
    fences = e.groupBy("event_type").agg(
        (q25 - 1.5 * (q75 - q25)).alias("lo"),
        (q75 + 1.5 * (q75 - q25)).alias("hi"),
    )
    j = e.join(F.broadcast(fences), "event_type")
    return (
        j.groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            stable_round(F.col("lo"), 4).alias("lo_fence"),
            stable_round(F.col("hi"), 4).alias("hi_fence"),
        )
        .orderBy("event_type")
    )


@q(
    "a17_regression",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(CAST(FLOOR(EPOCH(ts)) AS BIGINT) - 1704067200 AS DECIMAL(12,0))) AS DOUBLE) AS st,
                   CAST(SUM(CAST(CAST(FLOOR(EPOCH(ts)) AS BIGINT) - 1704067200 AS DECIMAL(12,0))
                          * CAST(CAST(FLOOR(EPOCH(ts)) AS BIGINT) - 1704067200 AS DECIMAL(12,0))) AS DOUBLE) AS stt,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(CAST(FLOOR(EPOCH(ts)) AS BIGINT) - 1704067200 AS DECIMAL(12,0))
                          * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sty
            FROM events GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               FLOOR(((n*sty - st*sy) / (n*stt - st*st)) * 100000000.0 + 0.5) / 100000000.0 AS slope,
               FLOOR(((sy - ((n*sty - st*sy) / (n*stt - st*st)) * st) / n) * 10000.0 + 0.5) / 10000.0 AS intercept,
               FLOOR((((n*sty - st*sy) * (n*sty - st*sy)) / ((n*stt - st*st) * (n*syy - sy*sy))) * 1000000.0 + 0.5) / 1000000.0 AS r2
        FROM m ORDER BY event_type
    """,
)
def a17_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit of value against event time (trend
    detection over a metric stream), from the same exact-decimal moment
    sums as a14 — order-independent accumulation, then identical IEEE
    closed forms in both engines. Seconds are re-based to 2024-01-01 so
    t² sums stay far from the decimal ceiling at any corpus size. One
    map-side-combinable pass; no second scan, no window."""
    e = _t(spark, sf_dir, "events")
    t = (F.unix_timestamp("ts") - F.lit(1704067200)).cast("decimal(12,0)")
    v = F.col("value").cast("decimal(18,2)")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).cast("double").alias("st"),
        F.sum(t * t).cast("double").alias("stt"),
        F.sum(v).cast("double").alias("sy"),
        F.sum(v * v).cast("double").alias("syy"),
        F.sum(t * v).cast("double").alias("sty"),
    )
    n, st, stt, sy, syy, sty = (F.col(c) for c in ["n", "st", "stt", "sy", "syy", "sty"])
    slope = (n * sty - st * sy) / (n * stt - st * st)
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        stable_round(slope, 8).alias("slope"),
        stable_round((sy - slope * st) / n, 4).alias("intercept"),
        stable_round(
            ((n * sty - st * sy) * (n * sty - st * sy))
            / ((n * stt - st * st) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


@q(
    "diag_profile",
    oracle="""
        SELECT 'event_type' AS col, CAST(COUNT(event_type) AS BIGINT) AS n_nonnull,
               CAST(COUNT(*) - COUNT(event_type) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct
        FROM events
        UNION ALL
        SELECT 'user_id', CAST(COUNT(user_id) AS BIGINT),
               CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
               CAST(COUNT(DISTINCT user_id) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'value', CAST(COUNT(value) AS BIGINT),
               CAST(COUNT(*) - COUNT(value) AS BIGINT),
               CAST(COUNT(DISTINCT value) AS BIGINT)
        FROM events
        ORDER BY col
    """,
)
def diag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (long format): non-null / null / exact-distinct
    counts per column — the first pass any ingest job runs over a new
    drop. All three columns profile in ONE scan via grouping-sets-free
    multi-aggregate (Catalyst computes the count-distincts with expand +
    partial aggregation); the long format comes from a stack/unpivot of
    the 1-row wide result, not three scans. Exact NDV here; the sketch
    path for wide tables is ext_sketch_ndv."""
    e = _t(spark, sf_dir, "events")
    wide = e.agg(
        F.count("event_type").alias("nn_event_type"),
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("event_type").alias("nd_event_type"),
        F.count("user_id").alias("nn_user_id"),
        F.countDistinct("user_id").alias("nd_user_id"),
        F.count("value").alias("nn_value"),
        F.countDistinct("value").alias("nd_value"),
    )
    rows = []
    for c in ["event_type", "user_id", "value"]:
        rows.append(
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"nn_{c}").alias("n_nonnull"),
                (F.col("total") - F.col(f"nn_{c}")).alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
            )
        )
    return (
        wide.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.col", "s.n_nonnull", "s.n_null", "s.n_distinct")
        .orderBy("col")
    )


# ---------------------------------------------------------------------------
# Beyond-reference: binned range join (big-to-big interval join as equi-join)
# ---------------------------------------------------------------------------

@q(
    "j12_binned_range_join",
    oracle="""
        WITH p AS (SELECT event_id, value FROM events WHERE event_type = 'purchase'),
             c AS (SELECT value FROM events WHERE event_type = 'click')
        SELECT p.event_id,
               CAST(COUNT(*) AS BIGINT) AS n_clicks,
               FLOOR(CAST(SUM(CAST(c.value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0
                 AS click_value
        FROM p JOIN c ON c.value >= p.value AND c.value < p.value + 5.0
        GROUP BY p.event_id ORDER BY p.event_id
    """,
)
def j12_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-to-big range join via binning (operators/relational.
    binned_range_join): clicks whose value lands in [v, v+5) of each
    purchase's value v. Unlike j11 (tiny literal dimension → BNLJ is
    right), BOTH sides here scale with the data, so the nested-loop plan
    would be quadratic; bucketing the value axis turns it into one
    shuffled equi-join on the bucket id. Plan gate in tests/test_plans.py
    asserts no BroadcastNestedLoopJoin/CartesianProduct."""
    from bigdatacw1_spark.operators.relational import binned_range_join

    e = _t(spark, sf_dir, "events")
    points = e.where(F.col("event_type") == "click").select(F.col("value").alias("cv"))
    ivals = e.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("value").alias("lo"), (F.col("value") + F.lit(5.0)).alias("hi")
    )
    j = binned_range_join(points, ivals, "cv", "lo", "hi", bin_width=5.0)
    return (
        j.groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            exact_sum("cv", scale=2, digits=2).alias("click_value"),
        )
        .orderBy("event_id")
    )


@q(
    "set_union_by_name",
    oracle="""
        SELECT * FROM (
            SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name, 'customer' AS src,
                   CAST(c_acctbal AS DOUBLE) AS bal
            FROM customer WHERE c_custkey <= 50
            UNION ALL BY NAME
            SELECT n_name AS name, CAST(n_nationkey AS BIGINT) AS id, 'nation' AS src
            FROM nation
        ) ORDER BY src, id
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: unionByName(allowMissingColumns=True)
    aligns columns BY NAME across inputs whose column order differs and
    whose schemas drifted (nation has no balance column → NULL-filled) —
    the append pattern when a new ingest batch gained or lost columns.
    Positional UNION would silently zip mismatched columns; by-name is
    the only safe default at scale."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 50)
        .select(
            F.col("c_custkey").cast("long").alias("id"),
            F.col("c_name").alias("name"),
            F.lit("customer").alias("src"),
            F.col("c_acctbal").cast("double").alias("bal"),
        )
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"),
        F.col("n_nationkey").cast("long").alias("id"),
        F.lit("nation").alias("src"),
    )
    return c.unionByName(n, allowMissingColumns=True).orderBy("src", "id")


@q(
    "f14_map_functions",
    oracle="""
        WITH per AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events WHERE user_id <= 40
            GROUP BY user_id, event_type
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN event_type = 'click' THEN n END) AS BIGINT) AS n_clicks,
               COALESCE(STRING_AGG(CASE WHEN n >= 5 THEN event_type END, ',' ORDER BY event_type), '')
                 AS hot_types
        FROM per GROUP BY user_id ORDER BY user_id
    """,
)
def f14_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build map<event_type, count> per user
    (map_from_entries over collected structs), then interrogate it with
    map_filter / map_keys / element_at / size. The map exists only
    INSIDE the query — the output flattens to scalars because map
    columns don't hash portably across engines; the oracle computes the
    same facts relationally, proving the map path is semantics-
    preserving. map_keys order is collection order (nondeterministic
    under parallel agg) → always array_sort before serializing."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") <= 40)
    per = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    hot = F.array_sort(F.map_keys(F.map_filter(F.col("m"), lambda k, v: v >= 5)))
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.element_at(F.col("m"), "click").alias("n_clicks"),
        F.concat_ws(",", hot).alias("hot_types"),
    ).orderBy("user_id")


@q(
    "f15_from_json_struct",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events
        WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
        GROUP BY event_type ORDER BY event_type
    """,
)
def f15_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON ingestion: from_json parses ``props`` ONCE into a
    struct column, and every later reference is a plain (codegen'd)
    struct field access — the production alternative to re-running
    get_json_object per path (f7), which re-parses the string each time.
    At 100 TB the parse happens on scan-adjacent rows exactly once and
    the struct prunes like any nested column. Malformed JSON yields a
    NULL struct (PERMISSIVE), which the >= filter then drops — the same
    null-rejection DuckDB's CAST gives."""
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k bigint"))
    return (
        parsed.where(F.col("p.k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p.k").alias("sum_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@q(
    "w9_cume_dist_lead",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               FLOOR(CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
                     * 10000.0 + 0.5) / 10000.0 AS cdist,
               CAST(LEAD(c_custkey, 1, -1) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
                    AS BIGINT) AS next_cust
        FROM customer
        ORDER BY c_mktsegment, c_acctbal, c_custkey
    """,
)
def w9_cume_dist_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist (fraction of partition at-or-below the current row —
    the ECDF window) and lead WITH an explicit default (-1 instead of
    NULL at the partition edge). Completes the ranking-window surface
    beyond w2/w3/w5. Total ordering via the (acctbal, custkey) tiebreak
    keeps cume_dist deterministic."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        stable_round(F.cume_dist().over(w), 4).alias("cdist"),
        F.lead("c_custkey", 1, -1).over(w).cast("long").alias("next_cust"),
    ).orderBy("c_mktsegment", "c_acctbal", "c_custkey")


@q(
    "f15_statistical_fns",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(QUANTILE_CONT(o_totalprice, 0.5) * 100.0 + 0.5) / 100.0 AS med_price,
               CAST(ARG_MIN(o_orderkey, o_totalprice) AS BIGINT) AS cheapest_order,
               CAST(ARG_MAX(o_orderkey, o_totalprice) AS BIGINT) AS dearest_order,
               CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_large,
               BOOL_AND(o_totalprice > 0) AS all_positive,
               BOOL_OR(o_totalprice > 500000) AS any_huge
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def f15_statistical_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical/conditional aggregate surface beyond A1-A10: exact
    median (PERCENTILE_CONT 0.5 semantics, same interpolation both
    engines — see a15), arg-min/arg-max row selection (min_by/max_by;
    o_totalprice is duplicate-free per group in this corpus, so the
    winner is unique and cross-engine deterministic), filtered count
    (count_if ≡ COUNT FILTER), and boolean aggregation (bool_and/
    bool_or ≡ every/any). All built-ins — one hash aggregate, no
    window, no Python."""
    o = _t(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 200000
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.median("o_totalprice"), 2).alias("med_price"),
            F.min_by("o_orderkey", "o_totalprice").cast("long").alias("cheapest_order"),
            F.max_by("o_orderkey", "o_totalprice").cast("long").alias("dearest_order"),
            F.count_if(big).alias("n_large"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 500000).alias("any_huge"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "f16_quantile_binning",
    oracle="""
        WITH b AS (
            SELECT QUANTILE_CONT(o_totalprice, 0.25) AS b1,
                   QUANTILE_CONT(o_totalprice, 0.50) AS b2,
                   QUANTILE_CONT(o_totalprice, 0.75) AS b3
            FROM orders
        )
        SELECT CASE WHEN o_totalprice < b1 THEN 1
                    WHEN o_totalprice < b2 THEN 2
                    WHEN o_totalprice < b3 THEN 3
                    ELSE 4 END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_totalprice) AS lo,
               MAX(o_totalprice) AS hi
        FROM orders CROSS JOIN b
        GROUP BY 1 ORDER BY 1
    """,
)
def f16_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (equal-frequency) feature binning: quartile boundaries
    computed ONCE (exact PERCENTILE_CONT — bitwise cross-engine, see
    a15) and broadcast, bucket assignment a pure row-local CASE — the
    discretization step of feature engineering. At 100 TB swap the
    exact percentile for percentile_approx (same bitwise-broadcast
    shape, mergeable sketch); counts per bin then verify the
    equal-frequency property."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("b1"),
        F.percentile("o_totalprice", F.lit(0.50)).alias("b2"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("b3"),
    )
    p = F.col("o_totalprice")
    bucket = (
        F.when(p < F.col("b1"), 1)
        .when(p < F.col("b2"), 2)
        .when(p < F.col("b3"), 3)
        .otherwise(4)
    )
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


@q(
    "j8b_asof_tolerance",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
               CASE WHEN p.ts >= c.ts - INTERVAL 1 HOUR THEN p.value END AS purchase_value,
               CASE WHEN p.ts >= c.ts - INTERVAL 1 HOUR THEN p.event_id END AS purchase_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def j8b_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound: the most recent purchase at or
    before each click, but only if it happened within the last hour —
    older state is no state (operators/relational.as_of_join with
    tolerance_seconds). Same single-shuffle union+window plan; the
    tolerance is a post-fill filter on the carried row's own timestamp,
    full µs precision in both engines."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_id"),
    )
    return as_of_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="ts",
        right_cols=["purchase_value", "purchase_id"],
        tiebreak="purchase_id",
        tolerance_seconds=3600,
    )


@q(
    "f17_variant_json",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def f17_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): parse the JSON payload
    ONCE into the binary VARIANT encoding, then typed variant_get
    extraction — the open-schema ingestion shape (shredded-on-read,
    no fixed struct declared). Contrast with f7 (repeated string path
    extraction) and the from_json typed struct: VARIANT keeps documents
    whose schema drifts without replanning. Aggregated per user so the
    oracle compares integer sums."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("user_id", k.alias("k"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("user_id")
    )


@q(
    "j13_fuzzy_name_join",
    oracle="""
        SELECT a.p_partkey AS a, b.p_partkey AS b,
               CAST(LEVENSHTEIN(a.p_name, b.p_name) AS INTEGER) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 8
        ORDER BY a, b
    """,
)
def j13_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (entity-resolution) self-join: part names within the same
    brand block whose edit distance is ≤ 8 — the classic
    dirty-catalog/customer-matching shape. The brand equality key makes
    it a plain shuffled equi-join (work Σ block², never corpus², the
    same blocking discipline as every pairwise operator here); the
    levenshtein predicate evaluates JVM-side post-join. At production
    scale tighten blocks further (length bucket + first token) — same
    plan, smaller blocks."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = p.select(
        F.col("p_partkey").alias("a"), F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("b"), F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
    )
    joined = a.join(b, (a["brand"] == b["brand_b"]) & (a["a"] < b["b"]))
    dist = F.levenshtein("name_a", "name_b")
    return (
        joined.where(dist <= 8)
        .select("a", "b", dist.cast("int").alias("dist"))
        .orderBy("a", "b")
    )


@q(
    "p10_lateral_topk",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 200
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """,
)
def p10_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL front end: top-2
    orders per customer, the per-row-subquery idiom SQL users reach for
    before they know window functions. Catalyst decorrelates it into
    the same rank-window plan as w8_topk_per_group — run .explain and
    there is no nested loop — which is exactly why the engine exposes
    the syntax: the naive formulation still gets the scalable plan.
    Identical text runs on DuckDB as the oracle."""
    from bigdatacw1_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 200
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """)


@q(
    "f18_try_functions",
    oracle="""
        WITH t AS (
            SELECT l_returnflag,
                   CASE WHEN l_quantity - 25 = 0 THEN NULL
                        ELSE l_extendedprice / (l_quantity - 25) END AS d,
                   CASE WHEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) > 262143 THEN NULL
                        ELSE CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 35184372088832 END AS tm
            FROM lineitem
        )
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(d) AS BIGINT) AS n_div_ok,
               FLOOR(MIN(d) * 10000.0 + 0.5) / 10000.0 AS min_d,
               FLOOR(MAX(d) * 10000.0 + 0.5) / 10000.0 AS max_d,
               CAST(COUNT(*) - COUNT(tm) AS BIGINT) AS n_overflow
        FROM t GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def f18_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error-handling surface: try_divide turns the
    division-by-zero rows (l_quantity = 25) into NULLs instead of
    errors, and try_multiply turns data-dependent BIGINT overflow
    (cents × 2^45 overflows exactly when cents > 262143) into NULLs —
    under Spark 4's default ANSI mode these are the difference between
    a poisoned row failing a 100 TB job and a countable quarantine
    column. The oracle expresses both as explicit CASE guards (DuckDB
    would error on the raw overflow, proving the guard semantics).
    min/max over the division results are order-independent, so the
    doubles hash-match."""
    l = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    t = l.select(
        "l_returnflag",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25).alias("d"),
        F.try_multiply(cents, F.lit(35184372088832).cast("long")).alias("tm"),
    )
    return (
        t.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("d").alias("n_div_ok"),
            stable_round(F.min("d"), 4).alias("min_d"),
            stable_round(F.max("d"), 4).alias("max_d"),
            (F.count(F.lit(1)) - F.count("tm")).alias("n_overflow"),
        )
        .orderBy("l_returnflag")
    )


@q(
    "f19_collation",
    oracle="""
        WITH t AS (
            SELECT CASE WHEN p_partkey % 3 = 0 THEN UPPER(p_type)
                        WHEN p_partkey % 3 = 1 THEN LOWER(p_type)
                        ELSE p_type END AS mt
            FROM part
        )
        SELECT LOWER(mt) AS type_norm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT mt) AS BIGINT) AS n_case_forms
        FROM t GROUP BY LOWER(mt) ORDER BY type_norm
    """,
)
def f19_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): group a
    deterministically case-mangled p_type under UTF8_LCASE so 'STEEL',
    'steel' and 'Steel' land in one group, while COUNT(DISTINCT) over
    the raw (binary-collated) string still counts the case variants.
    This is the engine-level answer to case-insensitive semantics —
    the collation rides the hash/shuffle (collation-aware hashing, no
    lower() copy of the key), so at 100 TB the groupBy shuffles once
    with no extra projection. The oracle lowers the key explicitly:
    for ASCII case-mangling, GROUP BY collate(x,'UTF8_LCASE') and
    GROUP BY lower(x) induce identical partitions. The emitted group
    key is normalized via min(lower(mt)) because the collated group's
    representative raw string is nondeterministic."""
    p = _t(spark, sf_dir, "part")
    mt = (
        F.when(F.col("p_partkey") % 3 == 0, F.upper("p_type"))
        .when(F.col("p_partkey") % 3 == 1, F.lower("p_type"))
        .otherwise(F.col("p_type"))
    )
    return (
        p.select(mt.alias("mt"))
        .groupBy(F.collate(F.col("mt"), "UTF8_LCASE").alias("__k"))
        .agg(
            F.min(F.lower("mt")).alias("type_norm"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("mt").alias("n_case_forms"),
        )
        .drop("__k")
        .orderBy("type_norm")
    )


@q(
    "ext_udtf_bigrams",
    oracle="""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
                               x -> x <> '') AS ws
            FROM documents WHERE doc_id % 97 = 0
        ),
        b AS (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, GREATEST(len(ws), 1)),
                                         i -> ws[i] || ' ' || ws[i + 1])) AS bigram
            FROM w
        )
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM b GROUP BY bigram
        HAVING COUNT(*) >= 3
        ORDER BY n DESC, bigram
    """,
)
def ext_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.10): a table function registered in the
    SQL catalog and invoked via LATERAL, expanding each document into
    its word-bigram rows, then aggregated back to corpus bigram counts.
    UDTFs are the one-to-many escape hatch when no built-in generator
    fits; this one is deliberately expressible as explode() too, which
    is what keeps it oracle-checkable. Arrow-optimized (useArrow) so
    rows cross the Python boundary in batches, and placed AFTER a
    pushed-down sampling filter so the slow path sees 1/97th of the
    corpus — the pattern to copy at 100 TB: prune in Catalyst first,
    then pay Python only on survivors. The tokenizer mirrors
    functions/text.tokens (lower, strip non-alnum, split)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram string", useArrow=True)
    class BigramUdtf:
        def eval(self, ws):
            if ws is not None:
                for a, b in zip(ws, ws[1:]):
                    yield (a + " " + b,)

    spark.udtf.register("bigram_udtf", BigramUdtf)
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 97 == 0)
    d.select(
        "doc_id",
        F.filter(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " "),
            lambda x: x != "",
        ).alias("ws"),
    ).createOrReplaceTempView("__udtf_docs")
    b = spark.sql("SELECT doc_id, b.bigram FROM __udtf_docs, LATERAL bigram_udtf(ws) b")
    return (
        b.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n") >= 3)
        .orderBy(F.desc("n"), "bigram")
    )


@q(
    "f23_listagg",
    oracle="""
        SELECT n.n_regionkey,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
               string_agg(DISTINCT r.r_name, ',') AS region_name
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_regionkey
        ORDER BY n.n_regionkey
    """,
)
def f23_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 ``listagg ... WITHIN GROUP``,
    ISO/IEC 9075-2:2016 §10.9 ≡ DuckDB/Postgres string_agg): per-region
    comma-joined nation list. WITHIN GROUP ordering is what makes the
    concatenation deterministic under ANY partitioning — bare listagg
    concatenates in partition-arrival order and would flip the value
    hash run to run. (The pre-4.0 spelling is
    array_join(sort_array(collect_list(x))) — a8 covers that shape.)
    JVM-only: SQL front end over the registered views, no Python."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(
        """
        SELECT n.n_regionkey,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations,
               listagg(DISTINCT r.r_name, ',') AS region_name
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_regionkey
        ORDER BY n.n_regionkey
        """
    )


@q(
    "f24_sql_udf",
    oracle="""
        SELECT o_orderkey,
               FLOOR((o_totalprice * CASE WHEN o_totalprice > 200000 THEN 0.9
                                          WHEN o_totalprice > 100000 THEN 0.95
                                          ELSE 1.0 END) * 100.0 + 0.5) / 100.0
                 AS discounted
        FROM orders
        WHERE o_orderkey < 1000
        ORDER BY o_orderkey
    """,
)
def f24_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN
    <expr>): the user-function escape hatch that STAYS Catalyst-native —
    the body inlines into the plan at analysis time, so unlike a Python
    UDF it costs nothing (whole-stage codegen, pushdown and pruning all
    still apply; plan-gated Python-free in tests/test_plans.py). The
    tiered-discount function is the classic business-logic-as-UDF
    shape."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__f24_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION tiered_discount(price DOUBLE)
        RETURNS DOUBLE
        RETURN price * CASE WHEN price > 200000 THEN 0.9
                            WHEN price > 100000 THEN 0.95
                            ELSE 1.0 END
        """
    )
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(FLOOR(tiered_discount(CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS DOUBLE) AS discounted
        FROM __f24_orders
        WHERE o_orderkey < 1000
        ORDER BY o_orderkey
        """
    )


@q(
    "f28_recursive_bom",
    oracle="""
        WITH RECURSIVE bom AS (
            SELECT p_partkey AS root, p_partkey AS part, 0 AS depth
            FROM part WHERE p_partkey <= 3
            UNION ALL
            SELECT b.root, c.p_partkey, b.depth + 1
            FROM bom b
            JOIN part c ON c.p_partkey = b.part * 2 OR c.p_partkey = b.part * 2 + 1
            WHERE b.depth < 6
        )
        SELECT CAST(root AS BIGINT) AS root,
               CAST(depth AS INT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(part) AS BIGINT) AS sum_keys
        FROM bom
        GROUP BY root, depth
        ORDER BY root, depth
    """,
)
def f28_recursive_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — the SQL-surface recursion Spark gained in 4.x,
    exercised as a bill-of-materials explosion: parts contain parts
    2k/2k+1 (a derived binary containment), roots 1-3 expand level by
    level to depth 6, aggregated per (root, depth). Each recursion step
    is one equi-joinable pass over the closed frontier (level-synchronous
    — the same execution shape as operators/graph BFS, but written
    declaratively); the depth guard bounds the iteration. DuckDB runs
    the IDENTICAL statement. Complements the DataFrame-API recursions
    (ext_bfs_reach, ext_dedup_clusters) by covering the SQL entry
    point."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql("""
        WITH RECURSIVE bom AS (
            SELECT p_partkey AS root, p_partkey AS part, 0 AS depth
            FROM part WHERE p_partkey <= 3
            UNION ALL
            SELECT b.root, c.p_partkey, b.depth + 1
            FROM bom b
            JOIN part c ON c.p_partkey = b.part * 2 OR c.p_partkey = b.part * 2 + 1
            WHERE b.depth < 6
        )
        SELECT CAST(root AS BIGINT) AS root,
               CAST(depth AS INT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(part) AS BIGINT) AS sum_keys
        FROM bom
        GROUP BY root, depth
        ORDER BY root, depth
    """)


@q(
    "f29_from_csv",
    oracle="""
        WITH expect AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS c,
                   o_orderpriority || ',x' AS p
            FROM orders
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (c IS NULL) AS BIGINT) AS n_corrupt,
               CAST(SUM(c) AS BIGINT) AS sum_cust,
               CAST(COUNT(DISTINCT p) AS BIGINT) AS n_priorities
        FROM expect
    """,
)
def f29_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion surface (``from_csv``): each order serialized to a
    CSV line — including a QUOTED field with an embedded comma and, for
    every 97th key, a deliberately non-numeric value in the BIGINT
    column — then parsed back with a typed schema under PERMISSIVE
    mode (bad field → NULL, row survives: the posture a 100 TB raw
    ingest needs, where one mangled line must not kill the job). The
    oracle computes the EXPECTED parse from the original columns, so
    this checks round-trip semantics (quote handling + corrupt-field
    nulling) against ground truth rather than mirroring a parser."""
    o = _t(spark, sf_dir, "orders")
    line = F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit(","),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("abc")).otherwise(
            F.col("o_custkey").cast("string")
        ),
        F.lit(',"'),
        F.col("o_orderpriority"),
        F.lit(',x"'),
    )
    parsed = o.select(
        F.from_csv(line, "k bigint, c bigint, p string").alias("r")
    )
    return parsed.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_if(F.col("r.c").isNull()).cast("long").alias("n_corrupt"),
        F.sum("r.c").cast("long").alias("sum_cust"),
        F.countDistinct("r.p").cast("long").alias("n_priorities"),
    )


@q(
    "a18_pivot_api",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f_cnt,
               CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o_cnt,
               CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p_cnt,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (o_orderstatus = 'F') AS BIGINT) AS f_cents
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def a18_pivot_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrame ``pivot()`` relational operator (the API form of
    A3's pivot-by-CASE): statuses become columns in one aggregation
    pass. The value list is EXPLICIT — with it, Catalyst compiles
    straight to conditional aggregates (exactly A3's plan: one shuffle,
    map-side partial); without it, Spark must first run a distinct scan
    to discover columns, which is the scale trap the explicit list
    avoids. Count + exact-cents sum per (priority, status) cell,
    deterministically renamed."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(cents).cast("long").alias("cents"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.col("F_cnt").alias("f_cnt"),
        F.col("O_cnt").alias("o_cnt"),
        F.col("P_cnt").alias("p_cnt"),
        F.col("F_cents").alias("f_cents"),
    ).orderBy("o_orderpriority")


@q(
    "j15_lateral_topn",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM customer c,
        LATERAL (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY cents DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_custkey <= 200
        ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey
    """,
)
def j15_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join — the top-N-per-entity idiom in its SQL
    form: each customer joined to a correlated subquery returning their
    2 priciest orders. Catalyst DECORRELATES this into the same
    window/rank plan the W2 formulation produces (no per-customer
    re-scan of orders — the naive reading would be O(customers) scans),
    which is exactly why the surface is safe at scale. Exact integer
    cents with full deterministic ordering; DuckDB runs the identical
    statement."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM customer c,
        LATERAL (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY cents DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_custkey <= 200
        ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey
    """)


@q(
    "f30_bitwise_agg",
    oracle="""
        SELECT event_type,
               CAST(BIT_AND(event_id % 4096) AS BIGINT) AS all_bits,
               CAST(BIT_OR(event_id % 4096) AS BIGINT) AS any_bits,
               CAST(BIT_XOR(event_id % 4096) AS BIGINT) AS parity_bits,
               CAST(SUM(BIT_COUNT(event_id % 4096)) AS BIGINT) AS popcount_sum
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def f30_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface (bit_and/bit_or/bit_xor + bit_count):
    the flag-mask rollup idiom — which permission/feature bits are set
    on EVERY row, on ANY row, and the xor parity — over a bounded
    12-bit key. All integer, order-independent by definition (bitwise
    ops are commutative and associative), one hash aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("event_id") % 4096).alias("bits")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("bits").cast("long").alias("all_bits"),
            F.bit_or("bits").cast("long").alias("any_bits"),
            F.bit_xor("bits").cast("long").alias("parity_bits"),
            F.sum(F.bit_count("bits")).cast("long").alias("popcount_sum"),
        )
        .orderBy("event_type")
    )


_EXISTS_SQL = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R'
    )
    ORDER BY c_custkey
"""


@q("p11_exists_anti_exists", oracle=_EXISTS_SQL)
def p11_exists_anti_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS through the SQL front end
    (completing the correlated-predicate family beside p9's scalar
    subquery): customers with at least one urgent order but zero
    returned line items. Catalyst decorrelates the pair into one LEFT
    SEMI and one LEFT ANTI join on the correlation key — the exact
    plans j6/j7 pin in isolation — so the quadratic per-row subquery
    never exists physically. One query text serves both engines."""
    from bigdatacw1_spark.sources.catalog import load_table

    for name in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_EXISTS_SQL)


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@q("f32_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def f32_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL sugar surface: GROUP BY ALL (group on every
    non-aggregate select item) + ORDER BY ALL — the ergonomics both
    Spark 4 and DuckDB adopted from the analytics dialects, so ONE
    query text is literally the entry AND its oracle. Resolves to the
    same hash aggregate an explicit column list plans."""
    from bigdatacw1_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


# ---------------------------------------------------------------------------
# Round-6 SQL-surface micros: null-safe equality, NOT IN three-valued
# semantics, boolean aggregates
# ---------------------------------------------------------------------------

@q(
    "j16_null_safe_join",
    oracle="""
        WITH l AS (
            SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS k
            FROM orders
        ), r AS (
            SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS k FROM orders
        )
        SELECT COALESCE(l.k, '<null>') AS status_key,
               CAST(COUNT(*) AS BIGINT) AS n_matched
        FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
        GROUP BY 1
        ORDER BY 1
    """,
)
def j16_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the join
    operator plain equi-joins silently differ on: under `=`, NULL keys
    match NOTHING (rows vanish), under `<=>` NULL matches NULL exactly
    once. Every CDC merge and dedup on nullable business keys needs this
    distinction; a pipeline that uses `=` drops its null-keyed rows on
    the floor without an error. The fixture NULLIFs one status value so
    the null bucket is populated and its count must survive the join.
    `<=>` is still hash-partitionable (null-safe equality is an equi
    key), so the plan shuffles once like any equi join — no nested
    loop."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k")
    )
    r = o.select("k").distinct()
    return (
        o.alias("l")
        .join(r.alias("r"), F.col("l.k").eqNullSafe(F.col("r.k")))
        .groupBy(F.coalesce(F.col("l.k"), F.lit("<null>")).alias("status_key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .orderBy("status_key")
    )


@q(
    "p12_not_in_subquery_nulls",
    oracle="""
        WITH probe AS (
            SELECT NULLIF(o_orderstatus, 'P') AS k FROM orders
        )
        SELECT
            CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderstatus NOT IN (SELECT k FROM probe)) AS BIGINT)
                AS n_not_in_with_nulls,
            CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderstatus NOT IN
                        (SELECT k FROM probe WHERE k IS NOT NULL)) AS BIGINT)
                AS n_not_in_null_filtered,
            CAST((SELECT COUNT(*) FROM orders o
                  WHERE NOT EXISTS (SELECT 1 FROM probe p
                                    WHERE p.k = o.o_orderstatus)) AS BIGINT)
                AS n_not_exists
    """,
)
def p12_not_in_subquery_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (subquery) three-valued logic — the classic silent-wrong-
    answer trap: when the subquery produces ANY NULL, `x NOT IN (...)`
    is never TRUE (x <> NULL is UNKNOWN), so the count is 0; filtering
    the NULLs restores the intuitive complement; NOT EXISTS sidesteps
    the trap entirely (and is the anti-join the optimizer wants). The
    entry pins all three counts side by side so an engine or rewrite
    that 'fixes' the standard semantics fails the hash. Both engines
    plan the NOT IN as a null-aware anti join — one shuffle."""
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "__p12_orders"
    )
    return spark.sql(
        """
        WITH probe AS (
            SELECT NULLIF(o_orderstatus, 'P') AS k FROM __p12_orders
        )
        SELECT
            CAST((SELECT COUNT(*) FROM __p12_orders
                  WHERE o_orderstatus NOT IN (SELECT k FROM probe)) AS BIGINT)
                AS n_not_in_with_nulls,
            CAST((SELECT COUNT(*) FROM __p12_orders
                  WHERE o_orderstatus NOT IN
                        (SELECT k FROM probe WHERE k IS NOT NULL)) AS BIGINT)
                AS n_not_in_null_filtered,
            CAST((SELECT COUNT(*) FROM __p12_orders o
                  WHERE NOT EXISTS (SELECT 1 FROM probe p
                                    WHERE p.k = o.o_orderstatus)) AS BIGINT)
                AS n_not_exists
        """
    )


@q(
    "a19_boolean_aggs",
    oracle="""
        SELECT event_type,
               BOOL_AND(value >= 0) AS all_nonneg,
               BOOL_OR(value > 99)  AS any_gt99,
               CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_gt50,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def a19_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (bool_and / bool_or / count_if) — the
    assertion-style aggregations data-quality checks compile to ("every
    value non-negative?", "any whale event?"). All three fold map-side
    to one bit/count per group, so at 100 TB the shuffle carries a few
    scalars per key — the cheapest aggregate family there is. count_if
    ≡ COUNT(*) FILTER in the oracle dialect."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.bool_or(F.col("value") > 99).alias("any_gt99"),
            F.count_if(F.col("value") > 50).cast("long").alias("n_gt50"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


@q(
    "w10_interval_range_frame",
    oracle="""
        WITH daily AS (
            SELECT user_id, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, day,
               CAST(SUM(cents) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cents_7d
        FROM daily
        ORDER BY user_id, day
    """,
)
def w10_interval_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE window frame — the rolling-7-days-of-VALUE
    frame, distinct from w6's numeric RANGE and from ROWS frames: the
    frame is defined by the ORDER key's TIME distance, so gaps in the
    calendar shrink the window (a ROWS 7 frame would silently reach
    back weeks across a gap — the classic rolling-metric bug). PySpark's
    Window.rangeBetween only takes numeric offsets, so this goes through
    the SQL surface (`RANGE BETWEEN INTERVAL 6 DAYS PRECEDING`), which
    Catalyst plans as the same single-pass running frame: one shuffle on
    user_id, no self-join (the naive equivalent is a range self-join —
    quadratic in events-per-user)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    ).createOrReplaceTempView("__w10_daily")
    return spark.sql(
        """
        SELECT user_id, day,
               CAST(SUM(cents) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cents_7d
        FROM __w10_daily
        ORDER BY user_id, day
        """
    )


@q(
    "f33_parse_url",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   'https://www.example' || CAST(doc_id % 7 AS VARCHAR)
                   || '.com/docs/' || CAST(doc_id AS VARCHAR)
                   || '?q=' || CAST(doc_id % 5 AS VARCHAR)
                   || '&utm_source=feed#sec' || CAST(doc_id % 3 AS VARCHAR)
                   AS url
            FROM documents
        )
        SELECT REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1) AS host,
               REGEXP_EXTRACT(url, '^[a-z]+://[^/]+([^?#]*)', 1) AS path,
               REGEXP_EXTRACT(url, '[?&]q=([^&#]*)', 1) AS q_param,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM u
        GROUP BY 1, 2, 3
        ORDER BY host, path
    """,
)
def f33_parse_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url scalar family — structured URL decomposition (HOST /
    PATH / single QUERY parameter) as the built-in JVM expression, the
    routing primitive under ext_url_canonicalize and ext_domain_cap:
    at crawl scale this runs in whole-stage codegen, where a Python
    urlparse UDF would serialize every row. Fixture URLs are id-derived
    so the oracle regex-decomposes the identical strings; grouping by
    the parsed parts proves each component round-trips exactly (a
    host/path/query confusion collapses groups and flips the hash)."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www.example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("&utm_source=feed#sec"),
        (F.col("doc_id") % 3).cast("string"),
    )
    u = d.select(url.alias("url"))
    return (
        u.select(
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
            F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("q")).alias("q_param"),
        )
        .groupBy("host", "path", "q_param")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("host", "path")
    )


_BLOOM_H = (
    "('0x' || SUBSTR(MD5(CAST({k} AS VARCHAR) || '_b{i}'), 1, 8))::BIGINT"
    " % 4096"
)


@q(
    "j14_bloom_join",
    oracle=(
        """
        WITH dimk AS (
            SELECT DISTINCT p_partkey AS k FROM part WHERE p_size = 15
        ), pos AS (
            SELECT DISTINCT h FROM (
                SELECT """
        + _BLOOM_H.format(k="k", i=1)
        + """ AS h FROM dimk
                UNION ALL SELECT """
        + _BLOOM_H.format(k="k", i=2)
        + """ FROM dimk
                UNION ALL SELECT """
        + _BLOOM_H.format(k="k", i=3)
        + """ FROM dimk
            )
        ), flags AS (
            SELECT ("""
        + _BLOOM_H.format(k="l.l_partkey", i=1)
        + """ IN (SELECT h FROM pos)
                AND """
        + _BLOOM_H.format(k="l.l_partkey", i=2)
        + """ IN (SELECT h FROM pos)
                AND """
        + _BLOOM_H.format(k="l.l_partkey", i=3)
        + """ IN (SELECT h FROM pos)) AS pass,
                l.l_partkey IN (SELECT k FROM dimk) AS m
            FROM lineitem l
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
               CAST(COUNT(CASE WHEN pass THEN 1 END) AS BIGINT) AS n_pass_bloom,
               CAST(COUNT(CASE WHEN m THEN 1 END) AS BIGINT) AS n_true_match,
               CAST(COUNT(CASE WHEN pass AND NOT m THEN 1 END) AS BIGINT)
                   AS n_false_pos,
               CAST(COUNT(CASE WHEN m AND NOT pass THEN 1 END) AS BIGINT)
                   AS n_false_neg,
               FLOOR(CAST(COUNT(CASE WHEN pass AND NOT m THEN 1 END) AS DOUBLE)
                     / COUNT(CASE WHEN NOT m THEN 1 END) * 1000000.0 + 0.5)
                   / 1000000.0 AS fp_rate
        FROM flags
    """
    ),
)
def j14_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning made explicit and oracle-checked — the
    mechanism behind Spark's runtime row-level filtering
    (spark.sql.optimizer.runtime.bloomFilter.enabled) and the reason a
    selective dim filter can cut a 100 TB fact scan's shuffle before
    the join: a 4096-bit, k=3 Bloom set is built over the FILTERED dim
    keys (p_size = 15), the fact side is pre-filtered by 3 bitmask
    probes — the filter itself is a FIXED-size broadcast literal (128
    packed 32-bit words), independent of dim cardinality — and only
    survivors reach the exact join. The audit reports what the exact
    join then confirms: n_false_neg is 0 BY CONSTRUCTION (a Bloom
    filter never drops a member; the oracle pins it), and fp_rate is
    the measured cost of the 4096/k=3 sizing. All probes use the
    engine-portable MD5 idiom, so both engines build bit-identical
    filters and the whole mechanism value-hashes."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    dimk = part.where(F.col("p_size") == 15).select(
        F.col("p_partkey").alias("k")
    ).distinct()
    h = lambda c, i: (  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat(c.cast("string"), F.lit(f"_b{i}"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 4096
    )
    # The bit array is bounded at 4096 bits by construction — collect it
    # once and inline as 128 packed 32-bit words (a real Bloom filter's
    # broadcast shape, constant-size no matter how large the dim grows).
    pos = set()
    for i in (1, 2, 3):
        pos.update(r[0] for r in dimk.select(h(F.col("k"), i).alias("h")).collect())
    words = [0] * 128
    for p in pos:
        words[p // 32] |= 1 << (p % 32)
    mask = F.array(*[F.lit(w).cast("long") for w in words])
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])

    def member(hcol):
        word = F.element_at(mask, (hcol / 32).cast("int") + 1)
        bit = F.element_at(pow2, F.pmod(hcol, 32).cast("int") + 1)
        return word.bitwiseAND(bit) != 0

    k = F.col("l_partkey")
    flags = li.select(
        (member(h(k, 1)) & member(h(k, 2)) & member(h(k, 3))).alias("pass"),
        F.col("l_partkey").alias("fk"),
    ).join(
        F.broadcast(dimk.withColumn("m0", F.lit(True))),
        F.col("fk") == F.col("k"),
        "left",
    ).select("pass", F.coalesce(F.col("m0"), F.lit(False)).alias("m"))
    cnt = lambda cond: F.count(F.when(cond, 1))  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_fact"),
        cnt(F.col("pass")).cast("long").alias("n_pass_bloom"),
        cnt(F.col("m")).cast("long").alias("n_true_match"),
        cnt(F.col("pass") & ~F.col("m")).cast("long").alias("n_false_pos"),
        cnt(F.col("m") & ~F.col("pass")).cast("long").alias("n_false_neg"),
        stable_round(
            cnt(F.col("pass") & ~F.col("m")).cast("double") / cnt(~F.col("m")), 6
        ).alias("fp_rate"),
    )


@q(
    "f34_business_days",
    oracle="""
        WITH j AS (
            SELECT o.o_orderpriority AS pri,
                   DATE_DIFF('day', DATE '1970-01-01',
                             CAST(o.o_orderdate AS DATE)) AS e1,
                   DATE_DIFF('day', DATE '1970-01-01',
                             CAST(l.l_shipdate AS DATE)) AS e2
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ), bd AS (
            SELECT pri,
                   (e2 - e1) // 7 * 5
                   + CASE WHEN (e2 - e1) % 7 = 0 THEN 0
                          ELSE CAST(LEN(LIST_FILTER(
                                   GENERATE_SERIES(1, (e2 - e1) % 7),
                                   k -> (e1 + k + 4) % 7 NOT IN (0, 6)))
                               AS BIGINT) END AS bdays
            FROM j WHERE e2 > e1
        )
        SELECT pri AS o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(CAST(SUM(bdays) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5)
                   / 10000.0 AS avg_bdays
        FROM bd GROUP BY 1 ORDER BY 1
    """,
)
def f34_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NETWORKDAYS — the business-day difference SQL engines don't ship
    but every ops/finance lead-time SLA is written in: weekdays in
    (order_date, ship_date], computed portably as full_weeks·5 plus a
    ≤6-element remainder scan where day-of-week = (epoch_days + 4) % 7
    (1970-01-01 was a Thursday; 0 = Sunday) — pure integer arithmetic,
    immune to the engines' incompatible DAYOFWEEK conventions (Spark
    1=Sunday, DuckDB ISODOW 1=Monday). The r = 0 remainder is guarded
    in BOTH engines because Spark's sequence(1, 0) counts DOWN where
    DuckDB's generate_series returns empty — the off-by-everything
    trap. Lines shipping before their order date (present in the
    synthetic data) are excluded as invalid (e2 > e1). Averaged per
    order priority from exact integer-day sums; one broadcast-joined
    scan, row-local array math."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    ed = lambda c: F.datediff(  # noqa: E731
        F.col(c).cast("date"), F.lit("1970-01-01").cast("date")
    )
    j = li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("pri"),
        ed("o_orderdate").alias("e1"),
        ed("l_shipdate").alias("e2"),
    ).where(F.col("e2") > F.col("e1"))
    diff = F.col("e2") - F.col("e1")
    r = F.pmod(diff, F.lit(7))
    is_weekday = lambda k: (  # noqa: E731
        (F.pmod(F.col("e1") + k + 4, F.lit(7)) != 0)
        & (F.pmod(F.col("e1") + k + 4, F.lit(7)) != 6)
    )
    rem = F.when(r == 0, F.lit(0).cast("long")).otherwise(
        F.size(F.filter(F.sequence(F.lit(1), r.cast("int")), is_weekday)).cast("long")
    )
    bdays = (F.floor(diff / 7) * 5 + rem).alias("bdays")
    return (
        j.select("pri", bdays)
        .groupBy(F.col("pri").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            stable_round(
                F.sum("bdays").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_bdays"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "f35_bitmap_distinct",
    oracle="""
        WITH g AS (SELECT COUNT(DISTINCT user_id) AS ndv_all FROM events)
        SELECT e.event_type,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS ndv_users,
               CAST(g.ndv_all AS BIGINT) AS ndv_all_types
        FROM events e CROSS JOIN g
        GROUP BY e.event_type, g.ndv_all
        ORDER BY e.event_type
    """,
)
def f35_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through Spark's mergeable bitmap
    aggregates (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count, Spark 3.5+):
    one 4 KB bitmap page per (event_type, id-bucket of 32768), popcounts
    summed per type. This is the count-distinct shape that SURVIVES
    scale-out where COUNT(DISTINCT) cannot: pages are mergeable partial
    states, so the ndv_all_types column re-aggregates the SAME per-type
    pages with bitmap_or_agg per bucket — a rollup across groups that
    never touches raw ids again (the daily→monthly distinct-users
    pattern) — exact, unlike the HLL sketches in
    ext_sketch_ndv_mergeable, at the cost of id-range-proportional
    state. Gotcha encoded here: pages may only be OR-merged within the
    SAME bucket (Spark anchors buckets at 1: bucket(0)=0/pos 0 while
    pos(1)=0 in bucket 1 — positions collide across buckets), so the
    rollup groups by bucket before the OR. The oracle states the
    contract directly: both bitmap paths must equal COUNT(DISTINCT)."""
    ev = _t(spark, sf_dir, "events")
    pages = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    per_type = pages.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("ndv_users")
    )
    rollup = (
        pages.groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("gbm"))
        .agg(F.sum(F.expr("bitmap_count(gbm)")).cast("long").alias("ndv_all_types"))
    )
    return (
        per_type.crossJoin(F.broadcast(rollup))
        .select("event_type", "ndv_users", "ndv_all_types")
        .orderBy("event_type")
    )
