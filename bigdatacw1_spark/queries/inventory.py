"""Oracle-checked query inventory (driver contract, SURVEY.md §2).

Every operator the engine claims is registered here as a QuerySpec:
a Spark callable ``fn(spark, sf_dir) -> DataFrame`` plus (where the
semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
string. The driver runs both at sf=0.01 and compares row-count + schema +
order-insensitive value hash; ``tests/test_parity.py`` runs the same
comparison locally at sf=0.001.

Conventions (hash-stability discipline):
  - every output column is lower_snake and explicitly aliased on BOTH
    sides (the driver sorts columns by name before hashing);
  - floating aggregates are rounded (4 dp for avg/ratio, 2 dp for big
    sums) in BOTH engines so cross-engine summation-order drift cannot
    flip the hash;
  - every top-k / limit / argmin has an explicit total order (tie-break
    on a key column) — SURVEY.md §7.4.2/§7.4.4.

Reference-query ports are mapped onto the driver tables per FIXTURES.md §B:
equity_prices ≈ lineitem (fact with date + numerics), equity_static /
trader_static ≈ part / supplier dims, securities aggregations ≈ part
brands; the cash_equity-shaped implementations live in
queries/reference.py and are exercised by the fixture tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatacw1_spark.operators.relational import (
    argmin_per_group,
    comparison_case,
    exact_avg,
    group_dedup,
    having,
    stable_round,
)
from bigdatacw1_spark.queries.registry import q
from bigdatacw1_spark.queries.registry import t as _t


# ---------------------------------------------------------------------------
# Reference-query ports (SURVEY.md §7.1-§7.2) on the driver tables
# ---------------------------------------------------------------------------

@q(
    "ref_nosql1_top_group",
    oracle="""
        SELECT o_orderpriority,
               FLOOR((SUM(CAST(o_totalprice AS DECIMAL(30,2))) / COUNT(o_totalprice)) * 10000.0 + 0.5) / 10000.0 AS avg_totalprice
        FROM orders
        WHERE o_totalprice > 1000
        GROUP BY o_orderpriority
        ORDER BY avg_totalprice DESC, o_orderpriority
        LIMIT 1
    """,
    headline=True,
)
def ref_nosql1_top_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: NoSQL1 shape (NoSQLQueries.js:8-12) — $match → $group $avg
    → $sort desc → $limit 1, mapped orders≈securities (S3/P6/A7/O2/O4).
    Catalyst plans the sort+limit as TakeOrderedAndProject."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_totalprice") > 1000)
        .groupBy("o_orderpriority")
        .agg(exact_avg("o_totalprice", scale=2).alias("avg_totalprice"))
        .orderBy(F.desc("avg_totalprice"), F.asc("o_orderpriority"))
        .limit(1)
    )


@q(
    "ref_sql1_conditional_pivot",
    oracle="""
        WITH seg_bal AS (
            SELECT c_mktsegment, n_name,
                   FLOOR((SUM(CAST(c_acctbal AS DECIMAL(30,2))) / COUNT(c_acctbal)) * 10000.0 + 0.5) / 10000.0 AS avg_bal
            FROM customer
            LEFT JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2')
            GROUP BY c_mktsegment, n_name
        ), pv AS (
            SELECT c_mktsegment,
                   FLOOR((SUM(CAST(CASE WHEN n_name = 'NATION_1' THEN avg_bal END AS DECIMAL(30,4)))
                         / COUNT(CASE WHEN n_name = 'NATION_1' THEN avg_bal END)) * 10000.0 + 0.5) / 10000.0 AS n1_bal,
                   FLOOR((SUM(CAST(CASE WHEN n_name = 'NATION_2' THEN avg_bal END AS DECIMAL(30,4)))
                         / COUNT(CASE WHEN n_name = 'NATION_2' THEN avg_bal END)) * 10000.0 + 0.5) / 10000.0 AS n2_bal,
                   COUNT(DISTINCT n_name) AS __n
            FROM seg_bal
            GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, n1_bal, n2_bal,
               CASE
                 WHEN n1_bal > n2_bal THEN 'NATION_1'
                 WHEN n1_bal < n2_bal THEN 'NATION_2'
                 ELSE 'N/A'
               END AS comparison
        FROM pv
        WHERE __n > 1
        ORDER BY c_mktsegment
    """,
    headline=True,
)
def ref_sql1_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL1 shape (SQLQueries.sql:10-31): CTE per-(group, country) avg,
    pivot-by-CASE (A3), null-rejecting comparison CASE (F3), HAVING
    count(distinct) (A4) — mapped c_mktsegment≈gics_sector, n_name≈country,
    c_acctbal≈daily_return. nation is a dim → broadcast join, zero shuffle
    of customer for the join; two low-cardinality groupBys."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    a, b = "NATION_1", "NATION_2"
    seg_bal = (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "left")
        .where(F.col("n_name").isin(a, b))
        .groupBy("c_mktsegment", "n_name")
        .agg(exact_avg("c_acctbal", scale=2).alias("avg_bal"))
    )
    agged = seg_bal.groupBy("c_mktsegment").agg(
        exact_avg(f"CASE WHEN n_name = '{a}' THEN avg_bal END").alias("n1_bal"),
        exact_avg(f"CASE WHEN n_name = '{b}' THEN avg_bal END").alias("n2_bal"),
        F.countDistinct("n_name").alias("__n"),
    )
    agged = agged.withColumn(
        "comparison", comparison_case(F.col("n1_bal"), F.col("n2_bal"), a, b, alias="comparison")
    )
    return (
        having(agged, F.col("__n") > 1)
        .select("c_mktsegment", "n1_bal", "n2_bal", "comparison")
        .orderBy("c_mktsegment")
    )


@q(
    "ref_sql2_portfolio",
    oracle="""
        WITH pe AS (
            SELECT l_shipdate AS cob_date, l_returnflag AS currency, p_brand AS trader,
                   l_partkey AS symbol, p_retailprice AS net_amount,
                   p_size AS net_quantity, l_suppkey AS supp
            FROM lineitem
            LEFT JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
            GROUP BY 1, 2, 3, 4, 5, 6, 7
        ), tp AS (
            SELECT pe.cob_date, pe.currency, pe.trader, s.s_name AS trader_name,
                   pe.symbol, pe.net_amount, pe.net_quantity,
                   l2.l_extendedprice AS close_price,
                   FLOOR(((((l2.l_extendedprice * pe.net_quantity) - pe.net_amount)
                         / pe.net_amount) * 100) * 10000.0 + 0.5) / 10000.0 AS amount_change
            FROM pe
            RIGHT JOIN lineitem l2
              ON pe.cob_date = l2.l_shipdate AND pe.symbol = l2.l_partkey
            LEFT JOIN supplier s ON pe.supp = s.s_suppkey
            WHERE pe.trader IS NOT NULL AND pe.trader <> 'Brand#11'
            GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9
        )
        SELECT trader_name,
               FLOOR((SUM(CAST(amount_change AS DECIMAL(30,4))) / COUNT(amount_change)) * 10000.0 + 0.5) / 10000.0 AS average_change
        FROM tp
        GROUP BY trader_name
        ORDER BY average_change DESC, trader_name
    """,
    headline=True,
)
def ref_sql2_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL2 shape (SQLQueries.sql:35-57): nested CTEs, date-bounded fact,
    LEFT JOIN (J2), group-dedup (A5), RIGHT JOIN on a compound 2-column
    key (J3), dim lookup (J4), string-sentinel + null-rejecting filter
    (P5), derived pct-change column (P2/F1/F2), two-stage aggregation
    (A6), sort desc (O2). Mapping: lineitem≈equity_prices,
    part≈portfolio_positions, supplier≈trader_static, 'Brand#11'≈'null'.
    part and supplier broadcast; the only shuffles are the two dedup
    aggregates and the compound-key join of the fact with itself."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")

    pe = (
        lineitem.join(F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"], "left")
        .where(F.col("l_shipdate").between(F.lit("1996-01-01").cast("timestamp"),
                                           F.lit("1996-03-31").cast("timestamp")))
        .select(
            F.col("l_shipdate").alias("cob_date"),
            F.col("l_returnflag").alias("currency"),
            F.col("p_brand").alias("trader"),
            F.col("l_partkey").alias("symbol"),
            F.col("p_retailprice").alias("net_amount"),
            F.col("p_size").alias("net_quantity"),
            F.col("l_suppkey").alias("supp"),
        )
    )
    pe = group_dedup(pe, ["cob_date", "currency", "trader", "symbol", "net_amount", "net_quantity", "supp"])

    l2 = lineitem.select(
        F.col("l_shipdate").alias("l2_date"),
        F.col("l_partkey").alias("l2_part"),
        F.col("l_extendedprice").alias("close_price"),
    )
    tp = (
        pe.join(l2, (pe["cob_date"] == l2["l2_date"]) & (pe["symbol"] == l2["l2_part"]), "right")
        .join(F.broadcast(supplier), F.col("supp") == F.col("s_suppkey"), "left")
        .where(F.col("trader").isNotNull() & (F.col("trader") != "Brand#11"))
        .select(
            "cob_date", "currency", "trader",
            F.col("s_name").alias("trader_name"),
            "symbol", "net_amount", "net_quantity", "close_price",
            stable_round(
                ((F.col("close_price") * F.col("net_quantity")) - F.col("net_amount"))
                / F.col("net_amount") * 100,
                4,
            ).alias("amount_change"),
        )
    )
    tp = tp.dropDuplicates(
        ["cob_date", "currency", "trader", "trader_name", "symbol",
         "net_amount", "net_quantity", "close_price", "amount_change"]
    )
    return (
        tp.groupBy("trader_name")
        .agg(exact_avg("amount_change").alias("average_change"))
        .orderBy(F.desc("average_change"), F.asc("trader_name"))
    )


_NOSQL2_ORACLE = """
    WITH cleaned AS (
        SELECT p_brand AS _id, p_partkey AS symbol, p_retailprice,
               CAST(p_size AS DOUBLE) AS size_d,
               FLOOR((p_retailprice / (p_size + 1)) * 10000.0 + 0.5) / 10000.0 AS beta
        FROM part
    ), screened AS (
        SELECT *,
               AVG(p_retailprice) OVER (PARTITION BY _id) AS avg_price,
               AVG(size_d) OVER (PARTITION BY _id) AS avg_size
        FROM cleaned
    ), qualified AS (
        SELECT _id, symbol, beta,
               ROW_NUMBER() OVER (PARTITION BY _id ORDER BY beta, symbol) AS rn
        FROM screened
        WHERE p_retailprice > avg_price AND size_d > avg_size
    )
    SELECT _id, symbol, beta FROM qualified WHERE rn = 1 ORDER BY _id
"""


@q("ref_nosql2_screening", oracle=_NOSQL2_ORACLE, headline=True)
def ref_nosql2_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NoSQL2 shape (NoSQLQueries.js:28-51), Spark-idiomatic: window
    averages per group (W1) + row-level screen + deterministic argmin per
    group (A9/W2). Mapping: p_brand≈GICSSector, p_retailprice≈MarketCap,
    p_size≈PERatio, derived beta≈Beta. One shuffle on the group key; no
    per-group array materialization (scale-safe vs Mongo's $push)."""
    part = _t(spark, sf_dir, "part")
    cleaned = part.select(
        F.col("p_brand").alias("_id"),
        F.col("p_partkey").alias("symbol"),
        "p_retailprice",
        F.col("p_size").cast("double").alias("size_d"),
        stable_round(F.col("p_retailprice") / (F.col("p_size") + 1), 4).alias("beta"),
    )
    w = Window.partitionBy("_id")
    screened = (
        cleaned.withColumn("avg_price", F.avg("p_retailprice").over(w))
        .withColumn("avg_size", F.avg("size_d").over(w))
        .where((F.col("p_retailprice") > F.col("avg_price")) & (F.col("size_d") > F.col("avg_size")))
    )
    return (
        argmin_per_group(screened, ["_id"], [F.asc("beta"), F.asc("symbol")])
        .select("_id", "symbol", "beta")
        .orderBy("_id")
    )


@q("ref_nosql2_hof", oracle=_NOSQL2_ORACLE)
def ref_nosql2_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal NoSQL2 pipeline translation covering the array operators:
    $push ⇒ collect_list(struct) (A8/F8), $filter lambda ⇒ F.filter HOF
    (F5/F7), $arrayElemAt ⇒ element_at (F6), dotted paths (F9) —
    NoSQLQueries.js:40-47. sort_array on (beta, symbol)-leading structs
    makes Mongo's $sort+$first deterministic. Same oracle as the window
    variant — the two plans must agree."""
    part = _t(spark, sf_dir, "part")
    cleaned = part.select(
        F.col("p_brand").alias("_id"),
        F.col("p_partkey").alias("symbol"),
        "p_retailprice",
        F.col("p_size").cast("double").alias("size_d"),
        stable_round(F.col("p_retailprice") / (F.col("p_size") + 1), 4).alias("beta"),
    )
    grouped = cleaned.groupBy("_id").agg(
        F.avg("p_retailprice").alias("avg_price"),
        F.avg("size_d").alias("avg_size"),
        F.collect_list(
            F.struct(
                F.col("beta").alias("beta"),
                F.col("symbol").alias("symbol"),
                F.col("p_retailprice").alias("price"),
                F.col("size_d").alias("size_d"),
            )
        ).alias("securities"),
    )
    chosen = grouped.select(
        "_id",
        F.try_element_at(
            F.filter(
                F.sort_array(F.col("securities")),
                lambda s: (s["price"] > F.col("avg_price")) & (s["size_d"] > F.col("avg_size")),
            ),
            F.lit(1),
        ).alias("chosen"),
    )
    return (
        chosen.where(F.col("chosen").isNotNull())
        .select("_id", F.col("chosen.symbol").alias("symbol"), F.col("chosen.beta").alias("beta"))
        .orderBy("_id")
    )


@q(
    "ref_nosql1_pipeline",
    oracle="""
        WITH docs AS (
            SELECT o_orderpriority AS priority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        )
        SELECT priority AS _id, AVG(cents) AS average
        FROM docs
        WHERE cents > 100000
        GROUP BY priority
        ORDER BY average DESC, _id
        LIMIT 1
    """,
)
def ref_nosql1_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NoSQL Query 1 executed through the PIPELINE FRONT END
    (bigdatacw1_spark/pipeline.compile_pipeline): the reference's stage
    list (NoSQLQueries.js:8-12) as data — $match → $group $avg → $sort →
    $limit — against orders nested into a document shape. The document
    user's dialect runs unchanged; Catalyst still plans it (the sort +
    limit fuses to TakeOrderedAndProject like the DataFrame port).
    Amounts are integer cents so $avg divides an EXACT sum — the same
    cross-engine determinism rule as exact_avg, applied at the data
    layer since the verbatim pipeline has no rounding stage."""
    from bigdatacw1_spark.pipeline import compile_pipeline

    orders = _t(spark, sf_dir, "orders")
    docs = orders.select(
        F.struct(F.col("o_orderpriority").alias("priority")).alias("Static"),
        F.struct(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
        ).alias("Market"),
    )
    return compile_pipeline(
        docs,
        [
            {"$match": {"Market.cents": {"$gt": 100000}}},
            {"$group": {"_id": "$Static.priority", "average": {"$avg": "$Market.cents"}}},
            {"$sort": {"average": -1, "_id": 1}},
            {"$limit": 1},
        ],
    )


@q(
    "ref_nosql2_pipeline",
    oracle="""
        WITH sec AS (
            SELECT p_brand AS sector, p_partkey AS symbol,
                   CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
                   CAST(p_size AS BIGINT) AS size_c,
                   FLOOR((p_retailprice / (p_size + 1)) * 10000.0 + 0.5) / 10000.0 AS beta
            FROM part
        ), g AS (
            SELECT sector AS _id,
                   AVG(price_c) AS avg_price,
                   AVG(size_c) AS avg_size,
                   LIST({'symbol': symbol, 'price': price_c, 'size': size_c, 'beta': beta}) AS securities
            FROM sec GROUP BY sector
        ), ch AS (
            SELECT _id,
                   LIST_FILTER(securities,
                       s -> s.price > avg_price AND s.size > avg_size) AS qual
            FROM g
        ), ranked AS (
            SELECT _id, UNNEST(qual, recursive := true) FROM ch
        ), best AS (
            SELECT _id, symbol, beta,
                   ROW_NUMBER() OVER (PARTITION BY _id ORDER BY symbol) AS rn
            FROM ranked
        )
        SELECT _id, symbol, beta FROM best WHERE rn = 1
        ORDER BY _id
    """,
)
def ref_nosql2_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NoSQL Query 2 through the pipeline front end: the reference's full
    6-stage screening pipeline (NoSQLQueries.js:28-51) — $match, $group
    with $avg + $push of document literals, $project with
    $filter/$arrayElemAt and $$variable refs, $sort, $group $first
    (compiled to a deterministic min_by over the sort key), final nested
    $project — mapped onto part (brand≈sector, cents≈MarketCap,
    size≈PERatio, beta derived). One faithful-to-Mongo caveat made
    explicit: $push order is nondeterministic in BOTH engines, so the
    verbatim $arrayElemAt-0-of-$filter picks an arbitrary qualifier;
    the entry pins it with $sortArray (symbol-leading struct order),
    and the oracle ranks qualifiers by symbol to match. Output
    flattened for the oracle; empty screens drop at the end like the
    hand port. Measures are integer cents so every $avg divides an
    exact sum."""
    from bigdatacw1_spark.operators.relational import stable_round
    from bigdatacw1_spark.pipeline import compile_pipeline

    part = _t(spark, sf_dir, "part")
    docs = part.select(
        F.struct(F.col("p_brand").alias("sector")).alias("Static"),
        F.struct(
            F.col("p_partkey").alias("symbol"),
            F.round(F.col("p_retailprice") * 100).cast("long").alias("price_c"),
            F.col("p_size").cast("long").alias("size_c"),
            stable_round(F.col("p_retailprice") / (F.col("p_size") + 1), 4).alias("beta"),
        ).alias("Market"),
    )
    out = compile_pipeline(
        docs,
        [
            {"$group": {
                "_id": "$Static.sector",
                "avg_price": {"$avg": "$Market.price_c"},
                "avg_size": {"$avg": "$Market.size_c"},
                "securities": {"$push": {
                    "symbol": "$Market.symbol",
                    "price": "$Market.price_c",
                    "size": "$Market.size_c",
                    "beta": "$Market.beta",
                }},
            }},
            {"$project": {
                "_id": 1,
                "chosen": {"$arrayElemAt": [
                    {"$filter": {
                        # $push order is insertion-order in Mongo and
                        # partition-order in Spark — BOTH nondeterministic;
                        # $sortArray pins it (structs order by field order,
                        # so symbol leads), making $arrayElemAt 0 stable.
                        "input": {"$sortArray": {"input": "$securities", "sortBy": 1}},
                        "as": "s",
                        "cond": {"$and": [
                            {"$gt": ["$$s.price", "$avg_price"]},
                            {"$gt": ["$$s.size", "$avg_size"]},
                        ]},
                    }},
                    0,
                ]},
            }},
            {"$sort": {"_id": 1, "chosen.beta": 1, "chosen.symbol": 1}},
            {"$group": {"_id": "$_id", "chosen": {"$first": "$chosen"}}},
        ],
    )
    return (
        out.where(F.col("chosen").isNotNull())
        .select(
            "_id",
            F.col("chosen.symbol").alias("symbol"),
            F.col("chosen.beta").alias("beta"),
        )
        .orderBy("_id")
    )
