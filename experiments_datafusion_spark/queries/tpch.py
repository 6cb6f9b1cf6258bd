"""TPC-H-shaped analytical queries over the star schema.

These exercise the DataFusion-19 dependency surface (SURVEY.md §2B:
scan -> filter -> partial+final hash agg -> sort; multi-way joins incl.
broadcast; semi joins; top-k), adapted to the columns present in
/root/testdata (FIXTURES.md §A). All plans are declarative DataFrame ops so
Catalyst applies predicate pushdown, column pruning and join (re)ordering;
dimension tables (region/nation/supplier) are broadcast explicitly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from experiments_datafusion_spark import exact as _X
from experiments_datafusion_spark.io import table
from experiments_datafusion_spark.queries import register


def _r(col, scale=2):
    return F.round(col, scale)


@register(
    "tpch_q1",
    tags=("agg", "flagship"),
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  round(sum(l_extendedprice), 2)                                   AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
  round(avg(l_quantity), 4)                                        AS avg_qty,
  round(avg(l_extendedprice), 4)                                   AS avg_price,
  round(avg(l_discount), 6)                                        AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): filter -> hash agg (partial+final,
    planned automatically as HashAggregateExec pairs) -> 9 aggregates."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r(F.sum("l_quantity")).alias("sum_qty"),
            _r(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r(F.sum(disc_price)).alias("sum_disc_price"),
            _r(F.sum(charge)).alias("sum_charge"),
            _r(F.avg("l_quantity"), 4).alias("avg_qty"),
            _r(F.avg("l_extendedprice"), 4).alias("avg_price"),
            _r(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    tags=("join", "topk"),
    oracle="""
SELECT
  l_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority (Q3 shape): 3-way join with pushed-down filters,
    agg, deterministic top-10 (Spark plans TakeOrderedAndProject).

    Round 14: one spark.sql() program (same tree, one analysis pass)
    instead of the ~9-op DataFrame chain; the broadcast hint and the
    syntactic join order are preserved, predicates push down identically."""
    return spark.sql("""
SELECT /*+ BROADCAST(c) */
       l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       date_format(o_orderdate, 'yyyy-MM-dd')            AS orderdate,
       o_orderpriority
FROM {lineitem} l
JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
JOIN {customer} c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
        lineitem=table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
        ),
        orders=table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
        ),
        customer=table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
    )


@register(
    "tpch_q4",
    tags=("join", "semi"),
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order priority checking (Q4 shape): EXISTS decorrelated to a
    left-semi join, then agg."""
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q5",
    tags=("join", "broadcast"),
    oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume (Q5 shape): 6-way join; region/nation/supplier
    broadcast (small dims), fact-fact join shuffles on the key.

    Round 14: one spark.sql() program (same tree, one analysis pass)
    instead of the ~10-op DataFrame chain; broadcast hints and syntactic
    join order preserved."""
    return spark.sql("""
SELECT /*+ BROADCAST(s), BROADCAST(n), BROADCAST(r) */
       n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM {lineitem} l
JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
JOIN {customer} c ON o.o_custkey = c.c_custkey
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
                  AND c.c_nationkey = s.s_nationkey
JOIN {nation} n   ON s.s_nationkey = n.n_nationkey
JOIN {region} r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
        lineitem=table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        ),
        orders=table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        ),
        customer=table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        supplier=table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
        nation=table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ),
        region=table(spark, sf_dir, "region").select("r_regionkey", "r_name"),
    )


@register(
    "tpch_q6",
    tags=("agg", "filter"),
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change (Q6 shape): conjunctive pushed-down filter
    feeding a scalar aggregate (no grouping keys)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(_r(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    )


@register(
    "tpch_q10",
    tags=("join", "topk"),
    oracle="""
SELECT
  c_custkey,
  c_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  round(c_acctbal, 2)                               AS acctbal,
  n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (Q10 shape): join + agg + deterministic
    top-20.

    Round 14: one spark.sql() program (same tree, one analysis pass)
    instead of the ~9-op DataFrame chain; broadcast hint and syntactic
    join order preserved."""
    return spark.sql("""
SELECT /*+ BROADCAST(n) */
       c_custkey,
       c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2)                               AS acctbal,
       n_name
FROM {lineitem} l
JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
JOIN {customer} c ON o.o_custkey = c.c_custkey
JOIN {nation} n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
        lineitem=table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
        ),
        orders=table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        ),
        customer=table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_nationkey"
        ),
        nation=table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
    )


@register(
    "tpch_q18",
    tags=("agg", "join", "having"),
    oracle="""
SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS totalprice, qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (Q18 shape): agg -> HAVING -> join back to
    the dimension side. The heavy agg runs FIRST so only qualifying orders
    join (semi-join-ish pruning by construction)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            _r(F.col("o_totalprice")).alias("totalprice"),
            F.round("qty", 2).alias("qty"),
        )
    )


@register(
    "tpch_q7_volume",
    tags=("join", "agg"),
    oracle="""
SELECT supp_nation, cust_nation, yr, round(sum(volume), 2) AS revenue
FROM (
  SELECT
    n1.n_name AS supp_nation,
    n2.n_name AS cust_nation,
    year(l_shipdate) AS yr,
    l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('FRANCE', 'GERMANY', 'CHINA')
    AND n2.n_name IN ('FRANCE', 'GERMANY', 'CHINA')
    AND n1.n_name <> n2.n_name
) shipping
GROUP BY supp_nation, cust_nation, yr
""",
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (Q7 shape): nation-pair revenue by year — two
    broadcast joins against the same dimension under different roles."""
    supp = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nations = ("FRANCE", "GERMANY", "CHINA")
    n1 = table(spark, sf_dir, "nation").where(F.col("n_name").isin(*nations)).alias("n1")
    n2 = table(spark, sf_dir, "nation").where(F.col("n_name").isin(*nations)).alias("n2")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2.n_nationkey"))
        .where(F.col("n1.n_name") != F.col("n2.n_name"))
        .groupBy(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


@register(
    "tpch_q2_maxbal",
    tags=("subquery", "join"),
    oracle="""
SELECT s_suppkey, s_name, n_name, round(s_acctbal, 2) AS acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal = (
  SELECT max(s2.s_acctbal) FROM supplier s2 WHERE s2.s_nationkey = s_nationkey
)
""",
)
def tpch_q2_maxbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's correlated-max shape: pick the row achieving a per-group max
    (decorrelated to an agg + join by Catalyst when written in SQL)."""
    from experiments_datafusion_spark.io import register_views

    register_views(spark, sf_dir, ("supplier", "nation"))
    return spark.sql(
        """
        SELECT s_suppkey, s_name, n_name, round(s_acctbal, 2) AS acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_acctbal = (
          SELECT max(s2.s_acctbal) FROM supplier s2 WHERE s2.s_nationkey = s_nationkey
        )
        """
    )


@register(
    "tpch_q8_mktshare",
    tags=("join", "agg"),
    oracle="""
SELECT
  o_year,
  round(sum(CASE WHEN s_nation = 'NATION_1' THEN volume ELSE 0 END)
        / sum(volume), 6) AS mkt_share
FROM (
  SELECT
    CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
    l_extendedprice * (1 - l_discount)             AS volume,
    ns.n_name                                      AS s_nation
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region    ON nc.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                        AND TIMESTAMP '1996-12-31 00:00:00'
)
GROUP BY o_year
""",
)
def tpch_q8_mktshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): 7-way join with two roles for
    nation, per-year conditional-ratio aggregate.  The orderdate filter is
    pushed to the orders scan; region/nation are broadcast so the customer
    region restriction never shuffles; lineitem<->orders<->customer are the
    only shuffle exchanges (on their join keys)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    nc = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    ns = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("s_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"), vol, "s_nation"
        )
    )
    share = F.sum(
        F.when(F.col("s_nation") == "NATION_1", F.col("volume")).otherwise(0.0)
    ) / F.sum("volume")
    return joined.groupBy("o_year").agg(F.round(share, 6).alias("mkt_share"))


@register(
    "tpch_q9_profit",
    tags=("join", "agg"),
    oracle=f"""
-- sum in exact 1e-4 integer units, round with integer division: plain
-- round(sum(double), 2) hit a half-boundary at sf0.1 (13939649.71 vs .72
-- — accumulation-order ulp + engine round() divergence; see exact.py)
SELECT nation, o_year, {_X.sql_exact_round("sum(amount_u)", 4, 2)} AS sum_profit
FROM (
  SELECT
    n_name                                         AS nation,
    CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
    {_X.sql_to_units("l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity", 4)}
                                                   AS amount_u
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN orders   ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%bolt%'
)
GROUP BY nation, o_year
""",
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape; supply cost modeled as
    0.5*p_retailprice since partsupp is absent from the fixture set).
    The p_name LIKE predicate prunes part before the join, so the
    part join semi-filters lineitem early."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    joined = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _X.to_units(amount, 4).alias("amount_u"),
        )
    )
    return joined.groupBy("nation", "o_year").agg(
        _X.exact_round(F.sum("amount_u"), 4, 2).alias("sum_profit")
    )


@register(
    "tpch_q11_important_parts",
    tags=("agg", "subquery"),
    oracle="""
WITH scoped AS (
  SELECT l_partkey,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
)
SELECT l_partkey AS partkey, CAST(round(sum(val), 2) AS DOUBLE) AS value
FROM scoped
GROUP BY l_partkey
HAVING CAST(sum(val) AS DOUBLE) > (SELECT CAST(sum(val) AS DOUBLE) * 0.001 FROM scoped)
""",
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important parts (TPC-H Q11 shape, lineitem value standing in for
    partsupp): group-agg filtered by an uncorrelated scalar aggregate.
    The global threshold is a 1-row DataFrame broadcast into the HAVING
    filter -- no collect(), no driver round-trip, works at any scale.
    Per-row values are summed as DECIMAL so the aggregate is exact and
    order-independent -- double summation drift across partitionings
    (or engines) otherwise flips round-half boundaries."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    scoped = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,4)")
            .alias("val"),
        )
    )
    per_part = scoped.groupBy("l_partkey").agg(F.sum("val").alias("raw_value"))
    threshold = scoped.agg(
        (F.sum("val").cast("double") * 0.001).alias("cutoff")
    )
    return (
        per_part.join(F.broadcast(threshold))
        .where(F.col("raw_value").cast("double") > F.col("cutoff"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("raw_value"), 2).cast("double").alias("value"),
        )
    )


@register(
    "tpch_q12_shipmode",
    tags=("join", "agg"),
    oracle="""
SELECT
  l_returnflag,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
GROUP BY l_returnflag
""",
)
def tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority split (TPC-H Q12 shape; returnflag stands in for
    shipmode, late shipment = shipped 60+ days after order date).
    Conditional aggregation with a cross-table residual predicate on a
    single equi-join."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") < F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") >= F.expr("o_orderdate + INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_custdist",
    tags=("join", "agg"),
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13): outer join with an
    ON-clause filter (NOT a post-join where -- null-extended rows must
    survive), then a two-level aggregation."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q14_promo",
    tags=("join", "agg"),
    oracle="""
SELECT round(
  100.0 * sum(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-03-01 00:00:00'
""",
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share (TPC-H Q14): conditional ratio over a
    date-pruned join; the shipdate range is pushed to the lineitem scan."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue")
        )
    )


@register(
    "tpch_q15_top_supplier",
    tags=("join", "subquery", "topk"),
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15): agg view reused twice -- once for the max
    (scalar aggregate, broadcast) and once for the equality filter.
    Rounding happens BEFORE the max comparison in both engines so
    float-tie behavior is identical."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("best_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q16_supplier_cnt",
    tags=("join", "agg", "subquery"),
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-part relationship count (TPC-H Q16 shape; the lineitem
    part/supplier pairing stands in for partsupp).  NOT IN over a
    null-free key becomes a left_anti join; distinct count per group."""
    p = table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_qty",
    tags=("join", "subquery", "agg"),
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#2'
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = part.p_partkey
  )
""",
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17): the correlated scalar
    subquery (per-part avg quantity) is decorrelated into a group-agg +
    equi-join -- the scalable plan Spark/DuckDB both converge to, stated
    explicitly."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#2")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("qty_cutoff")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part_avg, F.col("l_partkey") == F.col("avg_pk"))
        .where(F.col("l_quantity") < F.col("qty_cutoff"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q19_disjunctive",
    tags=("join", "filter"),
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1  AND l_quantity <= 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
""",
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (TPC-H Q19): disjunctive mixed-table predicate.
    Catalyst extracts the common part-side conjuncts (brand IN, size ranges)
    below the join; the cross-table residual stays in the join filter."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & (q >= 1) & (q <= 21)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & (q >= 10) & (q <= 30)
    ) | (
        (F.col("p_brand") == "Brand#15")
        & F.col("p_size").between(1, 35)
        & (q >= 20) & (q <= 40)
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )


@register(
    "tpch_q20_semi_chain",
    tags=("join", "subquery"),
    oracle="""
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 50
  )
""",
)
def tpch_q20_semi_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (TPC-H Q20 shape): IN-subquery over a
    filtered agg with HAVING, expressed as a left_semi join chain."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    qualified = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@register(
    "tpch_q21_waiting",
    tags=("join", "subquery"),
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders     ON o_orderkey = l1.l_orderkey
JOIN nation     ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_1'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
""",
)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape; shipdate stands
    in for receipt/commit dates): EXISTS -> left_semi, NOT EXISTS ->
    left_anti, both self-joins on l_orderkey with a residual suppkey /
    shipdate predicate.  The orderkey equi-key keeps the self-joins as
    hash joins (one shuffle each on orderkey), never nested-loop."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    fo = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    n = table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    l1 = (
        li.join(fo, F.col("l_orderkey") == F.col("o_orderkey"))
        .drop("o_orderkey")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .alias("l1")
    )
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.alias("l3")
    waited = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .alias("l1")
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey"))
            & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
            "left_anti",
        )
    )
    return waited.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


@register(
    "tpch_q22_opportunity",
    tags=("join", "subquery", "agg"),
    oracle="""
SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM (
  SELECT c_nationkey % 10 AS cntrycode, c_acctbal
  FROM customer
  WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
    AND c_acctbal > (
      SELECT avg(c_acctbal) FROM customer
      WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 3, 5, 7, 9))
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
)
GROUP BY cntrycode
""",
)
def tpch_q22_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (TPC-H Q22 shape; nationkey%10 stands in
    for the phone country code, and "no orders" is scoped to urgent
    orders so the anti-join is non-empty on the dense fixture data):
    uncorrelated scalar avg (broadcast), NOT EXISTS anti-join against
    orders, then aggregate by code."""
    c = table(spark, sf_dir, "customer").where(
        (F.col("c_nationkey") % 10).isin(1, 3, 5, 7, 9)
    )
    cutoff = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(cutoff))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )
