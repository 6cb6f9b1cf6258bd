"""Aggregation surface (SURVEY.md §2B rows: Aggregation, Agg functions,
Grouping sets / cube / rollup).

Spark plans every groupBy().agg() as partial+final HashAggregateExec pairs
(map-side combine) automatically — the two-phase hash agg DataFusion 19 does.
Float aggregates are rounded in both engines; variance-family outputs are
scaled before rounding so cross-engine accumulation-order drift can't flip
the rounded digit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from experiments_datafusion_spark.io import table
from experiments_datafusion_spark.queries import register


@register(
    "agg_stats",
    tags=("agg",),
    oracle="""
SELECT
  l_returnflag,
  round(stddev_samp(l_extendedprice), 2)                 AS sd_price,
  round(stddev_pop(l_extendedprice), 2)                  AS sdp_price,
  round(var_samp(l_extendedprice) / 1000000, 4)          AS var_price_m,
  round(var_pop(l_extendedprice) / 1000000, 4)           AS varp_price_m,
  round(corr(l_extendedprice, l_quantity), 6)            AS corr_pq,
  round(covar_samp(l_extendedprice, l_quantity), 2)      AS covar_pq,
  round(covar_pop(l_extendedprice, l_quantity), 2)       AS covarp_pq
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance (samp+pop), corr, covar."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.stddev_pop("l_extendedprice"), 2).alias("sdp_price"),
        F.round(F.var_samp("l_extendedprice") / 1e6, 4).alias("var_price_m"),
        F.round(F.var_pop("l_extendedprice") / 1e6, 4).alias("varp_price_m"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_pq"),
        F.round(F.covar_pop("l_extendedprice", "l_quantity"), 2).alias("covarp_pq"),
    )


@register(
    "agg_minmax_distinct",
    tags=("agg",),
    oracle="""
SELECT
  o_orderstatus,
  count(*)                          AS n,
  count(DISTINCT o_custkey)         AS n_cust,
  min(o_orderkey)                   AS min_key,
  max(o_orderkey)                   AS max_key,
  round(sum(DISTINCT round(o_totalprice, 0)), 2) AS sum_distinct_price,
  min(o_orderpriority)              AS min_prio,
  max(o_orderpriority)              AS max_prio
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_minmax_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count-distinct / min / max (numeric + string) / sum-distinct."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.round(F.sum_distinct(F.round(F.col("o_totalprice"), 0)), 2).alias(
            "sum_distinct_price"
        ),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
    )


@register(
    "agg_percentiles",
    tags=("agg",),
    oracle="""
SELECT
  l_linestatus,
  round(median(l_extendedprice), 4)               AS med_price,
  round(quantile_cont(l_extendedprice, 0.25), 4)  AS p25_price,
  round(quantile_cont(l_extendedprice, 0.90), 4)  AS p90_price,
  round(quantile_disc(l_extendedprice, 0.50), 4)  AS p50_disc
FROM lineitem
GROUP BY l_linestatus
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + continuous/discrete percentiles. (DataFusion 19's
    approx_percentile maps to percentile_approx — sketch outputs aren't
    cross-engine comparable, so the oracle checks the exact forms; the
    approx form is covered rows-only in agg_approx.)"""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.90)), 4).alias("p90_price"),
        F.round(
            F.expr("percentile_approx(l_extendedprice, 0.5, 2147483647)"), 4
        ).alias("p50_disc"),
    )


@register(
    "agg_collect",
    tags=("agg", "array"),
    oracle="""
SELECT
  c_mktsegment,
  array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
  count(*) AS n
FROM customer
GROUP BY c_mktsegment
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_agg / collect_set, rendered to a sorted CSV string so the
    value-hash is order- and type-stable across engines."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("c_nationkey"))).alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_bool_bit",
    tags=("agg",),
    oracle="""
SELECT
  l_returnflag,
  bool_and(l_quantity > 0)        AS all_positive,
  bool_or(l_quantity > 49)        AS any_49plus,
  bit_and(CAST(l_linenumber AS BIGINT)) AS band,
  bit_or(CAST(l_linenumber AS BIGINT))  AS bor,
  bit_xor(CAST(l_linenumber AS BIGINT)) AS bxor
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise aggregates."""
    li = table(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_49plus"),
        F.bit_and(ln).alias("band"),
        F.bit_or(ln).alias("bor"),
        F.bit_xor(ln).alias("bxor"),
    )


@register(
    "grouping_cube",
    tags=("agg", "grouping"),
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  grouping(l_returnflag) AS g_flag,
  grouping(l_linestatus) AS g_status,
  count(*)               AS n,
  round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping() indicator flags."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "grouping_rollup",
    tags=("agg", "grouping"),
    oracle="""
SELECT
  o_orderstatus,
  o_orderpriority,
  count(*) AS n,
  round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "grouping_sets",
    tags=("agg", "grouping", "sql"),
    oracle="""
SELECT c_mktsegment, c_nationkey, count(*) AS n
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
""",
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL frontend."""
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS n
        FROM {customer}
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """,
        customer=table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey"),
    )


@register(
    "agg_having",
    tags=("agg",),
    oracle="""
SELECT l_partkey, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY l_partkey
HAVING count(*) >= 8 AND sum(l_quantity) > 100
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation filter."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .where((F.col("n") >= 8) & (F.col("_raw_qty") > 100))
        .drop("_raw_qty")
    )


# ---- bitmap-index activity aggregation -------------------------------------

_BM_EPOCH_DAY = 19723  # 2024-01-01 as days-since-epoch; fixture day range 0-29
_BM_WEEKEND = 202911840  # precomputed: bits of days 0..29 with day%7 in (5,6)
# (2024-01-01 is a Monday, so day%7==5 is Saturday)


@register(
    "agg_activity_bitmap",
    tags=("aggregate", "bitmap", "analytics"),
    oracle=f"""
WITH d AS (
  SELECT user_id,
         (1::BIGINT << CAST(epoch_us(ts) // 86400000000 - {_BM_EPOCH_DAY} AS INT)) AS daybit
  FROM events
)
SELECT user_id,
       CAST(bit_or(daybit) AS BIGINT) AS activity_mask,
       CAST(bit_count(bit_or(daybit)) AS BIGINT) AS n_active_days,
       CAST(bit_count(bit_or(daybit) & {_BM_WEEKEND}) AS BIGINT) AS n_weekend_days
FROM d GROUP BY user_id
""",
)
def agg_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index activity aggregation (the roaring-bitmap OLAP recipe,
    single-word form): each event sets bit day_index in a per-user BIGINT
    mask via a bit_or aggregate; day counts and calendar slices (weekend
    days) are then O(1) bit_count/AND on the mask — no distinct-count, no
    second pass.  The fixture's 30-day range fits one word; longer ranges
    shard the same way into (user, word_index) rows with per-word bit_or —
    the layout bitmap indexes use at any scale.  All integer bit math:
    nothing to diverge cross-engine.

    Scale: ONE partial+final aggregate keyed by user; masks combine
    associatively (bit_or), so map-side partial aggregation does most of
    the work before the shuffle — the same property that makes bitmap
    indexes mergeable across segments."""
    ev = table(spark, sf_dir, "events")
    # ts >= 2024-01-01 so div truncation == floor; shiftleft via expr (the
    # function form takes only a literal bit count)
    daybit = F.expr(
        "shiftleft(1L, CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        f" - {_BM_EPOCH_DAY} AS INT))"
    )
    mask = F.bit_or(F.col("daybit"))
    return ev.select("user_id", daybit.alias("daybit")).groupBy("user_id").agg(
        mask.cast("long").alias("activity_mask"),
        F.bit_count(mask).cast("long").alias("n_active_days"),
        F.bit_count(mask.bitwiseAND(F.lit(_BM_WEEKEND))).cast("long").alias("n_weekend_days"),
    )


@register(
    "agg_multi_distinct",
    tags=("aggregate",),
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT)                 AS n,
       CAST(count(DISTINCT user_id) AS BIGINT)  AS n_users,
       CAST(count(DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d'))
            AS BIGINT)                          AS n_days,
       CAST(count(DISTINCT value) AS BIGINT)    AS n_values
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE count(DISTINCT ...) on three different columns in one
    aggregate — the shape Catalyst's RewriteDistinctAggregates handles by
    Expand-ing each row once per distinct group and double-aggregating.
    Worth owning as a key because naive engines either reject it or fall
    back to joins of separate aggregates; Spark keeps it one pipeline
    (plan shows a single Expand feeding two HashAggregate layers).

    Scale note: Expand multiplies scan rows by the number of distinct
    specs (3x here) BEFORE the partial aggregate — acceptable because the
    partials collapse per (group, spec); for very wide fan-outs prefer
    approx_count_distinct (agg_approx) or separate aggregates."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.countDistinct(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
            )
            .cast("long")
            .alias("n_days"),
            F.countDistinct("value").cast("long").alias("n_values"),
        )
        .orderBy("event_type")
    )
