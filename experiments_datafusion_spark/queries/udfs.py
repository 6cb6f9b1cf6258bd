"""User-defined function surface (SURVEY.md §2B UDF/UDAF/UDTF row).

Spark-first guidance applies: UDFs are the slow path, so the engine's own
operators never use them in hot paths — but the SURFACE must exist for
users. Coverage: Arrow-vectorized scalar pandas_udf, GROUPED_AGG pandas
UDAF, applyInPandas (UDTF-ish grouped map), and a row-at-a-time Python UDF
included deliberately as the anti-pattern reference point. All outputs are
deterministic, so DuckDB oracles check them like any built-in."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from experiments_datafusion_spark.io import table
from experiments_datafusion_spark.queries import register


@pandas_udf(StringType())
def _norm_name(s: pd.Series) -> pd.Series:
    """Vectorized scalar UDF: normalize a name (lower, strip digits,
    collapse spaces) — one Arrow batch per invocation."""
    return s.str.lower().str.replace(r"[0-9]", "", regex=True).str.replace(
        r"\s+", " ", regex=True
    ).str.strip()


@pandas_udf(DoubleType())
def _weighted_price(price: pd.Series, disc: pd.Series) -> pd.Series:
    return (price * (1.0 - disc)).round(4)


@register(
    "udf_pandas_scalar",
    tags=("udf",),
    oracle="""
SELECT
  c_custkey,
  trim(regexp_replace(regexp_replace(lower(c_name), '[0-9]', '', 'g'), '\\s+', ' ', 'g'))
    AS norm_name,
  round(c_acctbal * 0.9, 4) AS discounted_bal
FROM customer
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDFs in a projection."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        _norm_name(F.col("c_name")).alias("norm_name"),
        _weighted_price(F.col("c_acctbal"), F.lit(0.1)).alias("discounted_bal"),
    )


@pandas_udf(DoubleType())
def _gini(values: pd.Series) -> float:
    """GROUPED_AGG pandas UDAF: Gini coefficient of order values — a real
    custom aggregate Spark has no built-in for."""
    x = values.sort_values().to_numpy()
    n = len(x)
    if n == 0 or x.sum() == 0:
        return 0.0
    cum = x.cumsum()
    return float(round((n + 1 - 2 * (cum / cum[-1]).sum()) / n, 6))


@register(
    "udf_grouped_agg",
    tags=("udf", "agg"),
    oracle="""
WITH ordered AS (
  SELECT o_orderstatus, o_totalprice,
         row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) AS rn,
         count(*)     OVER (PARTITION BY o_orderstatus) AS n,
         sum(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(o_totalprice) OVER (PARTITION BY o_orderstatus) AS tot
  FROM orders
)
SELECT o_orderstatus, round((max(n) + 1 - 2 * sum(cum / tot)) / max(n), 6) AS gini
FROM ordered GROUP BY o_orderstatus
""",
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (Gini) as a GROUPED_AGG pandas UDF; the oracle
    recomputes it with pure window SQL."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(_gini(F.col("o_totalprice")).alias("gini"))


@register(
    "udf_apply_in_pandas",
    tags=("udf", "grouped-map"),
    oracle="""
SELECT o_custkey,
       count(*) AS n_orders,
       round(sum(o_totalprice - mn), 2) AS spend_above_min
FROM (
  SELECT o_custkey, o_totalprice,
         min(o_totalprice) OVER (PARTITION BY o_custkey) AS mn
  FROM orders
)
GROUP BY o_custkey
""",
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the UDTF-shaped API): per-customer
    normalization against the group minimum, one pandas frame per group."""
    o = table(spark, sf_dir, "orders")

    def per_customer(pdf: pd.DataFrame) -> pd.DataFrame:
        mn = pdf["o_totalprice"].min()
        return pd.DataFrame(
            {
                "o_custkey": [pdf["o_custkey"].iloc[0]],
                "n_orders": [len(pdf)],
                "spend_above_min": [round(float((pdf["o_totalprice"] - mn).sum()), 2)],
            }
        )

    return o.groupBy("o_custkey").applyInPandas(
        per_customer, schema="o_custkey long, n_orders long, spend_above_min double"
    )


@register(
    "udf_python_rowwise",
    tags=("udf", "antipattern"),
    oracle="""
SELECT n_nationkey, n_name || '#' || CAST(n_regionkey AS VARCHAR) AS tagged
FROM nation
""",
)
def udf_python_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — present for surface completeness and as
    the documented anti-pattern (10-100x slower than pandas_udf; never used
    in engine hot paths). Applied only to the 25-row nation table."""
    tag = F.udf(lambda name, rk: f"{name}#{rk}", StringType())
    n = table(spark, sf_dir, "nation")
    return n.select("n_nationkey", tag("n_name", "n_regionkey").alias("tagged"))


@register(
    "udf_python_udtf",
    tags=("udf", "udtf"),
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(toks, 1) AS INTEGER) AS pos,
       unnest(toks) AS token
FROM (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS toks
  FROM documents WHERE doc_id < 50
)
""",
)
def udf_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Python UDTF (Spark 4 `@udtf`): one input row -> many output rows
    via a lateral join — the first-class form of the table-function surface
    (applyInPandas/mapInPandas above are the grouped/partition-shaped kin)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string")
    class SplitTokens:
        def eval(self, doc_id, text):
            import re

            for i, w in enumerate(t for t in re.split(r"\s+", text or "") if t):
                yield doc_id, i + 1, w

    spark.udtf.register("edfs_split_tokens", SplitTokens)
    return spark.sql(
        """
        SELECT t.doc_id, t.pos, t.token
        FROM {docs} d, LATERAL edfs_split_tokens(d.doc_id, d.text) t
        WHERE d.doc_id < 50
        """,
        docs=table(spark, sf_dir, "documents").select("doc_id", "text"),
    )


# ---- cogrouped map: two tables, one Pandas function per key ----------------

_CONV_WINDOW_US = 3600 * 1_000_000  # click-to-purchase attribution window


@register(
    "udf_cogroup",
    tags=("udf", "cogroup"),
    oracle=f"""
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'
),
users AS (
  SELECT DISTINCT user_id FROM events WHERE event_type IN ('purchase', 'click')
),
conv AS (
  SELECT p.user_id,
         CASE WHEN EXISTS (
           SELECT 1 FROM c
           WHERE c.user_id = p.user_id
             AND c.us <= p.us AND c.us >= p.us - {_CONV_WINDOW_US}
         ) THEN 1 ELSE 0 END AS f
  FROM p
)
SELECT u.user_id,
       CAST(coalesce((SELECT count(*) FROM p WHERE p.user_id = u.user_id), 0) AS BIGINT) AS n_purchases,
       CAST(coalesce((SELECT count(*) FROM c WHERE c.user_id = u.user_id), 0) AS BIGINT) AS n_clicks,
       CAST(coalesce((SELECT sum(f) FROM conv WHERE conv.user_id = u.user_id), 0) AS BIGINT) AS n_converted
FROM users u
""",
)
def udf_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map Pandas UDF — the LAST grouped-UDF API shape
    (groupBy.cogroup(...).applyInPandas): each user's purchases AND clicks
    arrive together as two aligned pandas frames, here computing which
    purchases had a click in the preceding hour (the attribution metric
    that needs both sides at once).  Keys present on either side appear —
    a purchase-only user reports 0 clicks and vice versa.

    The per-key merge uses numpy searchsorted on integer epoch-micros (no
    float time math), so the result is exactly the oracle's EXISTS
    subquery.  Scale: one shuffle co-partitions both inputs on user_id;
    per-key work is O(p log c); parallelism across keys, like every
    grouped-map op here."""
    import numpy as np

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")

    def merge(pp: pd.DataFrame, cc: pd.DataFrame) -> pd.DataFrame:
        uid = int(pp["user_id"].iloc[0]) if len(pp) else int(cc["user_id"].iloc[0])
        cus = np.sort(cc["us"].to_numpy(dtype="int64"))
        pus = pp["us"].to_numpy(dtype="int64")
        if len(cus):
            # a click exists in [p - window, p] iff the first click >= p-window is <= p
            idx = np.searchsorted(cus, pus - _CONV_WINDOW_US, side="left")
            ok = (idx < len(cus)) & (cus[np.minimum(idx, len(cus) - 1)] <= pus)
            n_conv = int(ok.sum())
        else:
            n_conv = 0
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_purchases": [len(pp)],
                "n_clicks": [len(cc)],
                "n_converted": [n_conv],
            }
        )

    return purchases.groupBy("user_id").cogroup(clicks.groupBy("user_id")).applyInPandas(
        merge, schema="user_id long, n_purchases long, n_clicks long, n_converted long"
    )
