"""Join operators beyond Spark's built-in surface (SURVEY.md §2B "Range /
as-of / interval join" row — not in DataFusion 19 core either; flagged as
the one piece of custom relational work).

as-of join: the union+window formulation — O(n log n) in the combined size,
one shuffle on (key), no per-row subquery. This is the standard distributed
as-of shape (a sort-merge within key partitions); the pandas
`merge_asof`-via-applyInPandas alternative is provided for very wide
per-key states but the union form is the default because it stays JVM-side.

salted join: the skew mitigation pattern — explode the hot build side G
ways, salt the probe side, join on (key, salt). AQE's skew-join handles
sort-merge skew automatically; salting is for the HASH-partitioned cases
AQE can't split (e.g. aggregations keyed by a hot key).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    right_cols: list[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    right.on <= left.on, matching on `by` keys (backward as-of join,
    pandas.merge_asof semantics).

    Implementation: tag sides, union, window last_value(ignorenulls) over
    (by) ordered by (on, side) — right rows sorted before left rows at
    equal timestamps so exact-tie matches are visible to the left row.
    One shuffle; scales as a partitioned sort, never a nested loop."""
    lcols = left.columns
    side = F.lit(0)
    l_tagged = left.select(
        *lcols, side.alias("_side"), *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols]
    )
    r_tagged = right.select(
        *[
            F.col(c) if c in (on, *by) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right rows (side=1) sort before left rows (side=0) at equal `on`
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(on), F.col("_side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.select(
        *lcols,
        "_side",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_m_{c}") for c in right_cols],
        F.last(F.when(F.col("_side") == 1, F.col(on)), ignorenulls=True).over(w).alias("_m_on"),
    ).where(F.col("_side") == 0)
    if tolerance_seconds is not None:
        # unix_timestamp subtraction (works for TIMESTAMP and NTZ alike; a
        # double cast of NTZ is a type error in Spark 4).  Deliberately the
        # second-BOUNDARY-crossing measure — matching DuckDB date_diff —
        # not timestampdiff's elapsed-whole-seconds, which differs by 1
        # across sub-second offsets.
        within = (
            F.unix_timestamp(F.col(on)) - F.unix_timestamp(F.col("_m_on"))
            <= tolerance_seconds
        )
        matched = matched.select(
            *lcols,
            *[F.when(within, F.col(f"_m_{c}")).alias(f"_m_{c}") for c in right_cols],
        )
    return matched.select(
        *lcols, *[F.col(f"_m_{c}").alias(f"right_{c}") for c in right_cols]
    )


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: replicate the small side `salt_buckets`
    ways, salt the big side's key uniformly, join on (key, salt). The hot
    key's rows spread over `salt_buckets` tasks instead of one straggler.
    Result rows are identical to a plain join on `key`."""
    salted_big = big.withColumn(
        "_salt", (F.rand(17) * salt_buckets).cast("int")
    )
    exploded_small = skewed_small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(exploded_small, [key, "_salt"], how)
    return out.drop("_salt")
