"""Multi-column sort — the reference's core operator, Spark-first.

The reference implements two physical strategies for one logical op
(/root/reference/src/lib.rs:23-74): per-column dynamic comparators
(lexsort_to_indices) vs Arrow Row-format normalized keys + byte-wise sort.
Spark's SortExec already uses the row-format technique internally (Tungsten
UnsafeRow + sort-prefix radix sort, SPARK-7082), so user-level code declares
ONE sort and the engine picks the physical path — we deliberately do NOT
reimplement either strategy (SURVEY.md §4).

Null placement is always explicit: Arrow's SortOptions::default() is
ascending + nulls-first (lib.rs:84), and Spark's default differs for desc —
so every expression pins asc_nulls_first / desc_nulls_first.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def make_sort_exprs(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    ascending: bool = True,
    nulls_first: bool = True,
) -> list[Column]:
    """One sort expression per column, left-to-right — mirrors
    `make_sort_exprs` (lib.rs:78-87): sort by ALL columns, ascending,
    nulls first."""
    cols = list(columns) if columns is not None else list(df.columns)
    out = []
    for c in cols:
        col = F.col(c)
        if ascending:
            out.append(col.asc_nulls_first() if nulls_first else col.asc_nulls_last())
        else:
            out.append(col.desc_nulls_first() if nulls_first else col.desc_nulls_last())
    return out


def sort_batch(df: DataFrame, exprs: Sequence[Column] | None = None) -> DataFrame:
    """Global lexicographic sort (lib.rs:23-74 `sort_batch`). One API — the
    comparator-vs-row-encoding strategy flag has no analog because Spark's
    SortExec always uses the normalized-key path."""
    return df.orderBy(*(exprs if exprs is not None else make_sort_exprs(df)))


def make_sorted_runs(
    df: DataFrame,
    num_runs: int,
    exprs: Sequence[Column] | None = None,
    run_col: str = "run",
    segments_per_run: int = 1,
) -> DataFrame:
    """Scatter rows into ``num_runs`` partition-resident runs (one run per
    partition via hash repartition on ``run_col``) and sort each run — the
    setup half of the reference's multi-batch regime (split_batch,
    data.rs:245-261, feeding the merge benchmark README.md:3-5).  The run
    column must already exist (operators/split.assign_streams*).

    ``segments_per_run > 1`` is the few-run scale fix (round 10): each
    logical run is materialized as that many partition-resident sorted
    SEGMENTS instead of one monolithic partition, so everything downstream
    of the runs — the range-partitioner sample scan and the merge
    exchange's map side — runs num_runs*segments wide instead of
    num_runs wide.  This is a layout decision at materialization time and
    the only point where it can be made: once K runs are pinned as K
    partitions, every consumer's first stage is K-wide no matter what
    (post-hoc re-splitting pays that K-wide read AND an extra shuffle —
    measured strictly worse; see resplit_sorted_runs).  Segment membership
    hashes the data columns (deterministic), so each segment is a sorted
    subset of its run and the union of a run's segments is exactly the
    run.  Measured at 10M rows / local[32]: K=2 monolithic merges ~3.9x
    slower than the direct sort; K=2 x 16 segments lands within ~1.45x."""
    sort_cols = [c for c in df.columns if c != run_col]
    sort_exprs = list(exprs) if exprs is not None else make_sort_exprs(df, sort_cols)
    if segments_per_run <= 1:
        return df.repartition(num_runs, F.col(run_col)).sortWithinPartitions(
            *sort_exprs
        )
    seg = F.pmod(F.xxhash64(*sort_cols), F.lit(segments_per_run))
    return (
        df.withColumn("_segment", seg)
        .repartition(num_runs * segments_per_run, F.col(run_col), F.col("_segment"))
        .drop("_segment")
        .sortWithinPartitions(*sort_exprs)
    )


def merge_sorted_runs(runs: DataFrame, exprs: Sequence[Column] | None = None) -> DataFrame:
    """Globally merge pre-sorted runs into one total order — the
    SortPreservingMerge analog of the reference's multi-batch merge regime
    (README.md:3-5: the half of its finding where row-format encoding wins).

    Spark has no user-level merge-without-sort: a total order is always
    range-exchange + per-partition sort (`orderBy`).  The exchange
    re-interleaves the runs, so each reducer sees up to K sorted
    subsequences — input that the comparator strategy's TimSort
    (spark.sql.sort.enableRadixSort=false; Spark's comparator sort IS
    TimSort over record pointers) merges adaptively in ~O(n log K), while
    the radix path ignores pre-existing order entirely.  That strategy
    divergence on run-structured input is the Spark translation of the
    reference's single-batch-vs-merge asymmetry; bench.py's merge series
    measures it across N runs at 1M-10M rows."""
    return runs.orderBy(*(exprs if exprs is not None else make_sort_exprs(runs)))


def resplit_sorted_runs(
    runs: DataFrame,
    factor: int,
    exprs: Sequence[Column] | None = None,
    run_col: str = "run",
    num_partitions: int | None = None,
) -> DataFrame:
    """Order-preservingly re-split K partition-resident sorted runs into
    K*factor smaller sorted runs: each run is cut into ``factor``
    CONTIGUOUS bands (ntile over the run's own sort order — a contiguous
    slice of a sorted run is itself a sorted run), then scattered across
    ``num_partitions`` (defaults to the session shuffle width).  The window
    needs no new exchange (the runs are already hash-clustered on
    ``run_col``); the scatter is one hash exchange.

    **Measured negative result (round 10, kept as the honest A/B arm):**
    post-hoc re-splitting does NOT fix the few-run merge regime.  The
    K-wide bottleneck is READING the K pinned partitions, which this
    operator's own map side pays in full before adding a complete extra
    shuffle — at 10M rows / local[32], K=2 merge: direct sort 1.65 s,
    monolithic merge 6.5 s, resplit(16)+merge 9.7 s.  The fix that works
    is choosing the layout at materialization time
    (``make_sorted_runs(..., segments_per_run=S)``: 2.39 s, ~1.45x of
    direct).  Use this operator only when the runs genuinely cannot be
    re-materialized and a downstream consumer NEEDS many sorted runs
    (not a total order).

    ``merge_sorted_runs(resplit_sorted_runs(runs, f), exprs)`` is
    row-for-row equal to ``merge_sorted_runs(runs, exprs)`` —
    tests/test_sort.py pins it."""
    sort_cols = [c for c in runs.columns if c != run_col]
    sort_exprs = list(exprs) if exprs is not None else make_sort_exprs(runs, sort_cols)
    w = Window.partitionBy(run_col).orderBy(*sort_exprs)
    banded = runs.withColumn("_subrun", F.ntile(factor).over(w))
    n = (
        num_partitions
        if num_partitions is not None
        else int(runs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )
    return banded.repartition(n, F.col(run_col), F.col("_subrun")).drop("_subrun")


def top_k(df: DataFrame, k: int, exprs: Sequence[Column] | None = None) -> DataFrame:
    """Sort + fetch: Spark plans TakeOrderedAndProject (per-partition heaps,
    no global sort) — the TopK operator DataFusion plans for
    ORDER BY + LIMIT."""
    return df.orderBy(*(exprs if exprs is not None else make_sort_exprs(df))).limit(k)
