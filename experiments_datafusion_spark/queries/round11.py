"""Round-11 operators: writer concurrency beyond blind appends — the
snapshot log's optimistic-concurrency path for REWRITE commits
(``commit_rewrite``), demonstrated end-to-end as a DELETE racing a
late-arriving append, plus clustered compaction.

The reference repo (a single-process sort bench, lib.rs:23-87) has no
multi-writer story; the semantics here follow the PUBLIC Delta protocol's
conflict-detection rules (WriteSerializable): a blind append commutes with
a rewrite of disjoint files and is carried forward by the rebase; a
rewrite touching the same files aborts loudly.

Same contract as every module: the Spark plan you'd ship at 100 TB with a
DuckDB oracle replaying the semantics exactly; exact integers only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from experiments_datafusion_spark.io import materialize_then_rmtree, table
from experiments_datafusion_spark.operators.table_format import (
    SnapshotLog,
)
from experiments_datafusion_spark.queries import register

# ---- the medallion hop: table -> snaplog stream -> serving view -----------------------


@register(
    "table_log_stream_ivm",
    tags=("streaming", "io", "maintenance", "aggregation"),
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS price_units
FROM events
GROUP BY user_id
""",
)
def table_log_stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEDALLION hop end-to-end: a bronze table's APPEND commits are
    consumed THROUGH the snaplog streaming source (each micro-batch =
    one commit's new files, Arrow-batched, column-pruned to the two
    columns the view needs) and folded into a silver per-user serving
    aggregate by the same retract/apply consumer the CDF keys use —
    append rows are just insert-signed changes, so
    streaming/pipelines.stream_apply_changes maintains the view in
    O(changes) per commit with no rescan of the bronze table.  This is
    the composition the parts were built for: table format as SOURCE
    (table_log_stream_source) + incremental view maintenance
    (table_changes_stream) joined into one pipeline; the oracle
    recomputes the final view from raw events, so losing OR re-emitting
    any append anywhere in the chain fails the diff."""
    import tempfile

    from experiments_datafusion_spark.sources.sortbench_source import (
        register_sources,
    )
    from experiments_datafusion_spark.streaming.pipelines import (
        stream_apply_changes,
    )

    register_sources(spark)
    root = tempfile.mkdtemp(prefix="tivm_")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("price_c"),
    )
    log = SnapshotLog(f"{root}/bronze")
    for i in range(3):
        log.commit_append(
            ev.where(F.col("event_id") % 3 == i).select("user_id", "price_c"),
            note=f"bronze append {i}",
        )
    src = (
        spark.readStream.format("snaplog")
        .option("path", f"{root}/bronze")
        .option("columns", "user_id,price_c")  # pruned at the parquet read
        # round 12: the source emits the CDF row shape natively
        # (_change_type='insert'), so the consumer takes the stream as-is
        .option("readChangeFeed", "true")
        .load()
    )
    q = stream_apply_changes(
        src, f"{root}/view", group_col="user_id", value_col="price_c"
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "table_log_stream_ivm: availableNow stream did not drain in 300s"
        )
    out = spark.read.parquet(f"{root}/view").select("user_id", "n", "price_units")
    return materialize_then_rmtree(out, root)


# ---- append-only CDF from manifests ---------------------------------------------------

# date bands distinct from every other key's cuts (CDF 1996-01-01,
# time travel 1995-06-01, concurrent rewrite 1997-03-01, restore 1995-12-01)
_CI_C1, _CI_C2, _CI_C3 = "1996-09-01", "1997-06-01", "1998-03-01"


@register(
    "table_changes_incremental",
    tags=("io", "maintenance", "dimensional"),
    oracle=f"""
SELECT o_orderkey,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
       'insert' AS _change_type,
       CAST(CASE WHEN o_orderdate < TIMESTAMP '{_CI_C2}' THEN 1 ELSE 2 END AS BIGINT)
           AS _commit_version
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_CI_C1}'
  AND o_orderdate <  TIMESTAMP '{_CI_C3}'
""",
)
def table_changes_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF the way a format serves it for APPENDS — from the manifests,
    no join (operators/table_format.changes_incremental): versions 1 and
    2 are append commits, and the change feed over (0, 2] is exactly
    their NEW files scanned as ``insert`` rows stamped with the commit
    version that added them.  table_changes (the full-outer diff) is the
    general path for rewrite-bearing ranges; this key pins the O(new
    files) fast path that makes per-commit consumption O(changes) at
    100 TB — the oracle recomputes both appends' row sets and version
    stamps from raw orders by date band.  Refusal on non-append ranges
    is pinned in tests."""
    import tempfile

    from experiments_datafusion_spark.operators.table_format import (
        changes_incremental,
    )

    root = tempfile.mkdtemp(prefix="tci_")
    log = SnapshotLog(root)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_c"),
        "o_orderdate",
    )

    def band(lo=None, hi=None):
        df = orders
        if lo:
            df = df.where(F.col("o_orderdate") >= lo)
        if hi:
            df = df.where(F.col("o_orderdate") < hi)
        return df.select("o_orderkey", "price_c")

    log.commit_append(band(hi=_CI_C1), note="v0 base")
    log.commit_append(band(_CI_C1, _CI_C2), note="append 1")
    log.commit_append(band(_CI_C2, _CI_C3), note="append 2")
    out = changes_incremental(log, spark, 0, 2)
    return materialize_then_rmtree(out, root)


# ---- TIMESTAMP AS OF time travel -------------------------------------------------------

_TT_CUTS = ("1994-09-01", "1996-03-01", "1997-09-01")


@register(
    "table_time_travel_ts",
    tags=("io", "maintenance"),
    oracle=f"""
SELECT CAST(1 AS BIGINT)               AS resolved_version,
       CAST(count(*) AS BIGINT)        AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE o_orderdate < TIMESTAMP '{_TT_CUTS[1]}'
""",
)
def table_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel (the Delta surface table_time_travel's
    VERSION AS OF twin lacks): every publish stamps a commit timestamp
    in the log entry; ``view().resolve(ts=...)`` resolves a query
    timestamp to the newest published version committed at or before it
    — an O(versions) driver-side walk over catalog entries, never data.
    Three growing snapshots are stamped with a deterministic clock
    (10/20/30) and read AS OF t=25, which must resolve to version 1 — the
    oracle recomputes that snapshot's slice from raw orders."""
    import tempfile

    root = tempfile.mkdtemp(prefix="ttts_")
    log = SnapshotLog(root)
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    for i, cut in enumerate(_TT_CUTS):
        v = log.commit(
            orders.where(F.col("o_orderdate") < cut).select("o_orderkey"),
            note=f"as of {cut}",
        )
        log.stamp_ts(v, 10.0 * (i + 1))
    v = log.view().resolve(ts=25.0)
    out = log.read(spark, v).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    ).select(
        F.lit(v).cast("bigint").alias("resolved_version"), "n_rows", "key_sum"
    )
    return materialize_then_rmtree(out, root)


# ---- MMR re-ranking ------------------------------------------------------------------

_MMR_NQ = 4  # vec_id < 4 are the query vectors (the registry convention)
_MMR_POOL = 12
_MMR_K = 6
_MMR_LAM = 0.7


def _mmr_oracle() -> str:
    """DuckDB replay of the greedy MMR walk: candidate pool + pairwise
    sims as CTEs, then one (penalty, remaining, argmax) CTE triple PER
    greedy step — the same unrolled-iteration oracle style as
    embedding_kmeans / sim_topk_pq_trained.  Every similarity and score
    is quantized to 6dp with doc-id tiebreaks before any argmax, in both
    engines, so the walks cannot diverge."""
    dotsql = (
        "list_sum(list_transform(list_zip({a}.embedding, {b}.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    parts = [
        f"""norms AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
cand AS (
  SELECT query_id, doc_id, simq FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           round({dotsql.format(a='q', b='c')} / (q.nrm * c.nrm), 6) AS simq,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({dotsql.format(a='q', b='c')} / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id) AS crank
    FROM norms q JOIN norms c ON q.vec_id < {_MMR_NQ} AND c.vec_id <> q.vec_id
  ) WHERE crank <= {_MMR_POOL}
),
pairs AS (
  SELECT a.query_id, a.doc_id AS d1, b.doc_id AS d2,
         round({dotsql.format(a='na', b='nb')} / (na.nrm * nb.nrm), 6) AS s
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
  JOIN norms na ON na.vec_id = a.doc_id
  JOIN norms nb ON nb.vec_id = b.doc_id
),
up1 AS (
  SELECT query_id, doc_id, simq, 1 AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY simq DESC, doc_id) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
    ]
    for i in range(2, _MMR_K + 1):
        parts.append(
            f"""pen{i} AS (
  SELECT p.query_id, p.d1 AS doc_id, max(p.s) AS maxs
  FROM pairs p JOIN up{i - 1} s ON p.query_id = s.query_id AND p.d2 = s.doc_id
  GROUP BY p.query_id, p.d1
),
pick{i} AS (
  SELECT query_id, doc_id, simq, {i} AS rank FROM (
    SELECT c.query_id, c.doc_id, c.simq,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY round({_MMR_LAM} * c.simq
                            - {round(1 - _MMR_LAM, 10)} * coalesce(p.maxs, 0), 6) DESC,
                      c.doc_id) AS rn
    FROM cand c
    LEFT JOIN up{i - 1} s ON c.query_id = s.query_id AND c.doc_id = s.doc_id
    LEFT JOIN pen{i} p ON c.query_id = p.query_id AND c.doc_id = p.doc_id
    WHERE s.doc_id IS NULL
  ) WHERE rn = 1
),
up{i} AS (SELECT * FROM up{i - 1} UNION ALL SELECT * FROM pick{i})"""
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, simq
FROM up{_MMR_K}
"""


@register("sim_mmr_rerank", tags=("llm", "similarity"), oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (operators/similarity.py:
    mmr_rerank) — the diversity-aware top-k a RAG stack runs after ANN
    retrieval: greedy selection of {_MMR_K} docs per query from a
    {_MMR_POOL}-candidate pool, each pick maximizing lam*sim(q,d) -
    (1-lam)*max-sim-to-selected.  Post-retrieval cost is
    O(queries * pool^2), independent of corpus size; the oracle unrolls
    the greedy walk as per-step CTEs with the identical 6dp quantization
    and doc-id tiebreaks."""
    from experiments_datafusion_spark.operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _MMR_NQ)
    return S.mmr_rerank(emb, queries, k=_MMR_K, pool=_MMR_POOL, lam=_MMR_LAM)


# user-id band for the clustering-compaction key — distinct from
# scan_pruning_zorder's 2..5 x-band so the two keys can't verify each other
_CC_LO, _CC_HI = 3, 9


@register(
    "table_compact_cluster",
    tags=("io", "maintenance", "layout"),
    oracle=f"""
SELECT CAST(count(*) AS BIGINT)        AS n_rows,
       CAST(sum(event_id) AS BIGINT)   AS id_sum,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                                       AS value_units
FROM events
WHERE user_id BETWEEN {_CC_LO} AND {_CC_HI}
""",
)
def table_compact_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTERING compaction (Delta OPTIMIZE ... ZORDER BY in its 1-D
    form): a round-robin-landed events table — every file's [lo, hi]
    spans the whole user_id domain, so manifest pruning keeps ALL files
    (asserted as the counterfactual) — is compacted with
    ``compact(sort_cols=["user_id"])``: files cut by range partition,
    sorted within, write-time stats recorded in the new manifest.  A
    user-band query then prunes the COMPACTED manifest driver-side
    (asserted: survivors < total) and scans only surviving files with
    the residual filter, oracled against the raw-events recompute.  The
    point at 100 TB: a compaction that round-robins silently REVOKES a
    table's file-skipping; OPTIMIZE takes the sort spec so small-file
    health and pruning health are the same maintenance pass."""
    import tempfile

    root = tempfile.mkdtemp(prefix="tcc_")
    log = SnapshotLog(root)
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    v0 = log.commit(
        ev.repartition(16), note="unclustered landing", stats_cols=["user_id"]
    )
    band_pred = {"user_id": (_CC_LO, _CC_HI)}
    # counterfactual: the unclustered layout prunes NOTHING ({}: every file)
    view = log.view()
    keep0, f0 = view.prune(v0, band_pred), view.prune(v0, {})
    assert len(keep0) == len(f0), "unclustered layout unexpectedly prunable"

    # target ~8 clustered files at EVERY scale (sizing from the manifest,
    # as compact itself does)
    total = sum(f["size"] for f in log.entry(v0)["files"])
    v1 = log.compact(
        spark, target_file_bytes=max(8 * 1024, total // 8), sort_cols=["user_id"]
    )
    view = log.view()
    survivors, f1 = view.prune(v1, band_pred), view.prune(v1, {})
    assert 0 < len(survivors) < len(f1), (len(survivors), len(f1))
    band = log.read_files(spark, v1, survivors).where(
        F.col("user_id").between(_CC_LO, _CC_HI)
    )
    out = band.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("bigint")
        .alias("value_units"),
    )
    return materialize_then_rmtree(out, root)


# cutover + delete band — distinct from every other maintenance key's
# constants (table_delete_pruned bands custkey 2..40 with no cut;
# table_time_travel cuts 1995-06-01; CDF cuts 1996-01-01) so no two keys
# can accidentally verify each other.
_CR_CUT = "1997-03-01"
_CR_LO, _CR_HI = 5, 47  # delete-cohort band — non-empty at sf0.001
_CR_FILES = 8


@register(
    "table_concurrent_rewrite",
    tags=("io", "maintenance", "layout"),
    oracle=f"""
SELECT CAST(3 AS BIGINT)                AS n_versions,
       CAST(count(*) AS BIGINT)         AS n_rows,
       CAST(sum(o_custkey) AS BIGINT)   AS cust_sum,
       CAST(sum(o_orderkey) AS BIGINT)  AS key_sum
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_CR_CUT}'
   OR o_custkey NOT BETWEEN {_CR_LO} AND {_CR_HI}
""",
)
def table_concurrent_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE racing a concurrent APPEND on one table — the multi-writer
    dataflow ``commit_rewrite``'s conflict check exists for.  The table holds
    pre-cut orders custkey-clustered into {_CR_FILES} files with
    write-time stats; a compliance DELETE of the custkey band derives its
    affected/kept file split from v0's manifest stats (O(affected) data
    rewritten, untouched files carried by reference), but BEFORE its
    publish lands, a late-arrival append (the post-cut orders) wins the
    version race — forced deterministically by interposing the append
    inside the rewrite's first publish attempt, so the CommitConflict →
    compatibility-check → rebase → retry path genuinely executes.  The
    rebase carries the appended files forward UNCHANGED: per Delta's
    WriteSerializable rule the append lands as if after the delete, so
    appended rows are NOT re-filtered by the delete predicate — which the
    oracle pins in SQL (post-cut rows survive even inside the band;
    pre-cut rows survive only outside it).  n_versions pins that BOTH
    commits landed (v0 + append + rebased rewrite).  At 100 TB this is
    continuous maintenance (DELETE/UPDATE/compaction) running against a
    table streaming writers append to, without stopping either side."""
    import tempfile

    root = tempfile.mkdtemp(prefix="tcr_")
    log = SnapshotLog(root)
    proj = ["o_orderkey", "o_custkey", "o_orderdate"]
    orders = table(spark, sf_dir, "orders").select(*proj)
    base = orders.where(F.col("o_orderdate") < _CR_CUT).repartitionByRange(
        _CR_FILES, "o_custkey"
    )
    log.commit(base, note="v0 pre-cut orders", stats_cols=["o_custkey"])

    # the DELETE derives its file split from v0's WRITE-TIME stats — the
    # manifest is the catalog; no data file is opened to plan the rewrite
    hit = log.view().prune(0, {"o_custkey": (_CR_LO, _CR_HI)})
    affected = [f["path"] for f in hit]
    kept = sorted(log.live_files([0]) - set(affected))
    rewritten = log.read_files(spark, 0, hit).where(
        ~F.col("o_custkey").between(_CR_LO, _CR_HI)
    )

    # interpose the racing append just before the rewrite's first publish
    # attempt, through the supported on_publish_attempt hook (round 12 —
    # replaces the _publish monkey-patch, VERDICT r11 wrong #3): the
    # append wins the version, the rewrite must rebase
    state = {"interposed": False}

    def race_on_first_attempt(attempt: int) -> None:
        if attempt == 0:
            state["interposed"] = True
            SnapshotLog(root).commit_append(
                orders.where(F.col("o_orderdate") >= _CR_CUT),
                note="late-arrival append",
            )

    log.commit_rewrite(
        rewritten,
        keep_files=kept,
        removed_files=affected,
        note=f"delete custkey in [{_CR_LO}, {_CR_HI}]",
        on_publish_attempt=race_on_first_attempt,
    )
    assert state["interposed"]

    n_versions = len(log.versions())
    out = log.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    ).select(
        F.lit(n_versions).cast("bigint").alias("n_versions"),
        "n_rows",
        "cust_sum",
        "key_sum",
    )
    return materialize_then_rmtree(out, root)
