"""Round-9 operators: merge-on-read deletion vectors — the second half of
the lakehouse DELETE story (table_delete_compliance is the copy-on-write
half: rewrite affected files immediately).  Merge-on-read defers the
rewrite: deletes land as a tiny KEY SIDECAR (the Iceberg equality-delete /
Delta deletion-vector dataflow), every read applies base ⟕ anti-join
sidecar, and a later COMPACTION reconciles to the copy-on-write result.
At 100 TB this is how high-frequency deletes stay cheap — a delete writes
kilobytes, not a partition rewrite; the anti-join's build side is the
sidecar (broadcast-small by construction), making this the second
plan-asserted production shape for join_anti.

Same contract as every other module: the Spark plan you'd ship at 100 TB
with a DuckDB oracle replaying the semantics exactly; exact integers only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from experiments_datafusion_spark.io import materialize_then_rmtree, table
from experiments_datafusion_spark.operators.table_format import (
    SnapshotLog,
    mor_current_view,
    mor_read,
)
from experiments_datafusion_spark.queries import register

# deterministic delete cohort — distinct from table_delete_compliance's
# modulus so the two keys never accidentally verify each other
_MOR_MOD = 13


@register(
    "table_delete_mor",
    tags=("io", "maintenance", "join", "dimensional"),
    oracle=f"""
WITH logical AS (
  SELECT o_orderkey, o_custkey, o_orderstatus
  FROM orders WHERE o_custkey % {_MOR_MOD} != 0
),
audit AS (
  SELECT CAST(count(*) AS BIGINT)          AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT)   AS key_sum,
         CAST(sum(o_custkey) AS BIGINT)    AS cust_sum
  FROM logical
)
SELECT 'mor' AS path, n_rows, key_sum, cust_sum FROM audit
UNION ALL
SELECT 'cow', n_rows, key_sum, cust_sum FROM audit
""",
)
def table_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE with deletion-vector sidecar + compaction.

    Dataflow: (1) materialize the base snapshot as immutable parquet;
    (2) the delete writes ONLY a key sidecar (the cohort's o_orderkey
    values — kilobytes, never a data rewrite); (3) the MoR read is
    base LEFT ANTI JOIN sidecar — Catalyst broadcasts the sidecar, so
    the production plan is a BroadcastHashJoin LeftAnti with zero
    shuffle of the base; (4) compaction applies the sidecar
    copy-on-write into a rewritten snapshot, after which reads drop the
    anti-join.  Both paths are read back and audited; the oracle
    computes the logical delete once from raw orders and expects the
    SAME audit row from each path, so the differential check proves
    MoR view == compacted CoW result == the logical delete.  The
    row-for-row (not just aggregate) equality and the broadcast-anti
    plan shape are pinned in tests/test_round9.py.  Snapshot plumbing
    lives in operators/table_format.py since round 10: base, sidecar, and
    the compacted rewrite are all log commits (v0..v2), which is exactly
    how Iceberg sequences equality-delete files in its manifest log."""
    import tempfile

    root = tempfile.mkdtemp(prefix="mor_")
    log = SnapshotLog(root)
    base_src = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    log.commit(base_src, note="base", kind="base")
    base = log.read(spark, 0)

    # the delete: keys only — this is the whole write cost of a MoR delete
    log.commit(
        base.where(F.col("o_custkey") % _MOR_MOD == 0).select("o_orderkey"),
        note="equality keys",
        kind="delete-sidecar",
    )
    # reader state machine: base + pending sidecar -> broadcast anti-join
    mor_view = mor_current_view(log, spark, "o_orderkey")

    # compaction: reconcile the sidecar copy-on-write; sidecar retires —
    # the SAME reader now resolves to the plain compacted scan, no join
    # (plan-asserted in tests/test_round10.py)
    log.commit(mor_view, note="compacted", kind="compacted")
    cow = mor_current_view(log, spark, "o_orderkey")

    def audit(df: DataFrame, path: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        ).select(F.lit(path).alias("path"), "n_rows", "key_sum", "cust_sum")

    out = audit(mor_view, "mor").unionByName(audit(cow, "cow"))
    return materialize_then_rmtree(out, root)


# mor_read moved to operators/table_format.py in round 10 (imported above,
# re-exported here for compatibility with existing tests/callers).


# ---- clustered-layout scan pruning ---------------------------------------------
#
# The data-layout half of file skipping: vanilla Spark parquet has no
# manifest, so FILE-level min/max skipping is a table-format feature
# (Delta/Iceberg) — what Spark itself gives is (a) directory-partition
# pruning and (b) ROW-GROUP pruning from parquet footer min/max stats,
# which only bites when the layout clusters the predicate column.  This
# key materializes exactly that claim: rewrite orders range-clustered on
# o_custkey (repartitionByRange -> every file covers a disjoint key range,
# the Z-order write path of layout_zorder specialized to one dimension),
# then run a selective custkey-band query over the clustered copy.  The
# oracle replays the band query on raw orders, so the rewrite+read is
# what's verified; the PRUNING evidence — the clustered scan's
# numOutputRows collapsing to the surviving row groups while the same
# predicate over an unclustered copy emits every row — is pinned via
# SparkPlan metrics in tests/test_round9.py (plans/audit.file_scan_metrics).

_PRUNE_FILES = 16
# band non-empty at EVERY scale (sf0.001's custkey domain is only 0-149)
_PRUNE_LO, _PRUNE_HI = 101, 140


@register(
    "scan_pruning_clustered",
    tags=("io", "layout", "maintenance"),
    oracle=f"""
SELECT CAST(count(*) AS BIGINT)           AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT)    AS key_sum,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                                          AS price_units
FROM orders
WHERE o_custkey BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}
""",
)
def scan_pruning_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered rewrite + selective band read (docstring above)."""
    import tempfile

    root = tempfile.mkdtemp(prefix="prune_")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    orders.repartitionByRange(_PRUNE_FILES, "o_custkey").write.mode(
        "overwrite"
    ).parquet(f"{root}/clustered")
    band = spark.read.parquet(f"{root}/clustered").where(
        F.col("o_custkey").between(_PRUNE_LO, _PRUNE_HI)
    )
    out = band.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("bigint")
        .alias("price_units"),
    )
    return materialize_then_rmtree(out, root)


# ---- manifest-based FILE-level skipping -----------------------------------------
#
# Part 2 of the file-skipping story (scan_pruning_clustered is part 1:
# row-group pruning, the only skipping vanilla Spark does on its own).
# Table formats skip whole FILES at planning time by consulting a
# MANIFEST — per-file column min/max collected once at write time: ONE
# distributed aggregate over `_metadata.file_path` at commit (never a
# footer walk on the driver).  Planning-time skipping filters the
# O(files) manifest driver-side (LogView.prune) and scans only the
# surviving files — the Delta/Iceberg dataflow: collect stats at write,
# intersect [lo, hi] with the predicate, read the survivors.
# tests/test_round9.py pins numFiles == survivors < total via SparkPlan
# metrics.

_MANIFEST_FILES = 16


@register(
    "scan_pruning_manifest",
    tags=("io", "layout", "maintenance"),
    oracle=f"""
SELECT CAST(count(*) AS BIGINT)           AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT)    AS key_sum,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                                          AS price_units
FROM orders
WHERE o_custkey BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}
""",
)
def scan_pruning_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned band read over the clustered rewrite (module
    comment above): commit clustered with write-time stats, prune the
    file list driver-side (``LogView.prune``), scan ONLY the surviving
    files with the band predicate re-applied (manifest pruning is
    necessarily conservative — files are kept on interval OVERLAP, so the
    residual filter stays).  Same oracle as scan_pruning_clustered — the
    two keys prove the two skipping tiers return identical answers."""
    import tempfile

    root = tempfile.mkdtemp(prefix="manifest_")
    log = SnapshotLog(root)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v = log.commit(
        orders.repartitionByRange(_MANIFEST_FILES, "o_custkey"),
        note="clustered",
        stats_cols=["o_custkey"],
    )
    survivors = log.view().prune(v, {"o_custkey": (_PRUNE_LO, _PRUNE_HI)})
    band = log.read_files(spark, v, survivors).where(
        F.col("o_custkey").between(_PRUNE_LO, _PRUNE_HI)
    )
    out = band.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("bigint")
        .alias("price_units"),
    )
    return materialize_then_rmtree(out, root)


# ---- POSITIONAL deletion vectors ------------------------------------------------
#
# The second MoR delete shape: table_delete_mor's sidecar holds KEYS
# (Iceberg equality deletes), which requires the table to have one.
# Position deletes (Iceberg positional / Delta deletion vectors proper)
# identify rows by (file_path, row_index) instead — the only shape that
# works for keyless or duplicate-bearing tables, and the one engines
# favor because the read side needs no value comparison.  Spark
# expresses it natively: `_metadata.file_path` + `_metadata.row_index`
# give every scanned row its stable physical address, the delete writes
# those addresses as the sidecar, and the MoR read anti-joins the
# address columns.  The fixture's lineitem carries duplicate
# (non-unique) content rows by construction at small scales, so the
# key-based shape genuinely cannot express this delete.

_POS_MOD = 11  # cohort: every 11th physical row of each file


@register(
    "table_delete_mor_positional",
    tags=("io", "maintenance", "join", "dimensional"),
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
  FROM orders
),
kept AS (SELECT * FROM base WHERE rn % {_POS_MOD} != 0),
audit AS (
  SELECT CAST(count(*) AS BIGINT)         AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT)  AS key_sum,
         CAST(sum(o_custkey) AS BIGINT)   AS cust_sum
  FROM kept
)
SELECT 'mor' AS path, n_rows, key_sum, cust_sum FROM audit
UNION ALL
SELECT 'cow', n_rows, key_sum, cust_sum FROM audit
""",
)
def table_delete_mor_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-delete MoR: base written as ONE globally-ordered file
    (orderBy o_orderkey -> coalesce(1)) so each row's (file, row_index)
    address is deterministic and the oracle can replay the cohort as
    `row_number() - 1 over the same order`; the delete sidecar stores
    ADDRESSES ((file_path, row_index) of every _POS_MOD-th physical
    row), the MoR read anti-joins the address columns, and compaction
    reconciles copy-on-write.  Single-file layout is the determinism
    device for the oracle, not the production shape — at scale the
    address recipe is identical per file and the sidecar partitions by
    file_path.  Row-for-row MoR==CoW and the broadcast-anti plan are
    pinned in tests/test_round9.py.  Snapshot plumbing lives in
    operators/table_format.py since round 10 (base/sidecar/compacted are
    log commits v0..v2)."""
    import tempfile

    root = tempfile.mkdtemp(prefix="morpos_")
    log = SnapshotLog(root)
    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    log.commit(src.orderBy("o_orderkey").coalesce(1), note="base (1 ordered file)")
    addressed = log.read(spark, 0).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("ri"),
        "o_orderkey",
        "o_custkey",
    )
    # the delete: physical addresses only — no content comparison anywhere
    log.commit(
        addressed.where(F.col("ri") % _POS_MOD == 0).select("f", "ri"),
        note="delete-sidecar (positions)",
    )
    sidecar = log.read(spark, 1)
    mor_view = addressed.join(F.broadcast(sidecar), ["f", "ri"], "left_anti")

    log.commit(mor_view.select("o_orderkey", "o_custkey"), note="compacted")
    cow = log.read(spark, 2)

    def audit(df: DataFrame, path: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        ).select(F.lit(path).alias("path"), "n_rows", "key_sum", "cust_sum")

    out = audit(mor_view, "mor").unionByName(audit(cow, "cow"))
    return materialize_then_rmtree(out, root)


# ---- content-defined chunking (CDC) dedup ----------------------------------------
#
# The chunk-granularity member of the dedup family (exact checksums catch
# whole-document copies; winnowing/dup-spans catch local overlaps by
# fingerprint SAMPLES; CDC catches SHARED SPANS EXACTLY, at chunk
# granularity): cut every document at content-defined boundaries —
# positions whose k-gram hash is 0 mod D, the gear/rabin rule backup
# dedup and LLM exact-substring pipelines use — so an insertion early in
# a document shifts at most one chunk instead of re-aligning everything
# (the fatal flaw of fixed-width chunking).  Boundaries are PURELY LOCAL
# (no min/max chunk-size state), which is what makes the pass
# embarrassingly parallel: per-doc chunking is a projection, and the
# cross-corpus dedup is one groupBy(chunk) + one posting-list join —
# never all-pairs.  Production at 100 TB hashes chunks to fixed width
# (xxhash64) before the shuffle; the registry key keeps raw chunk
# strings so the DuckDB oracle replays identity exactly.

_CDC_K = 8  # boundary k-gram
_CDC_D = 32  # divisor -> expected chunk length ~D chars


def _cdc_oracle_tail() -> str:
    """The hash-independent suffix of the CDC oracle: cuts -> chunks ->
    cross-doc frequency -> per-doc audit.  Both hash flavors feed it from
    a ``bnd(doc_id, i)`` CTE of boundary positions."""
    return """cuts AS (
  SELECT d.doc_id, d.text,
         list_sort(list_distinct(
           [1]
           || coalesce(list(b.i) FILTER (WHERE b.i IS NOT NULL), [])
           || [len(d.text) + 1]
         )) AS c
  FROM docs2 d LEFT JOIN bnd b USING (doc_id)
  GROUP BY d.doc_id, d.text
),
chunks AS (
  SELECT doc_id, substr(text, c[j.j], c[j.j + 1] - c[j.j]) AS chunk
  FROM cuts, UNNEST(generate_series(1, len(c) - 1)) j(j)
),
freq AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT)                                   AS n_chunks,
       CAST(count(*) FILTER (f.nd >= 2) AS BIGINT)                AS dup_chunks,
       CAST(coalesce(sum(len(c.chunk)) FILTER (f.nd >= 2), 0) AS BIGINT)
                                                                  AS dup_chars,
       CAST(sum(len(c.chunk)) AS BIGINT)                          AS total_chars
FROM chunks c JOIN freq f USING (chunk)
GROUP BY c.doc_id
"""


def _cdc_body(spark: SparkSession, sf_dir: str, hash_fn) -> DataFrame:
    return cdc_chunk_stats_df(table(spark, sf_dir, "documents"), hash_fn)


def cdc_chunk_stats_df(docs: DataFrame, hash_fn) -> DataFrame:
    """The shared CDC dataflow with the boundary hash as the knob
    (operators/text.hash64 = md5, oracled directly; fast_hash64 =
    xxhash64, oracled via the XXH64 128-bit SQL replay since the grams
    are exactly 8 ASCII chars).  Df-level so bench.py's analytics decade
    sweep can run it over generated corpora."""
    docs = docs.where(F.length("text") >= 1)
    n = F.length("text") - (_CDC_K - 1)
    boundaries = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(2), F.greatest(n, F.lit(2))),
            lambda i: F.pmod(
                hash_fn(F.substring("text", i, F.lit(_CDC_K))), F.lit(_CDC_D)
            )
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.array(F.lit(1)),
                boundaries,
                F.array(F.length("text") + 1),
            )
        )
    )
    # bind cuts as a COLUMN before the chunk transform references it 3x —
    # inlining the expression would re-run the whole per-position hash
    # boundary scan per element_at (measured 11x slowdown, 21.6s -> 1.95s);
    # the multi-use alias keeps CollapseProject from re-inlining it
    with_cuts = docs.select("doc_id", "text", cuts.alias("cuts"))
    c = F.col("cuts")
    chunked = with_cuts.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(c) - 1),
                lambda j: F.substring(
                    "text",
                    F.element_at(c, j),
                    F.element_at(c, j + 1) - F.element_at(c, j),
                ),
            )
        ).alias("chunk"),
    )
    freq = chunked.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = F.col("nd") >= 2
    return (
        chunked.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias("dup_chunks"),
            F.sum(F.when(dup, F.length("chunk")).otherwise(0))
            .cast("bigint")
            .alias("dup_chars"),
            F.sum(F.length("chunk")).cast("bigint").alias("total_chars"),
        )
    )


@register(
    "dedup_cdc_chunks",
    tags=("llm", "dedup", "text"),
    oracle=f"""
WITH docs2 AS (SELECT doc_id, text FROM documents WHERE len(text) >= 1),
bnd AS (
  SELECT doc_id, p.i AS i
  FROM docs2, UNNEST(generate_series(2, len(text) - {_CDC_K - 1})) p(i)
  WHERE (CAST(('0x' || substr(md5(substr(text, p.i, {_CDC_K})), 1, 15)) AS BIGINT)
         % {_CDC_D}) = 0
),
{_cdc_oracle_tail()}
""",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document chunk-duplication audit under gear-style CDC (module
    comment): chunk every doc at hash64(k-gram) % D == 0 boundaries,
    count cross-document duplicate chunks and the characters they cover.
    Chunk coverage is exact and total (sum of chunk lengths == doc
    length, pinned in tests/test_round9.py along with shift-resistance:
    prepending a sentence to a doc leaves its tail chunks identical)."""
    from experiments_datafusion_spark.operators.text import hash64

    return _cdc_body(spark, sf_dir, hash64)


def _cdc_fast_oracle() -> str:
    from experiments_datafusion_spark.oracle_xxhash import xxh64_8byte_ctes

    return f"""
WITH docs2 AS (SELECT doc_id, text FROM documents WHERE len(text) >= 1),
g AS (
  SELECT doc_id, p.i AS i, substr(text, p.i, {_CDC_K}) AS gram
  FROM docs2, UNNEST(generate_series(2, len(text) - {_CDC_K - 1})) p(i)
),
{xxh64_8byte_ctes("g", "gram")},
-- MATERIALIZED barrier: without it DuckDB pushes bnd's filter INTO the
-- 8-level replay chain and the h-expression inlines multiplicatively
-- (planner blow-up measured as an OOM at 50 docs); the winnowing twin
-- is protected by its window function, this one needs the barrier
xxm AS MATERIALIZED (SELECT doc_id, i, h FROM xxf),
bnd AS (
  SELECT doc_id, i FROM xxm WHERE ((h % {_CDC_D}) + {_CDC_D}) % {_CDC_D} = 0
),
{_cdc_oracle_tail()}
"""


@register(
    "dedup_cdc_chunks_fast",
    tags=("llm", "dedup", "text"),
    oracle=_cdc_fast_oracle(),
)
def dedup_cdc_chunks_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION side of the CDC hash knob: boundaries from
    xxhash64 (JVM intrinsic, stays in whole-stage codegen) instead of
    the md5-derived portable hash.  Different hash -> different (equally
    valid) boundary set, so this is NOT pinned equal to the md5 key;
    it is fully value-verified on its own because the boundary grams
    are exactly {_CDC_K} ASCII characters — the case oracle_xxhash.py's
    128-bit-arithmetic XXH64 replay covers (its second user after
    docs_winnowing_fast; the all-ASCII fixture precondition is pinned in
    tests/test_oracle_xxhash.py)."""
    from experiments_datafusion_spark.operators.text import fast_hash64

    return _cdc_body(spark, sf_dir, fast_hash64)



# ---- streaming CDC upsert as a registry key --------------------------------------


@register(
    "ev_stream_upsert",
    tags=("streaming", "events", "maintenance"),
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS events_seen,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_sum
FROM events
GROUP BY user_id
""",
)
def ev_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-style MERGE, driver-verified end to end: the fixture
    events are replayed as a 3-file stream (availableNow +
    maxFilesPerTrigger=1 -> 3 micro-batches, so the per-batch
    aggregate -> bucket-pruned full-outer merge -> touched-bucket swap
    path genuinely runs 3 incremental merges; since round 10 the serving
    table is hash-bucketed and each batch rewrites ONLY touched buckets —
    tests/test_round10.py pins untouched buckets byte-identical), and the
    FINAL SERVING TABLE is read back and
    compared against the one-shot batch aggregate the oracle computes
    from raw events.  Accumulation uses exact integer cents
    (streaming/pipelines.stream_upsert_totals integer_units mode) so the
    composed state is batching-order-independent — any micro-batch split
    must produce the identical table, which is the MERGE correctness
    property this key pins at driver level (tests/test_streaming.py pins
    the float flavor stream==batch; this key is the oracled twin)."""
    import tempfile

    from experiments_datafusion_spark.streaming.pipelines import (
        stream_upsert_totals,
    )

    root = tempfile.mkdtemp(prefix="evups_")
    ev = table(spark, sf_dir, "events")
    ev.repartition(3).write.mode("overwrite").parquet(f"{root}/src")
    schema = spark.read.parquet(f"{root}/src").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{root}/src")
    )
    q = stream_upsert_totals(src, f"{root}/state", integer_units=True)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ev_stream_upsert: availableNow stream did not drain in 300s — "
            "the serving table would be a partial state, not a wrong answer"
        )
    out = spark.read.parquet(f"{root}/state").select(
        "user_id",
        F.col("events_seen").cast("bigint").alias("events_seen"),
        F.col("value_sum").cast("bigint").alias("value_sum"),
    )
    return materialize_then_rmtree(out, root)


# ---- snapshot reconciliation (table diff) ----------------------------------------
#
# The anti-entropy audit every replicated/lakehouse deployment runs: given
# two snapshots of the same logical table (replica vs primary, pre- vs
# post-migration, v0 vs v1), report what changed — rows added, removed,
# and modified — WITHOUT shipping either table anywhere: one full-outer
# join on the key comparing a content hash of the non-key columns.  At
# 100 TB both sides hash down to (key, content_hash) projections before
# the shuffle, so the network cost is two slim columns, and the join is
# the standard co-partitioned SMJ.  The replica is the primary under
# DETERMINISTIC DRIFT (dropped keys, corrupted payloads, extra keys), so
# every diff class is non-vacuously exercised at every scale — the
# honest anti-entropy scenario, unlike a v0-vs-v1 cutover diff where
# 'removed' is structurally unreachable (v1's keys always superset v0's).

_DIFF_DROP = 13  # replica lost every 13th key        -> 'removed'
_DIFF_CORRUPT = 11  # every 11th key's payload drifted -> 'modified'
_DIFF_GHOST = 100_000_000  # replica-only ghost key offset -> 'added'
_DIFF_GHOSTS = 7


@register(
    "table_diff_reconcile",
    tags=("io", "maintenance", "dimensional", "join"),
    oracle=f"""
WITH primary_t AS (
  SELECT o_custkey AS k, o_orderstatus AS status,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
  FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
),
replica AS (
  SELECT k,
         status,
         CASE WHEN k % {_DIFF_CORRUPT} = 0 THEN price_c + 1 ELSE price_c END
           AS price_c
  FROM primary_t WHERE k % {_DIFF_DROP} != 0
  UNION ALL
  SELECT {_DIFF_GHOST} + g.g, 'X', CAST(g.g AS BIGINT)
  FROM UNNEST(generate_series(1, {_DIFF_GHOSTS})) g(g)
),
d AS (
  SELECT coalesce(r.k, p.k) AS k,
         CASE WHEN p.k IS NULL THEN 'added'
              WHEN r.k IS NULL THEN 'removed'
              WHEN p.status = r.status AND p.price_c = r.price_c
                THEN 'unchanged'
              ELSE 'modified' END AS change
  FROM primary_t p FULL OUTER JOIN replica r ON p.k = r.k
)
SELECT change,
       CAST(count(*) AS BIGINT)  AS n,
       CAST(sum(k) AS BIGINT)    AS key_sum
FROM d GROUP BY change
""",
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / reconciliation audit (module comment): primary and
    drifted replica are materialized as immutable snapshots, then diffed
    by one full-outer join over (key, content-hash-of-payload)
    projections — added / removed / modified / unchanged counts plus a
    key checksum per class, which the oracle recomputes from raw orders
    plus the same drift rules.  The content comparison goes through
    xxhash64 of the payload columns on the Spark side (what a production
    reconciler ships over the wire) — equality of hashes is compared,
    never the hash values themselves, so the md5 oracle-side divergence
    never surfaces and the key stays fully value-verified.  All four
    classes non-empty at every scale (tests/test_round9.py)."""
    import tempfile

    root = tempfile.mkdtemp(prefix="tdiff_")
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    primary = (
        orders.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_c"),
        )
    )
    ghosts = spark.range(1, _DIFF_GHOSTS + 1).select(
        (F.lit(_DIFF_GHOST) + F.col("id")).alias("k"),
        F.lit("X").alias("status"),
        F.col("id").cast("long").alias("price_c"),
    )
    replica = (
        primary.where(F.col("k") % _DIFF_DROP != 0)
        .select(
            "k",
            "status",
            F.when(
                F.col("k") % _DIFF_CORRUPT == 0, F.col("price_c") + 1
            ).otherwise(F.col("price_c")).alias("price_c"),
        )
        .unionByName(ghosts)
    )
    log = SnapshotLog(root)
    log.commit(primary, note="primary")
    log.commit(replica, note="drifted replica")

    def slim(version):
        # the reconciler's wire format: (key, content hash) only
        return log.read(spark, version).select(
            "k", F.xxhash64("status", "price_c").alias("h")
        )

    v0, v1 = slim(0).alias("v0"), slim(1).alias("v1")
    d = v0.join(v1, F.col("v0.k") == F.col("v1.k"), "full_outer").select(
        F.coalesce(F.col("v1.k"), F.col("v0.k")).alias("k"),
        F.when(F.col("v0.k").isNull(), "added")
        .when(F.col("v1.k").isNull(), "removed")
        .when(F.col("v0.h") == F.col("v1.h"), "unchanged")
        .otherwise("modified")
        .alias("change"),
    )
    out = d.groupBy("change").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
    )
    return materialize_then_rmtree(out, root)
