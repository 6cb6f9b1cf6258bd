"""Round-13 tests — the five ADVICE r12 fixes, pinned:

1. timestamp resolution (``SnapshotLog.view().resolve(ts=...)``) skips
   staged (WAP) entries, so a timestamp landing between a stage and its
   publish resolves to the newest PUBLISHED version (staged snapshots
   stay invisible on every path);
2. the snaplog sink's default appId derives from the query's
   checkpointLocation instead of a shared constant — two pipelines on
   one table without explicit appIds no longer collide on batchId
   (which silently dropped the later pipeline's batches);
3. ``commit_append_files`` on a legacy log whose tip lacks ``txns``
   promotes the newest recorded map instead of seeding from ``{}`` —
   older apps' replay records survive a pre-carry-rule maintenance
   commit interposed at the tip;
4. batch readChangeFeed declares the schema of entries[endingVersion],
   not the published head — an evolve AFTER the range's end no longer
   makes the declared DDL disagree with the emitted batches;
5. legitimately empty results (zero-file version; CDF range with no
   published changes) return empty DataFrames instead of raising, the
   Delta behavior orchestration over quiet tables relies on.

Plus the two r12-verdict API-parity closures:

6. batch ``readChangeFeed`` over a REWRITE-bearing range falls back from
   the manifests-only fast path to a bounded single-task row diff —
   compaction diffs empty, deletes emit ``delete`` rows, updates emit
   ``update_preimage``/``update_postimage`` pairs under ``cdfKey`` —
   refusing only past ``maxDiffBytes``;
7. ``schemaTracking=true`` streams id-mapped OLD-generation files of a
   log that carries column ids (rename/widen/NULL-backfill
   executor-side); a mid-stream evolve still fails loudly and a restart
   re-declares.
"""

from __future__ import annotations

import os

import pytest

from experiments_datafusion_spark.operators.table_format import (
    SnapshotLog,
    append_once,
    commit_staged,
    publish_staged,
)
from experiments_datafusion_spark.sources import register_sources


# ---- 1. timestampAsOf skips staged entries -------------------------------------------


def test_timestamp_resolution_skips_staged(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit_append(spark.range(4), note="v0")
    sv = commit_staged(log, spark.range(100, 104), note="staged v1")
    pv = publish_staged(log, sv)
    for v, ts in ((0, 10.0), (sv, 20.0), (pv, 30.0)):
        log.stamp_ts(v, ts)
    view = log.view()
    # between stage and publish: the staged snapshot must stay invisible
    assert view.resolve(ts=25.0) == 0
    assert view.resolve(ts=20.0) == 0  # exactly at the stage stamp
    assert view.resolve(ts=30.0) == pv
    with pytest.raises(ValueError, match="no version"):
        view.resolve(ts=5.0)


def test_batch_timestamp_as_of_skips_staged(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="v0")
    sv = commit_staged(log, spark.range(100, 104), note="staged")
    pv = publish_staged(log, sv)
    for v, ts in ((0, 10.0), (sv, 20.0), (pv, 30.0)):
        log.stamp_ts(v, ts)
    got = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("timestampAsOf", "25.0")
        .load()
    )
    # the published v0 snapshot, NOT the staged batch-only file list
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]


# ---- 2. sink appId derived per-query --------------------------------------------------


def test_sink_appid_derivation_rules(spark, tmp_path):
    from experiments_datafusion_spark.sources.snaplog_source import (
        _SnapLogStreamWriter,
    )

    schema = spark.range(1).schema
    root = str(tmp_path / "t")
    # explicit appId wins
    w = _SnapLogStreamWriter({"path": root, "appid": "mine"}, schema)
    assert w.app_id == "mine"
    # derived from checkpointLocation: stable per checkpoint, distinct
    # across checkpoints
    a1 = _SnapLogStreamWriter(
        {"path": root, "checkpointlocation": "/ck/alpha"}, schema
    ).app_id
    a2 = _SnapLogStreamWriter(
        {"path": root, "checkpointlocation": "/ck/alpha"}, schema
    ).app_id
    b = _SnapLogStreamWriter(
        {"path": root, "checkpointlocation": "/ck/beta"}, schema
    ).app_id
    assert a1 == a2 and a1 != b and a1.startswith("snaplog-sink-")
    # neither: loud refusal, never a shared constant
    with pytest.raises(ValueError, match="appId"):
        _SnapLogStreamWriter({"path": root}, schema)


def test_two_default_appid_sinks_do_not_collide(spark, tmp_path):
    """The ADVICE r12 #2 data-loss scenario: two pipelines, NO explicit
    appId, one table.  With the derived default every batch of both
    lands; with the old shared constant the later pipeline's batches
    were silently treated as replays (and their files deleted)."""
    register_sources(spark)
    root = str(tmp_path / "t")
    srcs = {}
    for app, lo in (("A", 0), ("B", 100)):
        src = str(tmp_path / f"src{app}")
        spark.range(lo, lo + 6).select("id").repartition(2).write.parquet(src)
        srcs[app] = src
    schema = spark.read.parquet(srcs["A"]).schema
    queries = [
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(srcs[app])
            .writeStream.format("snaplog")
            .option("path", root)  # NOTE: no appId on purpose
            .option("checkpointLocation", str(tmp_path / f"chk{app}"))
            .trigger(availableNow=True)
            .start()
        )
        for app in ("A", "B")
    ]
    for q in queries:
        assert q.awaitTermination(240)
    log = SnapshotLog(root)
    assert sorted(r.id for r in log.read(spark).collect()) == sorted(
        list(range(6)) + list(range(100, 106))
    )
    txns = log.entry(log.latest_version())["txns"]
    assert len(txns) == 2  # two distinct derived appIds, both ledgers live


# ---- 3. legacy-log txn promotion ------------------------------------------------------


def test_legacy_tip_without_txns_promotes_older_records(spark, tmp_path):
    """A pre-round-12 log shape: append_once recorded a txn map, then a
    legacy maintenance commit (no ``txns`` key) took the tip.  The next
    txn commit must PROMOTE the old map into its entry — seeding from the
    bare parent would shadow app A's record and let its replayed batch
    re-commit (duplicate rows)."""
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    v0 = append_once(log, spark.range(4), app_id="A", txn_version=7)
    assert log.entry(v0)["txns"] == {"A": [7, v0]}
    # legacy maintenance commit: same files, NO txns key (written by hand
    # the way a pre-carry-rule writer would have)
    e = log.entry(v0)
    log._publish(
        v0 + 1,
        {
            "version": v0 + 1,
            "note": "legacy compaction (no txns)",
            "kind": "compacted",
            "schema": e["schema"],
            "files": e["files"],
        },
    )
    assert "txns" not in log.entry(v0 + 1)
    # a NEW app commits through the tip: A's record must be promoted
    v2 = append_once(log, spark.range(10, 13), app_id="B", txn_version=0)
    tip = log.entry(v2)["txns"]
    assert tip == {"A": [7, v0], "B": [0, v2]}
    # and A's replayed batch is still a no-op answered from the tip
    assert append_once(log, spark.range(99), app_id="A", txn_version=7) == v0
    assert log.latest_version() == v2


def test_parent_txns_walkback_only_for_legacy_tips(spark, tmp_path):
    """Post-carry-rule logs never pay the walk: the tip holds the map."""
    log = SnapshotLog(str(tmp_path / "t"))
    append_once(log, spark.range(3), app_id="A", txn_version=0)
    log.compact(spark, target_file_bytes=1 << 30)
    # tip (the compaction) carries txns -> _parent_txns is one entry read
    assert log._parent_txns(log.latest_version()) == {"A": [0, 0]}


def test_txnless_append_reads_one_entry(tmp_path, monkeypatch):
    """A table that never recorded a txn map still records an empty one
    on every commit, so an append reads its parent's entry and never
    walks the log looking for a legacy record."""
    log = SnapshotLog(str(tmp_path / "t"))
    schema = [["id", "bigint", True]]
    for v in range(200):
        log.commit_append_files([{"path": f"/nowhere/{v}.parquet", "size": 1}], schema)
    calls = {"entry": 0, "_entries": 0}
    real_entry, real_entries = SnapshotLog.entry, SnapshotLog._entries

    def counting_entry(self, version):
        calls["entry"] += 1
        return real_entry(self, version)

    def counting_entries(self, versions=None):
        calls["_entries"] += 1
        return real_entries(self, versions)

    monkeypatch.setattr(SnapshotLog, "entry", counting_entry)
    monkeypatch.setattr(SnapshotLog, "_entries", counting_entries)
    v = log.commit_append_files([{"path": "/nowhere/200.parquet", "size": 1}], schema)
    assert calls == {"entry": 1, "_entries": 0}  # the parent entry only
    assert v == 200 and log.entry(v)["txns"] == {}


def test_log_walks_parse_the_checkpoint_once(tmp_path, monkeypatch):
    """Per-version walks over a checkpointed log parse the checkpoint
    once per walk, not once per version it holds — each walk stays
    O(versions + checkpoint), not O(versions x checkpoint) — and
    ``live_files(versions)``, what ``vacuum(keep)`` resolves, reads only
    the kept entries: keeping the tip of a long log costs one entry read,
    and the checkpoint is parsed only when it holds a kept version."""
    log = SnapshotLog(str(tmp_path / "t"))

    def publish(v):
        log._publish(
            v,
            {
                "version": v,
                "note": "",
                "files": [{"path": f"/nowhere/{v}.parquet", "size": 1}],
                **({"txns": {"A": [0, 0]}} if v == 0 else {}),
            },
        )

    for v in range(30):
        publish(v)
    calls = {"entry": 0, "checkpoint": 0}
    real_entry, real_cp = SnapshotLog.entry, SnapshotLog._checkpoint

    def counting_entry(self, version):
        calls["entry"] += 1
        return real_entry(self, version)

    def counting_cp(self):
        calls["checkpoint"] += 1
        return real_cp(self)

    monkeypatch.setattr(SnapshotLog, "entry", counting_entry)
    monkeypatch.setattr(SnapshotLog, "_checkpoint", counting_cp)
    assert log.live_files([29]) == {"/nowhere/29.parquet"}
    assert calls == {"entry": 1, "checkpoint": 0}
    log.checkpoint()
    calls.update(entry=0, checkpoint=0)
    assert log.live_files() == {f"/nowhere/{v}.parquet" for v in range(30)}
    assert calls["checkpoint"] == 1
    calls["checkpoint"] = 0
    assert log._parent_txns(29) == {"A": [0, 0]}  # legacy walk-back
    assert calls["checkpoint"] <= 2
    publish(30)
    calls.update(entry=0, checkpoint=0)
    assert log.live_files([30]) == {"/nowhere/30.parquet"}
    assert calls == {"entry": 1, "checkpoint": 0}
    calls.update(entry=0, checkpoint=0)
    assert log.live_files([3, 30]) == {"/nowhere/3.parquet", "/nowhere/30.parquet"}
    assert calls == {"entry": 1, "checkpoint": 1}
    with pytest.raises(FileNotFoundError):
        log.live_files([31])
    calls["checkpoint"] = 0
    log.checkpoint()
    assert calls["checkpoint"] == 1


# ---- 4. CDF schema resolves from endingVersion ----------------------------------------


def test_cdf_schema_matches_ending_version_after_later_evolve(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_columns(
        spark.createDataFrame([(1, 10), (2, 20)], "k bigint, price_c int"),
        [(1, "k", "bigint"), (2, "price_c", "int")],
        note="v0",
    )
    log.evolve(
        [(1, "k", "bigint"), (2, "amount_c", "bigint")], note="v1 rename+widen"
    )
    log.commit_append(
        spark.createDataFrame([(3, 30)], "k bigint, amount_c bigint"), note="v2"
    )
    for v in log.versions():
        log.stamp_ts(v, 10.0 * (v + 1))
    got = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("endingVersion", "0")
        .load()
    )
    # declared DDL = v0's columns (price_c int), NOT the evolved head's
    assert got.columns == ["k", "price_c", "_change_type", "_commit_version"]
    rows = sorted((r.k, r.price_c, r._change_type, r._commit_version) for r in got.collect())
    assert rows == [(1, 10, "insert", 0), (2, 20, "insert", 0)]
    # timestampAsOf resolves v0, so it must declare v0's schema too
    as_of = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("timestampAsOf", "15.0")
        .load()
    )
    assert as_of.columns == ["k", "price_c", "_commit_version"]
    assert sorted((r.k, r.price_c, r._commit_version) for r in as_of.collect()) == [
        (1, 10, 0),
        (2, 20, 0),
    ]


# ---- 5. empty results are empty, not errors -------------------------------------------


def test_batch_read_of_emptied_table_returns_zero_rows(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="v0")
    e = log.entry(0)
    # a delete-only rewrite that emptied the table: zero-file manifest
    log._publish(
        1,
        {
            "version": 1,
            "note": "delete * (table emptied)",
            "kind": "data",
            "schema": e["schema"],
            "files": [],
        },
    )
    got = spark.read.format("snaplog").option("path", root).load()
    assert got.count() == 0
    assert got.columns == ["id", "_commit_version"]  # schema still declared


def test_cdf_empty_range_returns_zero_rows(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="v0")
    log.commit_append(spark.range(4, 7), note="v1")
    got = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")  # beyond the head: quiet table
        .load()
    )
    assert got.count() == 0
    assert got.columns == ["id", "_change_type", "_commit_version"]


# ---- 6. reader-API CDF over rewrite-bearing ranges -------------------------------------


def _cdf(spark, root, start=0, **options):
    reader = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(start))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def test_cdf_compaction_version_emits_no_changes(spark, tmp_path):
    """A compaction rewrites the layout, not the rows — its CDF is empty
    (the old reader refused the whole range here)."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="v0")
    log.commit_append(spark.range(4, 8), note="v1")
    log.compact(spark, target_file_bytes=1 << 30)  # v2: removes + re-adds
    got = _cdf(spark, root).collect()
    rows = sorted((r.id, r._change_type, r._commit_version) for r in got)
    assert rows == [(i, "insert", 0 if i < 4 else 1) for i in range(8)]


def test_cdf_delete_rewrite_emits_delete_rows(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    v0 = log.commit_append(spark.range(8), note="v0")
    kept = spark.range(8).where("id NOT IN (2, 5)")
    log.commit_rewrite(
        kept, keep_files=[], removed_files=log.live_files([v0]), note="delete 2,5"
    )
    got = _cdf(spark, root, start=1).collect()
    rows = sorted((r.id, r._change_type, r._commit_version) for r in got)
    assert rows == [(2, "delete", 1), (5, "delete", 1)]


def test_cdf_update_rewrite_with_cdfkey_emits_image_pairs(spark, tmp_path):
    import pyspark.sql.functions as F

    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    base = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    v0 = log.commit_append(base, note="v0")
    updated = base.withColumn(
        "val", F.when(F.col("k") == 3, F.lit(999)).otherwise(F.col("val"))
    )
    log.commit_rewrite(
        updated, keep_files=[], removed_files=log.live_files([v0]), note="update k=3"
    )
    got = _cdf(spark, root, start=1, cdfKey="k").collect()
    rows = sorted((r.k, r.val, r._change_type, r._commit_version) for r in got)
    assert rows == [
        (3, 30, "update_preimage", 1),
        (3, 999, "update_postimage", 1),
    ]
    # without the key: same change, full-row multiset shape
    got2 = _cdf(spark, root, start=1).collect()
    rows2 = sorted((r.k, r.val, r._change_type) for r in got2)
    assert rows2 == [(3, 30, "delete"), (3, 999, "insert")]


def test_cdf_rewrite_past_maxdiffbytes_refuses(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    v0 = log.commit_append(spark.range(8), note="v0")
    log.commit_rewrite(
        spark.range(4),
        keep_files=[],
        removed_files=log.live_files([v0]),
        note="bulk rewrite",
    )
    with pytest.raises(Exception, match="maxDiffBytes"):
        _cdf(spark, root, start=1, maxDiffBytes="1").collect()


# ---- 7. schema-tracked evolved streaming ------------------------------------------------


def _evolving_fixture(spark, root):
    log = SnapshotLog(root)
    log.commit_columns(
        spark.createDataFrame([(1, 10), (2, 20)], "k bigint, price_c int"),
        [(1, "k", "bigint"), (2, "price_c", "int")],
        note="v0 old generation",
    )
    log.evolve(
        [(1, "k", "bigint"), (2, "amount_c", "bigint")], note="v1 rename+widen"
    )
    log.commit_append(
        spark.createDataFrame([(3, 30)], "k bigint, amount_c bigint"), note="v2"
    )
    return log


def test_stream_schematracking_drains_evolved_history(spark, tmp_path):
    """Opt-in id-mapped streaming over a log with column ids: older
    files surface renamed/widened to the declared (live) schema — the
    batch reader's semantics, now reachable as a backfill stream."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = _evolving_fixture(spark, root)
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        spark.readStream.format("snaplog")
        .option("path", root)
        .option("schemaTracking", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = spark.read.parquet(out)
    assert set(got.columns) == {"k", "amount_c", "_commit_version"}
    rows = sorted((r.k, r.amount_c) for r in got.collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]
    # stream vs batch reader parity on the same evolved history
    batch = spark.read.format("snaplog").option("path", root).load()
    assert rows == sorted((r.k, r.amount_c) for r in batch.collect())


def test_stream_default_still_refuses_old_generation(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    _evolving_fixture(spark, root)
    q = (
        spark.readStream.format("snaplog")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="schemaTracking"):
        q.awaitTermination(180)
        raise RuntimeError(str(q.exception()))


def test_stream_schematracking_mid_stream_evolve_fails_loudly(spark, tmp_path):
    """The declared schema is fixed at stream start; an evolve landing
    mid-stream must fail the NEXT microbatch plan, not emit wrong
    columns (a restart re-declares — Delta's restart rule)."""
    from experiments_datafusion_spark.sources.snaplog_source import (
        _SnapLogStreamReader,
    )

    root = str(tmp_path / "t")
    log = _evolving_fixture(spark, root)
    reader = _SnapLogStreamReader({"path": root, "schematracking": "true"})
    start = reader.initialOffset()
    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    # both generations admitted: v0's old-generation files carry an
    # id-mapped projection, v2's live-schema files don't
    assert {p.version for p in parts} == {0, 2}
    assert all(p.proj is not None for p in parts if p.version == 0)
    log.evolve(
        [(1, "k", "bigint"), (2, "amount_c", "bigint"), (3, "note_c", "string")],
        note="mid-stream evolve",
    )
    log.commit_append(
        spark.createDataFrame(
            [(9, 90, "x")], "k bigint, amount_c bigint, note_c string"
        ),
        note="post-evolve append",
    )
    end2 = _SnapLogStreamReader({"path": root, "schematracking": "true"}).latestOffset()
    with pytest.raises(ValueError, match="mid-stream"):
        reader.partitions(start, end2)


def test_stream_schematracking_needs_an_evolving_log(spark, tmp_path):
    from experiments_datafusion_spark.sources.snaplog_source import (
        _SnapLogStreamReader,
    )

    root = str(tmp_path / "t")
    SnapshotLog(root).commit_append(spark.range(4), note="plain table")
    with pytest.raises(ValueError, match="id-mapped"):
        _SnapLogStreamReader({"path": root, "schematracking": "true"})


# ---- 8. the sink's JVM fast path (snaplog_fast_sink) ------------------------------------


def _fast_sink_drain(spark, tmp_path, src, root, chk_name, app="pipe"):
    from experiments_datafusion_spark.sources.snaplog_source import (
        snaplog_fast_sink,
    )

    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(snaplog_fast_sink(root, app))
        .option("checkpointLocation", str(tmp_path / chk_name))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)


def test_fast_sink_exactly_once_and_restart(spark, tmp_path):
    """The foreachBatch fast path is exactly-once: a RE-RUN from the same
    checkpoint replays nothing, and a re-run from a FRESH checkpoint (the
    same batch ids arriving again) is deduped by the txn ledger with the
    replayed task files dropped — the sink protocol, through the JVM
    write job."""
    root = str(tmp_path / "t")
    src = str(tmp_path / "src")
    spark.range(12).select("id").repartition(3).write.parquet(src)
    _fast_sink_drain(spark, tmp_path, src, root, "chk1")
    log = SnapshotLog(root)
    assert sorted(r.id for r in log.read(spark).collect()) == list(range(12))
    n_versions = log.latest_version() + 1
    # same checkpoint: no new batches, nothing replays
    _fast_sink_drain(spark, tmp_path, src, root, "chk1")
    assert log.latest_version() + 1 == n_versions
    # fresh checkpoint, same appId: batch ids replay -> ledger no-ops,
    # no duplicate rows, and the orphan task files are gone
    _fast_sink_drain(spark, tmp_path, src, root, "chk2")
    assert sorted(r.id for r in log.read(spark).collect()) == list(range(12))
    assert log.latest_version() + 1 == n_versions
    live = {f["path"] for f in log.entry(log.latest_version())["files"]}
    ws = os.path.join(root, "ws")
    on_disk = {
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(ws)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk <= live  # every surviving task file is referenced


def test_fast_sink_and_writer_api_share_one_ledger(spark, tmp_path):
    """Switching a pipeline between the writer-API sink and the fast path
    (same appId) must keep exactly-once ACROSS the switch: batches the
    sink committed are replays to the fast path and vice versa."""
    from experiments_datafusion_spark.sources.snaplog_source import (
        snaplog_fast_sink,
    )

    register_sources(spark)
    root = str(tmp_path / "t")
    src = str(tmp_path / "src")
    spark.range(8).select("id").repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    # leg 1: the writer-API sink drains both batches
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("snaplog")
        .option("path", root)
        .option("appId", "shared-pipe")
        .option("checkpointLocation", str(tmp_path / "chkA"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    log = SnapshotLog(root)
    v_after_sink = log.latest_version()
    # leg 2: the fast path re-sees the SAME batch ids (fresh checkpoint,
    # same appId) -> all replays, zero new versions, zero duplicates
    _fast_sink_drain(spark, tmp_path, src, root, "chkB", app="shared-pipe")
    assert log.latest_version() == v_after_sink
    assert sorted(r.id for r in log.read(spark).collect()) == list(range(8))


def test_fast_sink_requires_app_id(spark, tmp_path):
    from experiments_datafusion_spark.sources.snaplog_source import (
        snaplog_fast_sink,
    )

    with pytest.raises(ValueError, match="app_id"):
        snaplog_fast_sink(str(tmp_path / "t"), "")


# ---- 9a. MJPEG-in-AVI ----------------------------------------------------------------------


def test_mjpeg_avi_roundtrip_property():
    """Any even-valued block-constant tile pattern round-trips bit-exactly
    through encode(JPEG frames) -> AVI container -> walk -> per-frame JPEG
    decode (the quantization-lossless regime), including single-frame and
    non-square grids."""
    import numpy as np

    from experiments_datafusion_spark.operators.multimodal import (
        _decode_avi_gray8,
        _encode_avi_gray8,
    )

    rng = np.random.default_rng(20260816)
    for _ in range(8):
        n = int(rng.integers(1, 5))
        nty = int(rng.integers(1, 5))
        ntx = int(rng.integers(1, 5))
        tiles = (2 * rng.integers(0, 128, size=(n, nty, ntx))).astype(np.uint8)
        frames = np.kron(tiles, np.ones((1, 8, 8), dtype=np.uint8))
        back = _decode_avi_gray8(_encode_avi_gray8(frames, comp=2))
        assert back.shape == frames.shape
        assert (back == frames).all()


def test_avi_interframe_codecs_still_gated():
    import struct

    from experiments_datafusion_spark.operators.multimodal import (
        _decode_avi_gray8,
        _encode_avi_gray8,
    )
    import numpy as np

    payload = _encode_avi_gray8(
        np.zeros((1, 8, 8), dtype=np.uint8), comp=0
    )
    # rewrite the strf biCompression to an H.264 FOURCC: must refuse loudly
    h264 = struct.pack("<I", int.from_bytes(b"H264", "little"))
    idx = payload.index(struct.pack("<IiiHH", 40, 8, 8, 1, 8))
    patched = payload[: idx + 16] + h264 + payload[idx + 20 :]
    with pytest.raises(NotImplementedError, match="inter-frame"):
        _decode_avi_gray8(patched)


# ---- 9c. compaction under the id mapping ---------------------------------------------------


def test_evolving_compact_preserves_rows_and_mapping(spark, tmp_path):
    """compact() on an id-mapped log must read THROUGH the id mapping
    and carry the live columns: a plain read silently NULLs renamed
    columns (union by NAME across generations) and an entry without
    'columns' fails the next read (KeyError) — the silent-corruption
    pair found by the round-13 probe."""
    import pyspark.sql.functions as F

    register_sources(spark)
    root = str(tmp_path / "t")
    log = _evolving_fixture(spark, root)  # v0 old gen, v1 evolve, v2 append
    v = log.compact(spark, target_file_bytes=1 << 30)
    assert "columns" in log.entry(v)
    assert all(f["schema_v"] == v for f in log.entry(v)["files"])
    rows = sorted((r.k, r.amount_c) for r in log.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]  # rename+widen survived
    # the reader API agrees post-OPTIMIZE
    got = spark.read.format("snaplog").option("path", root).load()
    assert rows == sorted((r.k, r.amount_c) for r in got.collect())
    # a FURTHER evolve + append + clustered compact still resolves
    log.evolve(
        [(1, "k", "bigint"), (2, "amount_c", "bigint"), (3, "tag_c", "string")],
        note="add tag_c",
    )
    log.commit_append(
        spark.createDataFrame([(4, 40, "x")], "k bigint, amount_c bigint, tag_c string"),
        note="post-evolve append",
    )
    v2 = log.compact(spark, target_file_bytes=1 << 30, sort_cols=["k"])
    rows2 = sorted(
        (r.k, r.amount_c, r.tag_c) for r in log.read(spark).collect()
    )
    assert rows2 == [(1, 10, None), (2, 20, None), (3, 30, None), (4, 40, "x")]
    assert all(f.get("cluster") == ["k"] for f in log.entry(v2)["files"])


def test_evolving_incremental_compact_keeps_generations(spark, tmp_path):
    """compact_incremental on an id-mapped log: carried cube files KEEP
    their original schema_v; the new cube lands at the live generation;
    rows resolve identically before and after."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    # v0 cube on the old schema -> evolve -> append -> incremental
    log = _id_mapped_log(spark, root)
    want = sorted((r.k, r.amount_c) for r in log.read(spark).collect())
    vi = log.compact_incremental(spark, sort_cols=["k"], target_file_bytes=1 << 30)
    got = sorted((r.k, r.amount_c) for r in log.read(spark).collect())
    assert got == want
    entry = log.entry(vi)
    assert "columns" in entry
    gens = {f["schema_v"] for f in entry["files"]}
    assert vi in gens  # the new cube is at the live generation


def _id_mapped_log(spark, root):
    log = SnapshotLog(root)
    log.commit_columns(
        spark.createDataFrame([(2, 20), (1, 10)], "k bigint, price_c int"),
        [(1, "k", "bigint"), (2, "price_c", "int")],
        note="v0",
    )
    log.compact(spark, target_file_bytes=1 << 30, sort_cols=["k"])
    log.evolve([(1, "k", "bigint"), (2, "amount_c", "bigint")], note="evolve")
    log.commit_append(
        spark.createDataFrame([(3, 30)], "k bigint, amount_c bigint"), note="append"
    )
    return log


# ---- 9d. the rest of the id-mapped composition surface --------------------------------


def test_evolving_rewrite_stamps_and_resolves(spark, tmp_path):
    """commit_rewrite on an id-mapped log: the
    rewritten files land at the live generation, kept files keep their
    schema_v, the entry carries the live columns — an entry without
    them fails the next read (KeyError)."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    log = _id_mapped_log(spark, root)  # cube at old gen + evolved append
    post = log.read(spark).where("k != 2")
    all_files = log.live_files([log.latest_version()])
    v = log.commit_rewrite(
        post, keep_files=[], removed_files=all_files, note="delete k=2"
    )
    assert "columns" in log.entry(v)
    assert all(f["schema_v"] == v for f in log.entry(v)["files"])
    rows = sorted((r.k, r.amount_c) for r in log.read(spark).collect())
    assert rows == [(1, 10), (3, 30)]
    # schema-mismatched rewrite refused before any write
    with pytest.raises(ValueError, match="mismatch"):
        log.commit_rewrite(
            spark.createDataFrame([(1, 1)], "k bigint, wrong_c bigint"),
            keep_files=[],
            removed_files=all_files,
        )


def test_evolving_wap_stage_publish_resolves(spark, tmp_path):
    root = str(tmp_path / "t")
    log = _id_mapped_log(spark, root)
    sv = commit_staged(
        log, spark.createDataFrame([(9, 90)], "k bigint, amount_c bigint")
    )
    # the staged snapshot resolves through the id mapping on the audit read
    assert sorted((r.k, r.amount_c) for r in log.read(spark, sv).collect()) == [
        (9, 90)
    ]
    pv = publish_staged(log, sv)
    assert "columns" in log.entry(pv)
    rows = sorted((r.k, r.amount_c) for r in log.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (3, 30), (9, 90)]
    # published head must never surface the staged version's bare files
    with pytest.raises(ValueError, match="mismatch"):
        commit_staged(
            log, spark.createDataFrame([(5, 50)], "k bigint, wrong_c bigint")
        )


def test_evolving_clone_refuses_mixed_then_clones_compacted(spark, tmp_path):
    from experiments_datafusion_spark.operators.table_format import clone_shallow

    root = str(tmp_path / "t")
    log = _id_mapped_log(spark, root)
    with pytest.raises(ValueError, match="mixed schema generations"):
        clone_shallow(log, str(tmp_path / "c1"))
    log.compact(spark, target_file_bytes=1 << 30)
    dst = clone_shallow(log, str(tmp_path / "c2"))
    assert dst.entry(0)["columns"] == log.entry(log.latest_version())["columns"]
    assert {f["schema_v"] for f in dst.entry(0)["files"]} == {0}
    rows = sorted((r.k, r.amount_c) for r in dst.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]
    # the clone is self-contained: it can evolve + append independently
    dst.evolve(
        [(1, "k", "bigint"), (2, "amount_c", "bigint"), (3, "n_c", "int")],
        note="clone diverges",
    )
    dst.commit_append(
        spark.createDataFrame([(7, 70, 1)], "k bigint, amount_c bigint, n_c int")
    )
    got = sorted((r.k, r.amount_c, r.n_c) for r in dst.read(spark).collect())
    assert got == [(1, 10, None), (2, 20, None), (3, 30, None), (7, 70, 1)]
    # source untouched
    assert sorted((r.k, r.amount_c) for r in log.read(spark).collect()) == rows


def test_evolving_checked_rewrite_aborts_on_concurrent_evolve(spark, tmp_path):
    """A checked rewrite racing an EVOLVE must abort loudly: its files
    were written under the pre-evolve names, so publishing would regress
    the schema (the DDL/data race Delta also refuses)."""
    from experiments_datafusion_spark.operators.table_format import (
        ConcurrentModification,
    )

    root = str(tmp_path / "t")
    log = _id_mapped_log(spark, root)
    e = log.entry(log.latest_version())
    all_paths = [f["path"] for f in e["files"]]
    df_new = log.read(spark).where("k != 1")

    def interpose(attempt):
        if attempt == 0:
            log.evolve(
                [(1, "k_renamed", "bigint"), (2, "amount_c", "bigint")],
                note="racing DDL",
            )

    with pytest.raises(ConcurrentModification, match="schema change"):
        log.commit_rewrite(
            df_new,
            keep_files=[],
            removed_files=all_paths,
            on_publish_attempt=interpose,
        )


def test_evolving_append_once_stamps_and_dedupes(spark, tmp_path):
    """append_once on an id-mapped log: the entry carries the live
    columns + generations, and the txn ledger still dedupes replays."""
    root = str(tmp_path / "t")
    log = _id_mapped_log(spark, root)
    v = append_once(
        log,
        spark.createDataFrame([(8, 80)], "k bigint, amount_c bigint"),
        app_id="A",
        txn_version=0,
    )
    assert "columns" in log.entry(v)
    rows = sorted((r.k, r.amount_c) for r in log.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (3, 30), (8, 80)]
    # replay: no-op, same rows
    assert append_once(
        log,
        spark.createDataFrame([(99, 990)], "k bigint, amount_c bigint"),
        app_id="A",
        txn_version=0,
    ) == v
    assert log.latest_version() == v
    assert sorted(
        (r.k, r.amount_c) for r in log.read(spark).collect()
    ) == rows


def test_evolving_restore_restores_schema_too(spark, tmp_path):
    """SnapshotLog.restore of an id-mapped log restores the target's
    COLUMN LIST along with its files (Delta RESTORE semantics) — a restore to a
    pre-rename version surfaces the old name again."""

    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_columns(
        spark.createDataFrame([(1, 10)], "k bigint, price_c int"),
        [(1, "k", "bigint"), (2, "price_c", "int")],
        note="v0",
    )
    log.evolve([(1, "k", "bigint"), (2, "amount_c", "bigint")], note="v1")
    log.commit_append(
        spark.createDataFrame([(2, 20)], "k bigint, amount_c bigint"), note="v2"
    )
    v = log.restore(0)
    got = log.read(spark)
    assert got.columns == ["k", "price_c"]  # the pre-evolve schema is back
    assert sorted((r.k, r.price_c) for r in got.collect()) == [(1, 10)]


def _evolved_rewrite_log(spark, root):
    import pyspark.sql.functions as F
    log = SnapshotLog(root)
    log.commit_columns(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k bigint, price_c int"),
        [(1, "k", "bigint"), (2, "price_c", "int")],
        note="v0 old generation",
    )
    log.evolve([(1, "k", "bigint"), (2, "amount_c", "bigint")], note="v1")
    log.commit_append(
        spark.createDataFrame([(4, 40)], "k bigint, amount_c bigint"), note="v2"
    )
    post = log.read(spark).withColumn(
        "amount_c",
        F.when(F.col("k") == 2, F.lit(999)).otherwise(F.col("amount_c")),
    )
    log.commit_rewrite(
        post,
        keep_files=[],
        removed_files=log.live_files([log.latest_version()]),
        note="v3 update k=2",
    )
    return log


def test_evolved_batch_cdf_over_rewrite_id_maps_preimages(spark, tmp_path):
    """Composition of the two round-13 reader features: a batch CDF range
    crossing a REWRITE on an EVOLVED table — the pre-image rows live in
    old-generation files (written as price_c int) and must surface in
    the END version's column space (amount_c bigint) through the
    id-mapped diff projection."""
    register_sources(spark)
    root = str(tmp_path / "t")
    _evolved_rewrite_log(spark, root)
    got = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("cdfKey", "k")
        .load()
    )
    rows = sorted(
        (r.k, r.amount_c, r._change_type, r._commit_version) for r in got.collect()
    )
    assert rows == [
        (2, 20, "update_preimage", 3),
        (2, 999, "update_postimage", 3),
        (4, 40, "insert", 2),
    ]


def test_cdf_stream_with_schema_tracking_drains_evolved_history(spark, tmp_path):
    """readChangeFeed + schemaTracking + skipChangeCommits compose: a
    backfill CDF stream over evolved history emits old-generation rows
    id-mapped with the CDF row shape, and skips the rewrite version."""
    register_sources(spark)
    root = str(tmp_path / "t")
    _evolved_rewrite_log(spark, root)
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        spark.readStream.format("snaplog")
        .option("path", root)
        .option("schemaTracking", "true")
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [
        (1, 10, "insert", 0),
        (2, 20, "insert", 0),
        (3, 30, "insert", 0),
        (4, 40, "insert", 2),
    ]


# ---- 9b. incremental OPTIMIZE metadata plumbing -------------------------------------------


def test_append_carries_stats_and_cluster_tags_verbatim(spark, tmp_path):
    """Appends and partial rewrites must carry settled files' write-time
    stats and cluster tags by reference — rebuilding {path, size} from
    the manifest silently un-clustered the table's METADATA on every
    ingest (found building compact_incremental)."""
    import pyspark.sql.functions as F

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(
        spark.range(64).select((F.col("id") % 8).alias("b"), "id"),
        note="base",
        stats_cols=["b"],
    )
    log.compact(spark, target_file_bytes=1024, sort_cols=["b"])  # v1 cube
    cube = {f["path"]: f for f in log.entry(1)["files"]}
    assert all(f.get("cluster") == ["b"] and "stats" in f for f in cube.values())
    v2 = log.commit_append(
        spark.range(100, 110).select((F.col("id") % 8).alias("b"), "id"),
        note="append",
    )
    carried = {f["path"]: f for f in log.entry(v2)["files"] if f["path"] in cube}
    assert carried == cube  # verbatim: stats + tag survive the append
    # partial rewrite keeping the cube: survives too
    new_df = spark.range(200, 204).select((F.col("id") % 8).alias("b"), "id")
    appended = sorted(log.live_files([v2]) - set(cube))
    v3 = log.commit_rewrite(
        new_df, keep_files=sorted(cube), removed_files=appended, note="rw"
    )
    carried3 = {f["path"]: f for f in log.entry(v3)["files"] if f["path"] in cube}
    assert carried3 == cube


def test_compact_incremental_argument_validation(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit_append(spark.range(4), note="v0")
    with pytest.raises(ValueError, match="exactly one"):
        log.compact_incremental(spark)
    with pytest.raises(ValueError, match="exactly one"):
        log.compact_incremental(spark, sort_cols=["id"], zorder_cols=["id"])


def test_compact_incremental_zorder_spec_is_distinct(spark, tmp_path):
    """A 1-D cube on [x] must NOT satisfy a z-order spec on [x, y] (and
    vice versa): the specs are distinct cube identities."""
    import pyspark.sql.functions as F

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(
        spark.range(64).select(
            (F.col("id") % 8).alias("x"), (F.col("id") % 4).alias("y")
        ),
        note="base",
    )
    log.compact(spark, target_file_bytes=1024, sort_cols=["x"])
    v = log.compact_incremental(
        spark, zorder_cols=["x", "y"], target_file_bytes=1024
    )
    assert v == log.latest_version()
    assert all(
        f.get("cluster") == ["z:x", "z:y"] for f in log.entry(v)["files"]
    )


# ---- 9. pure-SQL registration ------------------------------------------------------------


def test_register_snaplog_sql_pins_and_history(spark, tmp_path):
    from experiments_datafusion_spark.sources.snaplog_source import (
        register_snaplog_sql,
    )

    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="v0")
    log.stamp_ts(0, 10.0)
    sv = commit_staged(log, spark.range(100, 104), note="staged")
    v = register_snaplog_sql(spark, "sqlt", root, history=True)
    assert v == 0  # staged tip is NOT the published head
    # the view is a pinned snapshot: a later commit doesn't move it
    pv = publish_staged(log, sv)
    log.stamp_ts(pv, 30.0)
    assert spark.sql("SELECT count(*) AS n FROM sqlt").collect()[0].n == 4
    # history view: metadata rows for every entry, staged flagged
    hist = {
        r.version: (r.kind, r.is_published)
        for r in spark.sql("SELECT * FROM sqlt_history").collect()
    }
    assert hist[sv] == ("staged", False) and hist[0][1] is True
    # re-register advances to the new head; timestamp as-of resolves too
    assert register_snaplog_sql(spark, "sqlt", root) == pv
    assert spark.sql("SELECT count(*) AS n FROM sqlt").collect()[0].n == 8
    assert register_snaplog_sql(spark, "sqlt0", root, timestamp_as_of=15.0) == 0
    # staged versions refuse registration by number
    with pytest.raises(ValueError, match="staged"):
        register_snaplog_sql(spark, "sqlx", root, version_as_of=sv)
