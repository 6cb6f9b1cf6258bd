"""Round-12 tests: atomic SetTransaction commits (carried through every
commit kind), snaplog streaming admission control (maxFilesPerTrigger /
maxBytesPerTrigger) + kind-aware change-commit policies (skipChangeCommits,
delete-sidecar refusal), the snaplog BATCH reader (versionAsOf /
timestampAsOf / columns), staged-aware incremental CDF, schema-evolving
MERGE INTO, Z-order clustering compaction, and orphan cleanup on aborted
optimistic commits."""

from __future__ import annotations

import os
import shutil
import time

import pyspark.sql.functions as F
import pytest

from experiments_datafusion_spark.operators.table_format import (
    ConcurrentModification,
    SnapshotLog,
    append_once,
    changes_incremental,
    clone_shallow,
    commit_staged,
    merge_into,
    publish_staged,
)
from experiments_datafusion_spark.sources import register_sources


def _ids(log: SnapshotLog, spark, version=None) -> list[int]:
    return sorted(r.id for r in log.read(spark, version).collect())


# ---- atomic SetTransaction ----------------------------------------------------------


def test_append_once_txn_published_atomically_no_republish(spark, tmp_path, monkeypatch):
    """The txn record must land IN the put-if-absent commit entry itself —
    _republish (the old post-publish stamp with its crash window) must
    never run on the append_once path."""

    def forbidden(self, version, entry):
        raise AssertionError("append_once used the non-atomic _republish path")

    monkeypatch.setattr(SnapshotLog, "_republish", forbidden)
    log = SnapshotLog(str(tmp_path / "t"))
    v = append_once(log, spark.range(4), app_id="a", txn_version=0)
    assert v == 0
    assert log.entry(0)["txns"] == {"a": [0, 0]}
    # replay: no-op, still no republish
    assert append_once(log, spark.range(4), app_id="a", txn_version=0) == 0
    assert log.versions() == [0]


def _commit_kind(kind: str, spark, log: SnapshotLog, tmp_path) -> SnapshotLog:
    """Run one commit of ``kind`` on ``log``; returns the log it wrote."""
    batch = spark.range(4, 6).toDF("a")
    if kind == "commit_columns":
        log.commit_columns(spark.range(2).toDF("b"), [(2, "b", "bigint")])
    elif kind == "commit_append":
        log.commit_append(batch)
    elif kind == "append_once":
        append_once(log, batch, app_id="x", txn_version=0)
    elif kind == "commit_rewrite":
        log.commit_rewrite(
            log.read(spark).where("a != 1"),
            keep_files=[],
            removed_files=log.live_files([log.latest_version()]),
        )
    elif kind == "compact":
        log.compact(spark)
    elif kind == "compact_incremental":
        log.compact_incremental(spark, sort_cols=["a"])
    elif kind == "evolve":
        log.evolve([(1, "renamed", "bigint")])
    elif kind == "commit_staged+publish_staged":
        publish_staged(log, commit_staged(log, batch))
    elif kind == "restore":
        log.evolve([(1, "renamed", "bigint")])
        log.restore(0)
    else:
        return clone_shallow(log, str(tmp_path / "clone"))
    return log


@pytest.mark.parametrize(
    "kind",
    [
        "commit_columns", "commit_append", "append_once", "commit_rewrite",
        "compact", "compact_incremental", "evolve",
        "commit_staged+publish_staged", "restore", "clone_shallow",
    ],
)
def test_every_commit_kind_publishes_columns_in_one_entry(
    spark, tmp_path, monkeypatch, kind
):
    """The column list and each written file's schema_v ride the commit
    entry itself, like the txn map: no commit kind stamps them with a
    second write after the publish, so a failure between the two can
    never leave a version published without them (a log in that state
    fails every later read and append)."""

    def forbidden(self, version, entry):
        raise AssertionError(f"{kind} re-stamped a published entry")

    monkeypatch.setattr(SnapshotLog, "_republish", forbidden)
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit_columns(spark.range(4).toDF("a"), [(1, "a", "bigint")], note="v0")
    out = _commit_kind(kind, spark, log, tmp_path)
    assert out.latest_version() >= (0 if kind == "clone_shallow" else 1)
    for v in out.versions():
        e = out.entry(v)
        assert "columns" in e, (kind, v)
        assert all("schema_v" in f for f in e["files"]), (kind, v)


def test_id_mapped_commits_refuse_a_wrongly_typed_batch(spark, tmp_path):
    """On a log that carries column ids the live columns' names AND types
    are the schema: a batch with the right names and a wrong type is
    refused by every commit kind that writes or publishes a batch, the
    sink's commit included, and leaves no version and no data behind."""
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_columns(spark.range(4).toDF("a"), [(1, "a", "bigint")], note="v0")
    bad = spark.range(2).select(F.col("id").cast("string").alias("a"))
    commits = {
        "commit_append": lambda: log.commit_append(bad),
        "sink": lambda: log.commit_append_files(
            [{"path": os.path.join(root, "ws", "x.parquet"), "size": 1}],
            [["a", "string", True]],
        ),
        "commit_rewrite": lambda: log.commit_rewrite(
            bad, keep_files=[], removed_files=log.live_files([0])
        ),
        "commit_staged": lambda: commit_staged(log, bad),
        "commit": lambda: log.commit(bad),
        "commit_columns": lambda: log.commit_columns(bad, [(1, "a", "bigint")]),
    }
    for kind, commit in commits.items():
        with pytest.raises(ValueError, match="schema mismatch"):
            commit()
        assert log.versions() == [0], kind
        assert sorted(os.listdir(root)) == ["_log", "v0"], kind


def test_append_once_two_app_interposition_loses_no_record(spark, tmp_path, monkeypatch):
    """Two apps racing one table (the ADVICE r11 #1 scenario): app B's
    append_once lands INSIDE app A's first publish attempt.  A's rebase
    must carry B's freshly published record forward and merge its own —
    with the old read-map/publish/republish sequence, whichever writer
    republished last clobbered the other's record."""
    root = str(tmp_path / "t")
    SnapshotLog(root).commit_append(spark.range(3), note="v0")
    real = SnapshotLog._publish
    state = {"fired": False}

    def interpose(self, version, entry):
        if not state["fired"] and "A" in (entry.get("txns") or {}):
            state["fired"] = True
            append_once(SnapshotLog(root), spark.range(10, 14), app_id="B", txn_version=5)
        real(self, version, entry)

    monkeypatch.setattr(SnapshotLog, "_publish", interpose)
    log = SnapshotLog(root)
    v = append_once(log, spark.range(20, 24), app_id="A", txn_version=7)
    assert state["fired"]
    assert v == 2  # B won version 1; A rebased onto it
    tip = log.entry(2)["txns"]
    assert tip == {"A": [7, 2], "B": [5, 1]}  # NO record lost
    assert _ids(log, spark) == [0, 1, 2, 10, 11, 12, 13, 20, 21, 22, 23]
    # replays from either app are answered from the tip, no new version
    assert append_once(log, spark.range(99), app_id="A", txn_version=7) == 2
    assert append_once(log, spark.range(99), app_id="B", txn_version=4) == 1
    assert log.versions() == [0, 1, 2]


def test_txns_carried_through_every_commit_kind(spark, tmp_path, monkeypatch):
    """One interposed compaction / checked rewrite / restore / WAP publish
    must not degrade the O(1) dedup check (VERDICT r11 missing #3): the
    tip entry always holds the map."""
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    append_once(log, spark.range(8), app_id="ing", txn_version=0)
    # maintenance interposes between streaming appends
    log.compact(spark, target_file_bytes=16 * 1024)
    assert log.entry(log.latest_version())["txns"] == {"ing": [0, 0]}
    log.commit_rewrite(
        log.read(spark).where(F.col("id") != 3),
        keep_files=[],
        removed_files=log.live_files([log.latest_version()]),
        note="delete id=3",
    )
    assert log.entry(log.latest_version())["txns"] == {"ing": [0, 0]}
    log.restore(0, note="rollback")
    assert log.entry(log.latest_version())["txns"] == {"ing": [0, 0]}
    sv = commit_staged(log, spark.range(100, 104), note="staged")
    publish_staged(log, sv)
    assert log.entry(log.latest_version())["txns"] == {"ing": [0, 0]}

    # the dedup check stays O(1): one entry read answers the replay
    reads = {"n": 0}
    real_entry = SnapshotLog.entry

    def counting(self, version):
        reads["n"] += 1
        return real_entry(self, version)

    monkeypatch.setattr(SnapshotLog, "entry", counting)
    assert append_once(log, spark.range(99), app_id="ing", txn_version=0) == 0
    assert reads["n"] <= 2, f"replay walked {reads['n']} entries"
    # and the NEXT real append still carries the full map
    monkeypatch.setattr(SnapshotLog, "entry", real_entry)
    v = append_once(log, spark.range(200, 203), app_id="ing", txn_version=1)
    assert log.entry(v)["txns"] == {"ing": [1, v]}


def test_evolve_carries_txns(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    cols = [(1, "id", "bigint")]
    log.commit_columns(spark.range(4), cols, note="v0")
    log.commit_append(spark.range(4, 6), note="a1", txn=("app", 3))
    v = log.evolve([(1, "renamed", "bigint")], note="rename")
    assert log.entry(v)["txns"] == {"app": [3, v - 1]}
    # replayed batch through the evolved schema: a no-op
    assert log.commit_append(spark.range(99).toDF("renamed"), txn=("app", 3)) == v - 1
    assert log.latest_version() == v


# ---- orphan cleanup on aborted optimistic commits ------------------------------------


def _stray_dirs(root: str, prefix: str) -> list[str]:
    return [d for d in os.listdir(root) if d.startswith(prefix)]


def test_rewrite_checked_abort_removes_orphan_dir(spark, tmp_path):
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit(spark.range(10), note="v0")
    with pytest.raises(ConcurrentModification):
        log.commit_rewrite(
            spark.range(3),
            keep_files=[],
            removed_files=[os.path.join(root, "v0", "no-such-file.parquet")],
            note="stale rewrite",
        )
    assert _stray_dirs(root, "rw-") == []  # ADVICE r11: orphan swept on abort


def test_append_rebased_schema_mismatch_removes_orphan_dir(spark, tmp_path):
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(5), note="v0")
    before = _stray_dirs(root, "b-")  # v0's own batch
    with pytest.raises(ValueError, match="schema mismatch"):
        log.commit_append(spark.range(3).withColumn("extra", F.lit(1)))
    assert _stray_dirs(root, "b-") == before


# ---- staged-aware incremental CDF -----------------------------------------------------


def test_changes_incremental_skips_staged_emits_publish(spark, tmp_path):
    """A WAP staged commit inside the range must emit NOTHING; the later
    publish emits exactly the audited batch's files (ADVICE r11 #2 — the
    old reader emitted the staged files AND re-emitted the whole head)."""
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit_append(spark.range(4), note="v0")
    log.commit_append(spark.range(4, 6), note="append v1")
    sv = commit_staged(log, spark.range(100, 103), note="staged v2")
    pv = publish_staged(log, sv)  # v3
    log.commit_append(spark.range(6, 8), note="append v4")
    feed = changes_incremental(log, spark, 0, log.latest_version())
    got = sorted((r.id, r._commit_version) for r in feed.collect())
    want = sorted(
        [(4, 1), (5, 1)]
        + [(i, pv) for i in (100, 101, 102)]  # staged files stamp the PUBLISH
        + [(6, 4), (7, 4)]
    )
    assert got == want
    assert all(r._change_type == "insert" for r in feed.collect())
    # a staged baseline is not consumer-visible
    with pytest.raises(ValueError, match="staged"):
        changes_incremental(log, spark, sv, log.latest_version())


# ---- snaplog streaming: admission control ---------------------------------------------


def _build_appends(spark, root: str, n_versions: int, files_per_version: int = 2):
    log = SnapshotLog(root)
    for i in range(n_versions):
        log.commit_append(
            spark.range(i * 4, (i + 1) * 4).repartition(files_per_version),
            note=f"a{i}",
        )
    return log


def _paced_batches(spark, root: str, chk: str, expected_rows: int, **options):
    """Run a processingTime-paced stream until the sink saw expected_rows;
    returns [(batch_id, sorted [(version, rows)])]."""
    register_sources(spark)
    batches: list = []

    def sink(df, bid):
        rows = df.groupBy("_commit_version").count().collect()
        batches.append(
            (bid, sorted((r["_commit_version"], r["count"]) for r in rows))
        )

    reader = spark.readStream.format("snaplog").option("path", root)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    t0 = time.time()
    while time.time() - t0 < 120:
        if sum(c for _b, rows in batches for _v, c in rows) >= expected_rows:
            break
        time.sleep(0.25)
    q.stop()
    q.awaitTermination(60)
    return batches


def test_snaplog_max_files_per_trigger_exact_boundaries(spark, tmp_path):
    """6 append commits x 2 files: maxFilesPerTrigger=4 must drain in
    exactly three 2-version batches with no row lost or duplicated — the
    cap trips BETWEEN versions, the offset frontier does the pacing,
    partitions() is never truncated."""
    root = str(tmp_path / "t")
    _build_appends(spark, root, 6)
    batches = _paced_batches(
        spark, root, str(tmp_path / "chk"), 24, maxFilesPerTrigger="4"
    )
    non_empty = [rows for _b, rows in batches if rows]
    assert non_empty == [
        [(0, 4), (1, 4)],
        [(2, 4), (3, 4)],
        [(4, 4), (5, 4)],
    ]


def test_snaplog_max_bytes_per_trigger_bounded_multi_batch(spark, tmp_path):
    root = str(tmp_path / "t")
    log = _build_appends(spark, root, 4)
    per_version = sum(
        f["size"] for f in log.entry(1)["files"]
    ) - sum(f["size"] for f in log.entry(0)["files"])
    batches = _paced_batches(
        spark,
        root,
        str(tmp_path / "chk"),
        16,
        maxBytesPerTrigger=str(int(per_version * 1.5)),  # fits 1, not 2
    )
    non_empty = [rows for _b, rows in batches if rows]
    assert non_empty == [[(v, 4)] for v in range(4)]  # one version per batch


def test_snaplog_single_overcap_commit_still_progresses(spark, tmp_path):
    """A commit bigger than the cap must still be admitted whole (at least
    one version per batch) — pacing bounds batches, never wedges them."""
    root = str(tmp_path / "t")
    SnapshotLog(root).commit_append(spark.range(12).repartition(6), note="big")
    batches = _paced_batches(
        spark, root, str(tmp_path / "chk"), 12, maxFilesPerTrigger="2"
    )
    non_empty = [rows for _b, rows in batches if rows]
    assert non_empty == [[(0, 12)]]


def test_snaplog_paced_availablenow_one_bounded_window_per_run(spark, tmp_path):
    """Trigger.AvailableNow captures one offset per run (Spark wraps
    non-admission-control sources), so each run drains exactly one paced
    window and repeated runs walk the log — bounded, live, exactly-once."""
    register_sources(spark)
    root = str(tmp_path / "t")
    _build_appends(spark, root, 6)
    chk = str(tmp_path / "chk")
    seen: list = []
    for run in range(3):
        got: list = []

        def sink(df, bid, got=got):
            rows = df.groupBy("_commit_version").count().collect()
            got.append(sorted((r["_commit_version"], r["count"]) for r in rows))

        q = (
            spark.readStream.format("snaplog")
            .option("path", root)
            .option("maxFilesPerTrigger", "4")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        seen.append([rows for rows in got if rows])
    assert seen == [
        [[(0, 4), (1, 4)]],
        [[(2, 4), (3, 4)]],
        [[(4, 4), (5, 4)]],
    ]


# ---- snaplog streaming: change-commit policies ----------------------------------------


def _drain(spark, root, out, chk, **options):
    register_sources(spark)
    reader = spark.readStream.format("snaplog").option("path", root)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)


def _mor_log(spark, root: str) -> SnapshotLog:
    log = SnapshotLog(root)
    log.commit(spark.range(8).select(F.col("id")), note="base", kind="base")
    log.commit(
        spark.range(2, 4).select(F.col("id")),
        note="tombstones",
        kind="delete-sidecar",
    )
    log.commit_append(spark.range(20, 23).select(F.col("id")), note="late data")
    return log


def test_snaplog_delete_sidecar_default_and_ignorechanges_refuse(spark, tmp_path):
    root = str(tmp_path / "t")
    _mor_log(spark, root)
    with pytest.raises(Exception, match="delete-sidecar"):
        _drain(spark, root, str(tmp_path / "o1"), str(tmp_path / "c1"))
    # ignoreChanges may admit REWRITES, never tombstone keys as rows
    with pytest.raises(Exception, match="tombstone"):
        _drain(
            spark,
            root,
            str(tmp_path / "o2"),
            str(tmp_path / "c2"),
            ignoreChanges="true",
        )


def test_snaplog_skipchangecommits_skips_sidecar_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    _mor_log(spark, root)
    out = str(tmp_path / "out")
    _drain(
        spark, root, out, str(tmp_path / "chk"), skipChangeCommits="true"
    )
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    # base rows + the late append; NO tombstone keys (2, 3 as rows)
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 20, 21, 22]
    versions = {
        r._commit_version for r in spark.read.parquet(out).collect()
    }
    assert versions == {0, 2}  # the sidecar version emitted nothing


def test_snaplog_skipchangecommits_skips_compaction(spark, tmp_path):
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="a0")
    log.commit_append(spark.range(4, 8), note="a1")
    log.compact(spark, target_file_bytes=1 << 30)  # v2: removes + re-adds
    log.commit_append(spark.range(8, 10), note="a3")
    out = str(tmp_path / "out")
    _drain(spark, root, out, str(tmp_path / "chk"), skipChangeCommits="true")
    rows = spark.read.parquet(out).collect()
    assert sorted(r.id for r in rows) == list(range(10))  # nothing re-emitted
    assert {r._commit_version for r in rows} == {0, 1, 3}
    # exclusivity of the two knobs is refused loudly
    with pytest.raises(Exception, match="mutually exclusive"):
        _drain(
            spark,
            root,
            str(tmp_path / "o2"),
            str(tmp_path / "c2"),
            skipChangeCommits="true",
            ignoreChanges="true",
        )


# ---- snaplog BATCH reader --------------------------------------------------------------


def _batch_log(spark, root: str) -> SnapshotLog:
    log = SnapshotLog(root)
    log.commit_append(
        spark.range(4).select("id", (F.col("id") * 10).alias("v")), note="v0"
    )
    log.commit_append(
        spark.range(4, 7).select("id", (F.col("id") * 10).alias("v")), note="v1"
    )
    sv = commit_staged(log, spark.range(50, 52).select("id", (F.col("id") * 10).alias("v")))
    publish_staged(log, sv)  # v3
    return log


def test_snaplog_batch_read_matches_log_read(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = _batch_log(spark, root)
    got = spark.read.format("snaplog").option("path", root).load()
    want = sorted(
        (r.id, r.v) for r in log.read(spark, log.latest_version()).collect()
    )
    assert sorted((r.id, r.v) for r in got.collect()) == want
    # _commit_version = the PUBLISHED version that first referenced the file
    by_version = {
        r.id: r._commit_version for r in got.collect()
    }
    assert {by_version[i] for i in (0, 1, 2, 3)} == {0}
    assert {by_version[i] for i in (4, 5, 6)} == {1}
    assert {by_version[i] for i in (50, 51)} == {3}  # publish, not staged v2


def test_snaplog_batch_version_and_timestamp_as_of(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = _batch_log(spark, root)
    for v in log.versions():
        log.stamp_ts(v, 10.0 * (v + 1))
    v1 = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("versionAsOf", "1")
        .load()
    )
    assert sorted(r.id for r in v1.collect()) == list(range(7))
    ts = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("timestampAsOf", "25.0")
        .load()
    )
    assert sorted(r.id for r in ts.collect()) == list(range(7))
    with pytest.raises(Exception, match="staged"):
        (
            spark.read.format("snaplog")
            .option("path", root)
            .option("versionAsOf", "2")
            .load()
            .collect()
        )
    # a later FULL commit that adds a column: AS OF the earlier version,
    # by number or by timestamp, declares that version's schema
    plain = str(tmp_path / "u")
    log2 = SnapshotLog(plain)
    log2.commit(spark.range(3), note="v0")
    log2.commit(spark.range(5).select("id", (F.col("id") * 10).alias("v")))
    log2.stamp_ts(0, 10.0)
    log2.stamp_ts(1, 20.0)
    for opt, val in (("versionAsOf", "0"), ("timestampAsOf", "15.0")):
        got = spark.read.format("snaplog").option("path", plain).option(opt, val).load()
        assert got.columns == ["id", "_commit_version"]
        assert sorted(r.id for r in got.collect()) == [0, 1, 2]


def test_snaplog_batch_column_pruning_and_validation(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    _batch_log(spark, root)
    df = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("columns", "v")
        .load()
    )
    assert df.columns == ["v", "_commit_version"]
    assert sorted(r.v for r in df.collect()) == sorted(
        i * 10 for i in [0, 1, 2, 3, 4, 5, 6, 50, 51]
    )
    with pytest.raises(Exception, match="not in table schema"):
        (
            spark.read.format("snaplog")
            .option("path", root)
            .option("columns", "nope")
            .load()
        )


# ---- schema-evolving MERGE INTO ---------------------------------------------------------


def test_merge_into_extra_source_column_projected_away_by_default(spark):
    """The explicit-payload contract: without evolve_schema a source
    column outside [key, *payload] is condition-visible but never lands
    in the output (the historical behavior, pinned)."""
    target = spark.createDataFrame([(1, 10)], "k bigint, p bigint")
    source = spark.createDataFrame([(1, 11, "x")], "k bigint, p bigint, extra string")
    out = merge_into(target, source, key="k", payload=["p"])
    assert out.columns == ["k", "p"]
    assert [(r.k, r.p) for r in out.collect()] == [(1, 11)]


def test_merge_into_evolve_schema_adds_column(spark):
    """Source-new columns pass through as ADD COLUMN: NULL on rows the
    target keeps (unmatched-by-source AND non-updated matches), the source
    value where the source wins — merge_upsert's back-fills-nothing rule."""
    target = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k bigint, p bigint"
    )
    source = spark.createDataFrame(
        [(2, 21, "b"), (4, 40, "d")], "k bigint, p bigint, tag string"
    )
    out = merge_into(
        target, source, key="k", payload=["p"], evolve_schema=True
    )
    assert out.columns == ["k", "p", "tag"]
    got = sorted((r.k, r.p, r.tag) for r in out.collect())
    assert got == [
        (1, 10, None),  # kept target row: evolved column back-fills nothing
        (2, 21, "b"),  # updated: source wins including the new column
        (3, 30, None),
        (4, 40, "d"),  # inserted
    ]


def test_merge_into_evolve_schema_respects_conditions(spark):
    target = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, p bigint")
    source = spark.createDataFrame(
        [(1, 11, "del"), (2, 22, "upd"), (9, 90, "ins")],
        "k bigint, p bigint, tag string",
    )
    out = merge_into(
        target,
        source,
        key="k",
        payload=["p"],
        matched_delete=lambda t, s: F.col("s.tag") == "del",
        not_matched_insert=lambda s: F.col("s.tag") == "ins",
        evolve_schema=True,
    )
    got = sorted((r.k, r.p, r.tag) for r in out.collect())
    assert got == [(2, 22, "upd"), (9, 90, "ins")]


# ---- Z-order clustering compaction -------------------------------------------------------


def test_compact_zorder_prunes_both_dimensions(spark, tmp_path):
    """compact(zorder_cols=[x, y]) over a round-robin landing: the
    compacted manifest's 2-D write-time stats must prune files on BOTH
    dimensions (the OPTIMIZE ZORDER BY contract), where the round-robin
    layout prunes on neither and a 1-D sort prunes on only one."""
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.floor(F.col("id") / 64) % 64).alias("y"),
        F.col("id").alias("payload"),
    )
    log.commit(df.repartition(16), note="round-robin landing", stats_cols=["x", "y"])

    def survivors(version, bands):
        # ({} keeps every non-empty file: the total to prune from)
        view = log.view()
        return view.prune(version, bands), len(view.prune(version, {}))

    bands = {"x": (4, 11), "y": (40, 47)}
    keep0, total0 = survivors(0, bands)
    assert len(keep0) == total0  # round-robin: nothing prunable
    total = sum(f["size"] for f in log.entry(0)["files"])
    v2 = log.compact(
        spark, target_file_bytes=max(1, total // 16), version=0, zorder_cols=["x", "y"]
    )
    keep_x, total_x = survivors(v2, {"x": (4, 11)})
    keep_y, total_y = survivors(v2, {"y": (40, 47)})
    keep_xy, total_xy = survivors(v2, bands)
    assert len(keep_x) < total_x, "x-band did not prune on the z layout"
    assert len(keep_y) < total_y, "y-band did not prune on the z layout"
    assert len(keep_xy) <= min(len(keep_x), len(keep_y))
    # and the pruned band read is CORRECT (residual filter re-applied)
    band = log.read_files(spark, v2, keep_xy).where(
        F.col("x").between(4, 11) & F.col("y").between(40, 47)
    )
    want = df.where(
        F.col("x").between(4, 11) & F.col("y").between(40, 47)
    )
    assert band.count() == want.count()
    assert (
        band.agg(F.sum("payload")).collect()[0][0]
        == want.agg(F.sum("payload")).collect()[0][0]
    )
    shutil.rmtree(root, ignore_errors=True)


def test_compact_sort_and_zorder_exclusive(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(4).select(F.col("id").alias("x"), F.col("id").alias("y")))
    with pytest.raises(ValueError, match="exclusive"):
        log.compact(spark, sort_cols=["x"], zorder_cols=["x", "y"])


# ---- snaplog streaming SINK ----------------------------------------------------------------


def _sink_stream(spark, src: str, root: str, chk: str, app_id: str = "ing"):
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("snaplog")
        .option("path", root)
        .option("appId", app_id)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )


def test_snaplog_sink_commits_per_batch_exactly_once(spark, tmp_path):
    """writeStream.format('snaplog'): one append commit per micro-batch,
    the batch's SetTransaction record in the same entry, restart = no-op."""
    register_sources(spark)
    src, root, chk = str(tmp_path / "src"), str(tmp_path / "t"), str(tmp_path / "chk")
    spark.range(30).select("id", (F.col("id") * 3).alias("v")).repartition(
        3
    ).write.parquet(src)
    q = _sink_stream(spark, src, root, chk)
    assert q.awaitTermination(180)
    log = SnapshotLog(root)
    assert log.versions() == [0, 1, 2]  # 3 files -> 3 micro-batch commits
    assert log.entry(2)["txns"] == {"ing": [2, 2]}
    got = sorted((r.id, r.v) for r in log.read(spark).collect())
    assert got == [(i, i * 3) for i in range(30)]
    # restart over the same checkpoint: nothing re-committed
    q2 = _sink_stream(spark, src, root, chk)
    assert q2.awaitTermination(180)
    assert log.versions() == [0, 1, 2]
    # no stray task files survive outside the manifests
    live = {fe.path for fe in log.manifest(2)}
    on_disk = {
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == live


def test_snaplog_sink_replayed_commit_drops_orphans(spark, tmp_path):
    """A driver-side replay of an already-committed batchId (the
    foreachBatch-retry shape) must publish nothing and remove the
    re-written task files."""
    from experiments_datafusion_spark.sources.snaplog_source import (
        _SnapLogStreamWriter,
        _TaskFile,
    )

    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    df = spark.range(4)
    w = _SnapLogStreamWriter({"path": root, "appid": "app"}, df.schema)
    # batch 0 commits normally (files written out-of-band for the test)
    d = os.path.join(root, "ws")
    os.makedirs(d, exist_ok=True)

    def fake_file(name: str) -> _TaskFile:
        p = os.path.join(d, name)
        df.write.mode("overwrite").parquet(str(tmp_path / "tmpw"))
        src = next(
            f
            for f in os.listdir(str(tmp_path / "tmpw"))
            if f.endswith(".parquet")
        )
        shutil.copy(os.path.join(str(tmp_path / "tmpw"), src), p)
        return _TaskFile(p, os.path.getsize(p), 4)

    m0 = fake_file("part-b0.parquet")
    w.commit([m0], batchId=0)
    assert log.versions() == [0]
    # the RETRY of batch 0 wrote a fresh task file; commit must no-op and
    # sweep it
    m0r = fake_file("part-b0-retry.parquet")
    w.commit([m0r], batchId=0)
    assert log.versions() == [0]
    assert not os.path.exists(m0r.path)
    assert os.path.exists(m0.path)  # the committed file is untouched


def test_snaplog_sink_abort_and_overwrite_refusal(spark, tmp_path):
    from experiments_datafusion_spark.sources.snaplog_source import (
        SnapshotLogDataSource,
        _SnapLogStreamWriter,
        _TaskFile,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "ws"), exist_ok=True)
    p = os.path.join(root, "ws", "part-x.parquet")
    open(p, "wb").write(b"junk")
    w = _SnapLogStreamWriter(
        {"path": root, "appid": "probe"}, spark.range(1).schema
    )
    w.abort([_TaskFile(p, 4, 0), None], batchId=7)
    assert not os.path.exists(p)  # failed batch leaves no orphans
    ds = SnapshotLogDataSource({"path": root})
    with pytest.raises(ValueError, match="append-only"):
        ds.streamWriter(spark.range(1).schema, overwrite=True)


def test_snaplog_sink_schema_drift_fails_commit(spark, tmp_path):
    """A second stream with a drifted schema must fail at the append
    commit (the table-format schema gate), not poison the table."""
    register_sources(spark)
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    root = str(tmp_path / "t")
    spark.range(6).select("id").repartition(1).write.parquet(src1)
    spark.range(6).select("id", F.lit("x").alias("extra")).repartition(
        1
    ).write.parquet(src2)
    q = _sink_stream(spark, src1, root, str(tmp_path / "c1"), app_id="a")
    assert q.awaitTermination(180)
    q2 = _sink_stream(spark, src2, root, str(tmp_path / "c2"), app_id="b")
    with pytest.raises(Exception, match="schema mismatch"):
        q2.awaitTermination(180)
    log = SnapshotLog(root)
    assert log.versions() == [0]  # the drifted batch never landed


# ---- batch CDF through the reader API --------------------------------------------------------


def test_snaplog_batch_cdf_options_and_refusals(spark, tmp_path):
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="v0")
    log.commit_append(spark.range(4, 7), note="v1")
    log.compact(spark, target_file_bytes=1 << 30)  # v2: a rewrite

    def cdf(**opts):
        r = (
            spark.read.format("snaplog")
            .option("path", root)
            .option("readChangeFeed", "true")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    # startingVersion required
    with pytest.raises(Exception, match="startingVersion"):
        cdf().collect()
    # append-only range works, bounded by endingVersion
    got = cdf(startingVersion="1", endingVersion="1")
    rows = got.collect()
    assert sorted(r.id for r in rows) == [4, 5, 6]
    assert {(r._change_type, r._commit_version) for r in rows} == {("insert", 1)}
    # a rewrite in range: round 13 answers it through the bounded diff
    # fallback — a pure compaction diffs to NOTHING, so the range reads
    # as just v1's appends (tests/test_round13.py pins the delete/update
    # shapes; the refusal now lives behind maxDiffBytes)
    rows13 = cdf(startingVersion="1").collect()
    assert sorted(r.id for r in rows13) == [4, 5, 6]
    with pytest.raises(Exception, match="maxDiffBytes"):
        cdf(startingVersion="1", maxDiffBytes="1").collect()
    # CDF and time travel are exclusive
    with pytest.raises(Exception, match="mutually exclusive"):
        cdf(startingVersion="0", versionAsOf="1").collect()


# ---- evolved logs through the reader API -------------------------------------------------


def _evolved_log(spark, root: str):
    log = SnapshotLog(root)
    log.commit_columns(
        spark.createDataFrame(
            [(1, "A", 10), (2, "B", 20)], "k bigint, status string, price_c int"
        ),
        [(1, "k", "bigint"), (2, "status", "string"), (3, "price_c", "int")],
        note="v0 original",
    )
    log.evolve(
        [(1, "k", "bigint"), (3, "amount_c", "bigint"), (4, "tag", "string")],
        note="rename+widen+drop+add",
    )
    log.commit_append(
        spark.createDataFrame(
            [(3, 30, "x"), (4, 40, "y")], "k bigint, amount_c bigint, tag string"
        ),
        note="v2 under the evolved schema",
    )
    return log


def test_snaplog_batch_reads_evolved_log_through_id_mapping(spark, tmp_path):
    """spark.read.format('snaplog') over an id-mapped log: old-generation
    files rename by id (price_c -> amount_c), widen (int -> bigint), drop
    (status never surfaces), and back-fill NULL for post-dating columns —
    matching SnapshotLog.read exactly, plus the _commit_version stamp."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = _evolved_log(spark, root)
    got = spark.read.format("snaplog").option("path", root).load()
    assert got.columns == ["k", "amount_c", "tag", "_commit_version"]
    rows = sorted((r.k, r.amount_c, r.tag, r._commit_version) for r in got.collect())
    assert rows == [(1, 10, None, 0), (2, 20, None, 0), (3, 30, "x", 2), (4, 40, "y", 2)]
    want = sorted(
        (r.k, r.amount_c, r.tag) for r in log.read(spark).collect()
    )
    assert [(k, a, t) for k, a, t, _v in rows] == want
    # column pruning against the LIVE names, spanning both generations
    pruned = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("columns", "amount_c")
        .load()
    )
    assert pruned.columns == ["amount_c", "_commit_version"]
    assert sorted(r.amount_c for r in pruned.collect()) == [10, 20, 30, 40]
    # versionAsOf an OLD generation surfaces ITS schema untouched
    v0 = (
        spark.read.format("snaplog")
        .option("path", root)
        .option("versionAsOf", "0")
        .load()
    )
    assert v0.columns == ["k", "status", "price_c", "_commit_version"]
    assert sorted((r.k, r.status, r.price_c) for r in v0.collect()) == [
        (1, "A", 10),
        (2, "B", 20),
    ]


def test_snaplog_stream_refuses_old_generation_files(spark, tmp_path):
    """Streaming a log whose range includes files written under an OLDER
    schema generation must fail loudly (the Delta schema-change rule) —
    the batch reader is the sanctioned path for evolved history."""
    register_sources(spark)
    root = str(tmp_path / "t")
    _evolved_log(spark, root)
    with pytest.raises(Exception, match="schema generation"):
        _drain(spark, root, str(tmp_path / "o"), str(tmp_path / "c"))


def test_snaplog_ignoredeletes_admits_delete_only_commits(spark, tmp_path):
    """Delta's third change-commit knob: a commit that ONLY removes files
    (retention/partition delete — nothing to re-emit) is admitted under
    ignoreDeletes and emits nothing; rewrites still need ignoreChanges."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="a0")
    log.commit_append(spark.range(4, 8), note="a1")
    # a delete-only commit: v2 references v1's files minus the a1 batch
    e = log.entry(1)
    v0_paths = {f["path"] for f in log.entry(0)["files"]}
    log._publish(
        2,
        {
            "version": 2,
            "note": "partition delete (files removed, none added)",
            "kind": "data",
            "schema": e["schema"],
            "files": [f for f in e["files"] if f["path"] in v0_paths],
        },
    )
    log.commit_append(spark.range(8, 10), note="a3")
    # default: loud failure that NAMES the delete-only escape hatch
    with pytest.raises(Exception, match="ignoreDeletes"):
        _drain(spark, root, str(tmp_path / "o1"), str(tmp_path / "c1"))
    out = str(tmp_path / "out")
    _drain(spark, root, out, str(tmp_path / "chk"), ignoreDeletes="true")
    rows = spark.read.parquet(out).collect()
    # the delete-only version emitted NOTHING; deletions are not applied
    # retroactively to already-streamed rows (the documented semantics)
    assert sorted(r.id for r in rows) == list(range(10))
    assert {r._commit_version for r in rows} == {0, 1, 3}
    # exclusivity: skipChangeCommits + ignoreDeletes refused
    with pytest.raises(Exception, match="mutually exclusive"):
        _drain(
            spark,
            root,
            str(tmp_path / "o2"),
            str(tmp_path / "c2"),
            ignoreDeletes="true",
            skipChangeCommits="true",
        )


def test_vacuum_min_age_spares_inflight_writer_files(spark, tmp_path):
    """vacuum(min_age_s=...) must leave young unreferenced files alone —
    an optimistic writer's data lands BEFORE its log entry publishes, and
    a racing vacuum must not sweep the about-to-be-referenced files."""
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="v0")
    # simulate an in-flight rebased append: data written, entry not yet
    # published (exactly commit_append's write-then-publish gap)
    inflight_dir = os.path.join(root, "b-inflight")
    spark.range(4, 8).write.parquet(inflight_dir)
    inflight = [
        os.path.join(inflight_dir, f)
        for f in os.listdir(inflight_dir)
        if f.endswith(".parquet")
    ]
    # an OLD orphan (a crashed writer from long ago): backdate its mtime
    old_orphan = os.path.join(root, "b-dead", "part-dead.parquet")
    os.makedirs(os.path.dirname(old_orphan))
    shutil.copy(inflight[0], old_orphan)
    os.utime(old_orphan, (1, 1))
    removed = log.vacuum(keep=log.versions(), min_age_s=3600)
    assert removed == [old_orphan]  # the stale orphan goes...
    assert all(os.path.exists(p) for p in inflight)  # ...the in-flight stays
    # and the in-flight commit can still publish and read back
    files = [{"path": p, "size": os.path.getsize(p)} for p in sorted(inflight)]
    schema = [["id", "bigint", False]]  # spark.range: non-nullable
    v = log.commit_append_files(files, schema, note="late publish")
    assert sorted(r.id for r in log.read(spark, v).collect()) == list(range(8))
    # min_age_s=0 keeps the historical sweep-everything behavior
    spark.range(99).write.parquet(os.path.join(root, "b-young"))
    got = log.vacuum(keep=log.versions())
    assert any("b-young" in p for p in got)


def test_snaplog_stream_readchangefeed_emits_cdf_shape(spark, tmp_path):
    """readStream readChangeFeed=true: the source itself emits the Delta
    CDF row shape (_change_type='insert' + _commit_version) — the input
    the retract/apply IVM consumers take without a manual withColumn."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(3), note="a0")
    log.commit_append(spark.range(3, 5), note="a1")
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    _drain(spark, root, out, chk, readChangeFeed="true")
    rows = spark.read.parquet(out).collect()
    assert set(spark.read.parquet(out).columns) == {
        "id", "_change_type", "_commit_version"
    }
    got = sorted((r.id, r._change_type, r._commit_version) for r in rows)
    assert got == [
        (0, "insert", 0), (1, "insert", 0), (2, "insert", 0),
        (3, "insert", 1), (4, "insert", 1),
    ]


def test_snaplog_sink_commits_onto_renamed_log(spark, tmp_path):
    """The sink appends to an id-mapped log like any append: the batch
    names the live (renamed) column, the entry carries the columns and
    the task file's schema_v, and both generations read back through the
    ids."""
    from experiments_datafusion_spark.sources.snaplog_source import (
        _SnapLogStreamWriter,
        _TaskFile,
    )

    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_columns(spark.range(3).toDF("a"), [(1, "a", "bigint")])
    v1 = log.evolve([(1, "renamed", "bigint")], note="rename a")
    batch = spark.range(10, 12).toDF("renamed")
    w = _SnapLogStreamWriter({"path": root, "appid": "probe"}, batch.schema)
    batch.coalesce(1).write.parquet(str(tmp_path / "w"))
    p = os.path.join(root, "ws")
    os.makedirs(p)
    f = os.path.join(p, "part-x.parquet")
    shutil.copy(
        next(
            os.path.join(str(tmp_path / "w"), x)
            for x in os.listdir(str(tmp_path / "w"))
            if x.endswith(".parquet")
        ),
        f,
    )
    w.commit([_TaskFile(f, os.path.getsize(f), 2)], batchId=0)
    e = log.entry(v1 + 1)
    assert e["columns"] == [[1, "renamed", "bigint"]]
    assert {x["path"]: x["schema_v"] for x in e["files"]}[f] == v1 + 1
    assert all("schema_v" in x for x in e["files"])
    assert sorted(r.renamed for r in log.read(spark).collect()) == [0, 1, 2, 10, 11]
    register_sources(spark)
    got = spark.read.format("snaplog").option("path", root).load()
    assert sorted(r.renamed for r in got.collect()) == [0, 1, 2, 10, 11]


def test_snaplog_sink_to_source_roundtrip_pipeline(spark, tmp_path):
    """The full public-API medallion: a parquet stream lands through the
    snaplog SINK (bronze), and the snaplog SOURCE streams the same log
    into a drain — per-batch commits on the write side surface as
    per-version micro-batches on the read side, end to end, no user
    commit code anywhere."""
    register_sources(spark)
    src, root = str(tmp_path / "src"), str(tmp_path / "t")
    spark.range(24).select("id").repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("snaplog")
        .option("path", root)
        .option("appId", "bronze")
        .option("checkpointLocation", str(tmp_path / "c1"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    out = str(tmp_path / "out")
    _drain(spark, root, out, str(tmp_path / "c2"), readChangeFeed="true")
    rows = spark.read.parquet(out).collect()
    assert sorted(r.id for r in rows) == list(range(24))
    assert {r._commit_version for r in rows} == {0, 1, 2}  # 3 sink commits
    assert {r._change_type for r in rows} == {"insert"}


def test_snaplog_starting_timestamp(spark, tmp_path):
    """startingTimestamp: a NEW subscription begins at the first commit
    stamped at or after the timestamp (Delta's startingVersion twin)."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    for i in range(3):
        v = log.commit_append(spark.range(i * 4, (i + 1) * 4), note=f"a{i}")
        log.stamp_ts(v, 10.0 * (i + 1))  # ts = 10, 20, 30
    out = str(tmp_path / "out")
    _drain(spark, root, out, str(tmp_path / "chk"), startingTimestamp="15.0")
    rows = spark.read.parquet(out).collect()
    assert sorted(r.id for r in rows) == list(range(4, 12))  # v1 + v2 only
    assert {r._commit_version for r in rows} == {1, 2}
    # after-all timestamp: nothing yet; a NEW commit then streams
    out2, chk2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _drain(spark, root, out2, chk2, startingTimestamp="99.0")
    assert not [
        f for f in os.listdir(out2) if f.endswith(".parquet")
    ] or spark.read.parquet(out2).count() == 0
    v = log.commit_append(spark.range(100, 102), note="late")
    log.stamp_ts(v, 100.0)
    _drain(spark, root, out2, chk2, startingTimestamp="99.0")
    assert sorted(r.id for r in spark.read.parquet(out2).collect()) == [100, 101]
    # exclusivity with startingVersion
    with pytest.raises(Exception, match="mutually exclusive"):
        _drain(
            spark,
            root,
            str(tmp_path / "o3"),
            str(tmp_path / "c3"),
            startingTimestamp="15.0",
            startingVersion="1",
        )


def test_snaplog_two_sinks_race_one_table(spark, tmp_path):
    """Two sink pipelines (distinct appIds) drain into ONE table
    concurrently: the rebased file-commit path must land every batch of
    both exactly once, with both SetTransaction ledgers at the tip."""
    register_sources(spark)
    root = str(tmp_path / "t")
    srcs = {}
    for app, lo in (("A", 0), ("B", 100)):
        src = str(tmp_path / f"src{app}")
        spark.range(lo, lo + 12).select("id").repartition(3).write.parquet(src)
        srcs[app] = src
    schema = spark.read.parquet(srcs["A"]).schema
    # both streams START from the main thread (a python-registered data
    # source is invisible to .start() calls from other Python threads —
    # the JVM resolves it through the thread-local active session,
    # observed on 4.1.2) and then RUN fully concurrently: availableNow
    # queries execute on Spark's own streaming threads, so their
    # micro-batch commits genuinely race on the one table.
    queries = [
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(srcs[app])
            .writeStream.format("snaplog")
            .option("path", root)
            .option("appId", app)
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
        list(range(12)) + list(range(100, 112))
    )
    txns = log.entry(log.latest_version())["txns"]
    assert set(txns) == {"A", "B"}  # both ledgers carried at the tip
    assert txns["A"][0] == 2 and txns["B"][0] == 2  # 3 batches each (0..2)
    assert len(log.versions()) == 6  # every batch its own commit, none lost


def test_snaplog_paced_stream_with_live_writer(spark, tmp_path):
    """Admission control under a LIVE writer: commits keep landing while
    the paced stream drains — every batch stays within the cap (one
    2-file version per batch at maxFilesPerTrigger=2) and the union is
    exactly-once over everything committed."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    for i in range(2):
        log.commit_append(
            spark.range(i * 4, (i + 1) * 4).repartition(2), note=f"a{i}"
        )
    batches: list = []

    def sink(df, bid):
        rows = df.groupBy("_commit_version").count().collect()
        batches.append(sorted((r["_commit_version"], r["count"]) for r in rows))

    q = (
        spark.readStream.format("snaplog")
        .option("path", root)
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    try:
        # the writer keeps committing WHILE the stream drains
        for i in range(2, 6):
            log.commit_append(
                spark.range(i * 4, (i + 1) * 4).repartition(2), note=f"a{i}"
            )
            time.sleep(0.3)
        t0 = time.time()
        while time.time() - t0 < 120:
            if sum(c for rows in batches for _v, c in rows) >= 24:
                break
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination(60)
    non_empty = [rows for rows in batches if rows]
    # cap respected: never more than ONE 2-file version per micro-batch
    assert all(len(rows) == 1 for rows in non_empty), non_empty
    # exactly-once over the full live history, in version order
    assert [rows[0] for rows in non_empty] == [(v, 4) for v in range(6)]


def test_snaplog_stream_reads_identically_across_log_checkpoint(spark, tmp_path):
    """Consolidating the log into a checkpoint file mid-subscription must
    be invisible to the stream: the next drain sees exactly the versions
    committed since the last offset, with the same per-version deltas (a
    raw tail-only listing would make the first post-checkpoint version
    look parentless and re-emit its carried files)."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(4), note="a0")
    log.commit_append(spark.range(4, 7), note="a1")
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    _drain(spark, root, out, chk)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(7))
    # consolidate the log, then keep appending
    log.checkpoint()
    log.commit_append(spark.range(7, 9), note="a2 (post-checkpoint)")
    _drain(spark, root, out, chk)
    rows = spark.read.parquet(out).collect()
    assert sorted(r.id for r in rows) == list(range(9))  # no loss, no re-emit
    assert {r._commit_version for r in rows} == {0, 1, 2}


def test_snaplog_batch_evolved_read_survives_log_checkpoint(spark, tmp_path):
    """Checkpointing an id-mapped log consolidates the entries the id
    mapping resolves schema generations THROUGH — the reader must
    produce identical rows before and after."""
    register_sources(spark)
    root = str(tmp_path / "t")
    log = _evolved_log(spark, root)
    before = sorted(
        tuple(r)
        for r in spark.read.format("snaplog").option("path", root).load().collect()
    )
    log.checkpoint()
    after = sorted(
        tuple(r)
        for r in spark.read.format("snaplog").option("path", root).load().collect()
    )
    assert before == after
    # SnapshotLog.read agrees too (the log and the reader share the ids)
    helper = sorted(
        (r.k, r.amount_c, r.tag) for r in log.read(spark).collect()
    )
    assert [(k, a, t) for k, a, t, _v in after] == helper


def test_snaplog_stream_drains_from_another_cwd(spark, tmp_path):
    """A driver started outside the repository drains a snaplog stream:
    the Python data-source planner process (latestOffset / partitions)
    imports the package through the PYTHONPATH entry ``session.tune``
    puts on ``sc.environment`` — ``addPyFile`` alone does not reach it."""
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    root = str(tmp_path / "t")
    SnapshotLog(root).commit_append(spark.range(5))
    script = tmp_path / "drain.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(repo)!r})
            from pyspark.sql import SparkSession
            from experiments_datafusion_spark.session import tune
            from experiments_datafusion_spark.sources import register_sources

            spark = tune(
                SparkSession.builder.master("local[2]")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            register_sources(spark)
            q = (
                spark.readStream.format("snaplog").option("path", {root!r}).load()
                .writeStream.format("memory").queryName("drained")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            print("ROWS", spark.table("drained").count())
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS 5" in r.stdout, r.stderr[-3000:]
