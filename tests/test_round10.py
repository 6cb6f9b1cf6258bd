"""Round-10: snapshot-log layer semantics + change-data-feed invariants."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from experiments_datafusion_spark.operators.table_format import (
    SnapshotLog,
    changes_between,
    merge_upsert,
)
from experiments_datafusion_spark.queries import all_queries


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_log_commit_read_roundtrip(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    v = log.commit(df, note="first")
    assert v == 0
    back = log.read(spark, v)
    assert sorted(r.id for r in back.collect()) == list(range(100))
    assert log.versions() == [0]
    assert log.entry(0)["note"] == "first"


def test_snapshot_isolation_and_as_of(spark, tmp_path):
    """A later commit never touches an earlier version's files; AS OF reads
    resolve through the manifest, so each version returns its own rows."""
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(10))
    files_v0 = {(fe.path, fe.size, os.path.getmtime(fe.path)) for fe in log.manifest(0)}
    log.commit(spark.range(20))
    assert {
        (fe.path, fe.size, os.path.getmtime(fe.path)) for fe in log.manifest(0)
    } == files_v0
    assert log.read(spark, 0).count() == 10
    assert log.read(spark, 1).count() == 20
    assert log.read(spark).count() == 20  # default = latest
    # manifests are disjoint: copy-on-write, never shared files
    assert not {f.path for f in log.manifest(0)} & {f.path for f in log.manifest(1)}


def test_vacuum_removes_only_dead_files(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(10))
    log.commit(spark.range(20))
    dead = {fe.path for fe in log.manifest(0)}
    live = {fe.path for fe in log.manifest(1)}
    removed = set(log.vacuum(keep={1}))
    assert removed == dead
    assert all(os.path.exists(p) for p in live)
    assert log.read(spark, 1).count() == 20
    # the vacuumed version is gone for good
    with pytest.raises(Exception):
        log.read(spark, 0).count()


def test_read_as_of_schema_evolution(spark, tmp_path):
    """Snapshots written before ADD COLUMN surface the new column as NULL."""
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(3).select(F.col("id").alias("k")))
    log.commit(
        spark.range(3).select(F.col("id").alias("k"), F.lit("new").alias("extra"))
    )
    allv = log.read_as_of(spark, (0, 1))
    got = {(r.version, r.extra) for r in allv.select("version", "extra").distinct().collect()}
    assert got == {(0, None), (1, "new")}


def test_compact_is_a_commit(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(1000).repartition(8))
    assert len(log.manifest(0)) == 8
    v1 = log.compact(spark, target_file_bytes=1 << 40)
    assert len(log.manifest(v1)) == 1
    # old version still readable until vacuumed (OPTIMIZE never destroys)
    assert log.read(spark, 0).count() == 1000
    assert log.read(spark, v1).count() == 1000


def test_merge_upsert_source_wins_and_evolves(spark):
    t = _df(spark, [(1, "a"), (2, "b")], "k long, v string")
    s = _df(spark, [(2, "B", 9), (3, "C", 7)], "k long, v string, extra long")
    got = {
        (r.k, r.v, r.extra)
        for r in merge_upsert(t, s, key="k").collect()
    }
    # source wins on collision; target-only rows carry NULL for the new col
    assert got == {(1, "a", None), (2, "B", 9), (3, "C", 7)}


def test_changes_between_classes(spark):
    v0 = _df(spark, [(1, "a"), (2, "b"), (3, None)], "k long, v string")
    v1 = _df(spark, [(2, "B"), (3, None), (4, "d")], "k long, v string")
    rows = changes_between(v0, v1, key="k", payload=["v"]).collect()
    got = {(r.k, r.v, r._change_type) for r in rows}
    # k=3 has a NULL payload on both sides -> unchanged (eqNullSafe), no row
    assert got == {
        (1, "a", "delete"),
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
        (4, "d", "insert"),
    }


def test_append_commits_and_exactly_once(spark, tmp_path):
    """Append commits: each manifest extends its parent's file list (O(batch)
    write, no rewrite), AS OF reads give monotone prefixes, and replaying a
    transaction id is a no-op (exactly-once at the table)."""
    from experiments_datafusion_spark.operators.table_format import append_once

    log = SnapshotLog(str(tmp_path / "t"))
    v0 = append_once(log, spark.range(10), "ing", 0)
    v1 = append_once(log, spark.range(10, 30), "ing", 1)
    assert (v0, v1) == (0, 1)
    f0 = {fe.path for fe in log.manifest(0)}
    f1 = {fe.path for fe in log.manifest(1)}
    assert f0 < f1  # parent files carried forward, new files added
    assert log.read(spark, 0).count() == 10
    assert log.read(spark, 1).count() == 30
    # the retry: same (app, txn version) -> same version, no new commit
    assert append_once(log, spark.range(10, 30), "ing", 1) == 1
    assert log.versions() == [0, 1]
    assert log.read(spark).count() == 30
    # vacuum keeping the tip removes nothing (appends share all files)
    assert log.vacuum(keep={1}) == []
    # schema enforcement: a drifted producer fails at the commit, loudly
    with pytest.raises(ValueError, match="schema mismatch"):
        log.commit_append(
            spark.range(3).select(F.col("id").cast("int").alias("other"))
        )
    assert log.versions() == [0, 1]  # nothing half-committed to the log


def test_stream_ingest_versions_are_batch_prefixes(spark, sf_dir, tmp_path):
    """Each streaming micro-batch is one append commit; AS OF v_k reads
    exactly the first k+1 batches (strictly monotone row counts summing
    to the full table)."""
    from experiments_datafusion_spark.io import table as load_table
    from experiments_datafusion_spark.queries.round10 import stream_ingest_log

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    src_dir = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = stream_ingest_log(src, str(tmp_path / "table"))
    assert q.awaitTermination(180)
    log = SnapshotLog(str(tmp_path / "table"))
    counts = [log.read(spark, v).count() for v in log.versions()]
    assert len(counts) == 3
    assert counts == sorted(counts) and counts[0] > 0
    assert counts[-1] == ev.count()


def test_delete_pruned_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    """The partition-pruned CoW delete: untouched files are carried into
    the new manifest BY PATH (never copied), only the affected slice is
    rewritten, and the surviving rows are exactly the non-cohort rows."""
    import pyspark.sql.functions as SF

    from experiments_datafusion_spark.io import table as load_table
    from experiments_datafusion_spark.queries import round10 as R10

    log = SnapshotLog(str(tmp_path / "t"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    log.commit(
        orders.repartitionByRange(R10._DEL_FILES, "o_custkey"),
        stats_cols=["o_custkey"],
    )
    view = log.view()
    affected = view.prune(0, {"o_custkey": (R10._DEL_LO, R10._DEL_HI)})
    hit = {f["path"] for f in affected}
    keep = [f["path"] for f in view.prune(0, {}) if f["path"] not in hit]
    assert 0 < len(affected) < len(view.prune(0, {}))  # the prune genuinely bites
    rewritten = log.read_files(spark, 0, affected).where(
        ~SF.col("o_custkey").between(R10._DEL_LO, R10._DEL_HI)
    )
    v1 = log.commit_rewrite(rewritten, keep, sorted(hit))
    v1_paths = {fe.path for fe in log.manifest(v1)}
    assert set(keep) < v1_paths  # every untouched file carried forward by path
    got = log.read(spark, v1)
    assert got.where(SF.col("o_custkey").between(R10._DEL_LO, R10._DEL_HI)).count() == 0
    want = orders.where(~SF.col("o_custkey").between(R10._DEL_LO, R10._DEL_HI))
    assert got.count() == want.count()
    assert (
        got.agg(SF.sum("o_orderkey")).first()[0]
        == want.agg(SF.sum("o_orderkey")).first()[0]
    )


def test_changes_compose_across_versions(spark):
    """CDF composition — the property incremental consumers rely on when
    they fall behind: applying changes(v0,v1) then changes(v1,v2) to any
    state must land where applying changes(v0,v2) does.  Verified on the
    count/sum algebra table_changes_apply uses."""
    v0 = _df(spark, [(1, 10), (2, 20), (3, 30)], "k long, p long")
    v1 = _df(spark, [(2, 25), (3, 30), (4, 40)], "k long, p long")  # upd/del/ins
    v2 = _df(spark, [(2, 25), (4, 45), (5, 50)], "k long, p long")

    def apply(state: dict, changes) -> dict:
        n, p = state["n"], state["p"]
        for r in changes.collect():
            s = 1 if r._change_type in ("insert", "update_postimage") else -1
            n += s
            p += s * r.p
        return {"n": n, "p": p}

    start = {"n": 3, "p": 60}
    step = apply(
        apply(start, changes_between(v0, v1, "k", ["p"])),
        changes_between(v1, v2, "k", ["p"]),
    )
    direct = apply(start, changes_between(v0, v2, "k", ["p"]))
    assert step == direct == {"n": 3, "p": 120}  # v2 totals


def test_log_checkpoint_consolidates(spark, tmp_path):
    """Log checkpointing: consolidating the JSON tail into one checkpoint
    keeps every version readable (entries resolve checkpoint-then-tail),
    repeated checkpoints replace older ones, and vacuum still works off
    the checkpointed manifests."""
    log = SnapshotLog(str(tmp_path / "t"))
    for n in (10, 20, 30):
        log.commit(spark.range(n))
    upto = log.checkpoint()
    assert upto == 2
    assert log._tail_versions() == []  # tail consumed
    assert log.versions() == [0, 1, 2]
    assert log.read(spark, 0).count() == 10 and log.read(spark, 2).count() == 30
    log.commit(spark.range(40))
    log.commit(spark.range(50))
    assert log.versions() == [0, 1, 2, 3, 4]
    assert log.entry(1)["files"] and log.entry(4)["files"]  # both paths resolve
    assert log.checkpoint() == 4
    cps = [f for f in os.listdir(str(tmp_path / "t" / "_log")) if f.startswith("checkpoint-")]
    assert cps == ["checkpoint-00004.json"]  # older checkpoint replaced
    assert log.read(spark, 3).count() == 40
    removed = log.vacuum(keep={4})
    assert removed and log.read(spark, 4).count() == 50


def test_stream_apply_changes_handles_zero_and_reinsert(spark, tmp_path):
    """The retract/apply zero-state invariant: a group retracted to n=0
    drops from the view, and a later re-insert rebuilds it from zero —
    absent-state == zero-state under any batch split."""
    from experiments_datafusion_spark.streaming import pipelines

    view = str(tmp_path / "view")
    spark.createDataFrame(
        [("a", 1, 100), ("b", 2, 300)], "status string, n long, price_units long"
    ).write.parquet(view)
    src_dir = tmp_path / "chg"
    src_dir.mkdir()

    def add_file(rows, name):
        stage = tmp_path / ("s_" + name)
        spark.createDataFrame(
            rows, "k long, status string, price_c long, _change_type string"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        import shutil

        shutil.copy(next(stage.glob("part-*.parquet")), src_dir / name)

    # batch 1 retracts group a to zero; batch 2 re-inserts into a
    add_file([(1, "a", 100, "delete")], "a_b1.parquet")
    add_file([(9, "a", 77, "insert"), (2, "b", 300, "update_preimage"),
              (2, "b", 350, "update_postimage")], "b_b2.parquet")
    schema = "k long, status string, price_c long, _change_type string"
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    q = pipelines.stream_apply_changes(src, view)
    assert q.awaitTermination(180)
    got = {r.status: (r.n, r.price_units) for r in spark.read.parquet(view).collect()}
    assert got == {"a": (1, 77), "b": (2, 350)}


def test_zorder_2d_manifest_pruning(spark, sf_dir, tmp_path):
    """2-D file skipping over the Z-ordered layout: the conjunctive band
    prunes files on BOTH dimensions (survivors strictly < total), the
    pruned scan's numFiles metric equals the survivor count, and the
    z-layout skips on the y-band where a 1-D x-range-clustered layout
    structurally cannot."""
    import pyspark.sql.functions as SF

    from experiments_datafusion_spark.plans.audit import file_scan_metrics
    from experiments_datafusion_spark.queries import round10 as R10

    log = R10.zorder_layout_log(spark, sf_dir, str(tmp_path / "z"))
    view = log.view()
    total = len(view.prune(0, {}))
    bands = {"x": (R10._ZX_LO, R10._ZX_HI), "y": (R10._ZY_LO, R10._ZY_HI)}
    survivors = view.prune(0, bands)
    assert 0 < len(survivors) < total

    band = log.read_files(spark, 0, survivors).where(
        SF.col("x").between(R10._ZX_LO, R10._ZX_HI)
        & SF.col("y").between(R10._ZY_LO, R10._ZY_HI)
    )
    scans = file_scan_metrics(band)
    assert len(scans) == 1
    assert scans[0]["numFiles"] == len(survivors)

    # counterfactual: a 1-D layout clustered on x has no y locality, so the
    # y-band alone prunes nothing there — while the z-layout still skips
    one_d = SnapshotLog(str(tmp_path / "xonly"))
    one_d.commit(
        log.read(spark, 0).repartitionByRange(R10._Z_FILES, "x"), stats_cols=["x", "y"]
    )
    y_band = {"y": (R10._ZY_LO, R10._ZY_HI)}
    z_y_survivors = view.prune(0, y_band)
    x_y_survivors = one_d.view().prune(0, y_band)
    # 1-D layout has no y locality (an x-range file sees ~uniform y, so
    # nearly every file straddles the band); the z layout genuinely skips
    assert len(z_y_survivors) < len(x_y_survivors)
    assert len(z_y_survivors) < R10._Z_FILES  # z layout: y alone skips files


def test_mor_reader_drops_join_after_compaction(spark, tmp_path):
    """The MoR reader state machine (r9 verdict stretch #9): with a pending
    delete sidecar the view is a BroadcastHashJoin LeftAnti; after
    compaction the SAME reader resolves to the plain compacted scan with
    NO join in the plan — and both views return identical rows."""
    from experiments_datafusion_spark.operators.table_format import (
        SnapshotLog,
        mor_current_view,
    )

    log = SnapshotLog(str(tmp_path / "mor"))
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    log.commit(base, kind="base")
    log.commit(
        log.read(spark, 0).where(F.col("k") % 10 == 0).select("k"),
        kind="delete-sidecar",
    )
    pending = mor_current_view(log, spark, "k")
    plan_pending = pending._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_pending and "LeftAnti" in plan_pending
    want = sorted((r.k, r.v) for r in pending.collect())

    log.commit(pending, kind="compacted")
    compacted = mor_current_view(log, spark, "k")
    plan_post = compacted._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan_post  # the anti-join is gone
    assert sorted((r.k, r.v) for r in compacted.collect()) == want
    assert len(want) == 900


def _mk_events(spark, users, val):
    return spark.createDataFrame(
        [(int(u), float(val)) for u in users], "user_id long, value double"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))


def test_stream_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The round-10 scale fix for the streaming CDC upsert: a micro-batch
    must rewrite ONLY the hash buckets it touches — untouched buckets'
    files stay byte-identical (path+size+mtime), touched buckets change,
    and the final state still equals the batch aggregate."""
    import glob
    import re
    import shutil

    from experiments_datafusion_spark.streaming import pipelines

    src = tmp_path / "src"
    src.mkdir()
    tgt = str(tmp_path / "state")
    schema = "user_id long, value double, ts timestamp"

    def add_file(df, name):
        stage = tmp_path / ("stage_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, src / name)

    def run_stream():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = pipelines.stream_upsert_totals(s, tgt, integer_units=True, num_buckets=8)
        assert q.awaitTermination(180), "stream did not drain"

    # batch 1: 64 users -> every bucket populated
    add_file(_mk_events(spark, range(64), 1.0), "a_batch1.parquet")
    run_stream()
    snap = {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(f"{tgt}/bucket=*/*.parquet")
    }
    assert len({re.search(r"bucket=(\d+)", p).group(1) for p in snap}) == 8

    # batch 2 (same checkpoint -> incremental): touches only users 0 and 1
    add_file(_mk_events(spark, [0, 1], 2.0), "b_batch2.parquet")
    run_stream()

    touched = {
        r.b
        for r in _mk_events(spark, [0, 1], 0.0)
        .select(F.pmod(F.xxhash64("user_id"), F.lit(8)).cast("int").alias("b"))
        .collect()
    }
    assert 0 < len(touched) < 8
    changed_untouched, changed_touched = [], set()
    for p, (size, mtime) in snap.items():
        b = int(re.search(r"bucket=(\d+)", p).group(1))
        same = os.path.exists(p) and (os.path.getsize(p), os.path.getmtime(p)) == (size, mtime)
        if b in touched:
            if not same:
                changed_touched.add(b)
        elif not same:
            changed_untouched.append(p)
    assert not changed_untouched  # untouched buckets byte-identical
    assert changed_touched == touched  # every touched bucket actually rewritten

    final = {
        r.user_id: (r.events_seen, r.value_sum)
        for r in spark.read.parquet(tgt).collect()
    }
    assert final[0] == (2, 300) and final[1] == (2, 300)
    assert final[63] == (1, 100) and len(final) == 64


def test_table_changes_all_classes_nonvacuous(spark, sf_dir):
    df = all_queries()["table_changes"].fn(spark, sf_dir)
    counts = {r._change_type: r.n for r in
              df.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"insert", "delete", "update_preimage", "update_postimage"}
    assert all(v > 0 for v in counts.values())
    # pre/post come in pairs — one retraction per application
    assert counts["update_preimage"] == counts["update_postimage"]


# ---- schema evolution (column ids: rename / widen / drop / add) -------------------


def test_evolve_is_metadata_only_and_reads_through_ids(spark, tmp_path):
    """RENAME/WIDEN/DROP rewrite ZERO data files (the evolve entry carries
    the parent's exact file list), and read resolves old files'
    physical names through the id mapping with the widening cast."""
    log = SnapshotLog(str(tmp_path / "t"))
    df0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k bigint, status string, price_c int"
    )
    log.commit_columns(
        df0, [(1, "k", "bigint"), (2, "status", "string"), (3, "price_c", "int")]
    )
    files_v0 = [
        (f["path"], f["size"], os.path.getmtime(f["path"]))
        for f in log.entry(0)["files"]
    ]
    v1 = log.evolve([(1, "k", "bigint"), (3, "amount_c", "bigint")])
    assert [
        (f["path"], f["size"], os.path.getmtime(f["path"]))
        for f in log.entry(v1)["files"]
    ] == files_v0  # metadata-only: same paths, sizes, mtimes
    out = log.read(spark, v1)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("k", "bigint"),
        ("amount_c", "bigint"),
    ]  # renamed + widened; status gone
    assert sorted((r.k, r.amount_c) for r in out.collect()) == [(1, 10), (2, 20)]


def test_evolved_append_unions_both_file_generations(spark, tmp_path):
    """Files written under the OLD schema and files written under the NEW
    one are read through one id-mapped scan; an ADDED column (fresh id)
    surfaces NULL for pre-evolution files."""
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit_columns(
        spark.createDataFrame([(1, 10)], "k bigint, price_c int"),
        [(1, "k", "bigint"), (3, "price_c", "int")],
    )
    log.evolve(
        [(1, "k", "bigint"), (3, "amount_c", "bigint"), (4, "tag", "string")]
    )
    log.commit_append(
        spark.createDataFrame([(2, 20, "new")], "k bigint, amount_c bigint, tag string")
    )
    got = sorted(
        (r.k, r.amount_c, r.tag) for r in log.read(spark).collect()
    )
    assert got == [(1, 10, None), (2, 20, "new")]


# ---- partition-spec evolution ------------------------------------------------------


def test_partition_evolution_prunes_both_layout_generations(spark, sf_dir, tmp_path):
    """Under the two-band predicate, files are skipped from BOTH specs —
    spec-A (date-clustered) shrinks on the date band, spec-B
    (custkey-clustered) shrinks on the custkey band — and the pruned scan
    equals the full-scan answer (conjunctive pruning is sound across a
    mixed layout)."""
    from datetime import datetime

    from experiments_datafusion_spark.queries import round10 as R10

    log = R10.partition_evolution_log(spark, sf_dir, str(tmp_path / "pe"))
    spec_a = {f["path"] for f in log.entry(0)["files"]}
    spec_b = {f["path"] for f in log.entry(1)["files"]} - spec_a
    bands = {
        "o_orderdate": (
            datetime.fromisoformat(R10._PE_D_LO),
            datetime.fromisoformat(R10._PE_D_HI),
        ),
        "o_custkey": (R10._PE_C_LO, R10._PE_C_HI),
    }
    survivors = log.view().prune(1, bands)
    kept_a = {f["path"] for f in survivors if f["path"] in spec_a}
    kept_b = {f["path"] for f in survivors if f["path"] in spec_b}
    assert len(kept_a) < len(spec_a), "date band must skip spec-A files"
    assert len(kept_b) < len(spec_b), "custkey band must skip spec-B files"
    # soundness: pruned scan == full scan under the residual predicate
    pred = F.col("o_orderdate").between(R10._PE_D_LO, R10._PE_D_HI) & F.col(
        "o_custkey"
    ).between(R10._PE_C_LO, R10._PE_C_HI)
    full = log.read(spark, 1).where(pred).count()
    pruned = log.read_files(spark, 1, survivors).where(pred).count()
    assert pruned == full > 0


# ---- bloom file skipping -----------------------------------------------------------


def test_bloom_prunes_where_minmax_cannot(spark, sf_dir, tmp_path):
    """The counterfactual that justifies the bloom tier: on a round-robin
    layout every file's [min, max] spans the domain so interval pruning
    keeps ALL files, while the per-file bloom admits only a handful —
    and never loses a probed key (exact-negative property)."""
    from experiments_datafusion_spark.io import table as load_table
    from experiments_datafusion_spark.operators.table_format import (
        SnapshotLog,
        bloom_probe_positions,
        bloom_prune,
        file_bloom,
    )
    from experiments_datafusion_spark.queries import round10 as R10

    log = SnapshotLog(str(tmp_path / "b"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    log.commit(orders.repartition(R10._BLOOM_FILES), stats_cols=["o_orderkey"])
    probes = R10._BLOOM_PROBES
    # min/max tier: a MID-domain probe sits inside every file's [min, max]
    # (a probe near the domain edge can luck into some pruning even here);
    # the scan's keep-set for the IN predicate is the UNION over probes
    view = log.view()
    for k in probes[1:]:  # 421, 1287 — mid-domain at every sf
        assert len(view.prune(0, {"o_orderkey": (k, k)})) == R10._BLOOM_FILES
    minmax_keep = {
        f["path"] for k in probes for f in view.prune(0, {"o_orderkey": (k, k)})
    }
    # bloom tier: strictly fewer files, none containing a probe is lost
    m = max(8192, 12 * (orders.count() // R10._BLOOM_FILES))
    blooms = file_bloom(log.read(spark, 0), "o_orderkey", m=m)
    survivors = bloom_prune(blooms, bloom_probe_positions(spark, probes, m=m))
    assert 0 < len(survivors) < len(minmax_keep) == R10._BLOOM_FILES
    admitted = [f for f in log.entry(0)["files"] if f["path"] in set(survivors)]
    assert len(admitted) == len(survivors)
    got = (
        log.read_files(spark, 0, admitted)
        .where(F.col("o_orderkey").isin(*probes))
        .count()
    )
    assert got == len(probes)


# ---- stats-only aggregate ----------------------------------------------------------


def test_stats_only_answers_after_data_files_deleted(spark, tmp_path):
    """The zero-data-read proof: delete every data file; the manifest's
    write-time stats still answer count/min/max, and they equal the
    pre-delete scan answer."""
    from experiments_datafusion_spark.operators.table_format import SnapshotLog

    log = SnapshotLog(str(tmp_path / "s"))
    df = spark.range(1000).select((F.col("id") * 3 + 7).alias("x"))
    log.commit(df.repartition(4), stats_cols=["x"])
    want = log.read(spark, 0).agg(
        F.count(F.lit(1)), F.min("x"), F.max("x")
    ).collect()[0]
    for fe in log.manifest(0):
        os.remove(fe.path)
    assert log.stats_only_agg(0, "x") == (want[0], want[1], want[2]) == (1000, 7, 3004)


# ---- conditional MERGE INTO --------------------------------------------------------


def test_merge_into_all_when_branches(spark):
    """Every WHEN branch on one tiny frame: matched+delete-cond drops,
    matched updates from source, unmatched target passes through,
    insert-cond filters source-only rows."""
    from experiments_datafusion_spark.operators.table_format import merge_into

    target = spark.createDataFrame(
        [(1, "keep", 10), (2, "upd", 20), (3, "del", 30)],
        "k bigint, status string, price_c bigint",
    )
    source = spark.createDataFrame(
        [(2, "O", 99), (3, "F", 77), (4, "O", 40), (5, "O", 41)],
        "k bigint, status string, price_c bigint",
    )
    got = sorted(
        (r.k, r.status, r.price_c)
        for r in merge_into(
            target,
            source,
            key="k",
            payload=["status", "price_c"],
            matched_delete=lambda t, s: F.col("s.status") == "F",
            not_matched_insert=lambda s: F.col("s.price_c") % 2 == 0,
        ).collect()
    )
    assert got == [
        (1, "keep", 10),  # not matched by source: unchanged
        (2, "O", 99),  # matched: updated from source
        # (3, ...) matched + source status 'F': deleted
        (4, "O", 40),  # not matched + insert-cond true: inserted
        # (5, ...) insert-cond false: not inserted
    ]


# ---- optimistic concurrency: put-if-absent publish + append rebase ----------------


def test_publish_is_put_if_absent(spark, tmp_path):
    """A racing writer that already took the version number surfaces as
    CommitConflict — never as a silently replaced log entry (POSIX rename
    would lose the winner's commit; os.link cannot)."""
    from experiments_datafusion_spark.operators.table_format import (
        CommitConflict,
        SnapshotLog,
    )

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(5))
    # another handle on the same table wins version 1 first
    other = SnapshotLog(str(tmp_path / "t"))
    other.commit_append(spark.range(5, 10), note="winner")
    # loser prepared against the stale latest: craft its entry directly
    stale_entry = dict(log.entry(1))
    stale_entry["note"] = "loser"
    with pytest.raises(CommitConflict):
        log._publish(1, stale_entry)
    assert log.entry(1)["note"] == "winner"  # winner's entry intact


def test_append_rebases_on_conflict(spark, tmp_path):
    """Two writers append concurrently: the loser detects the conflict at
    its publish, rebases onto the winner's version, and lands WITHOUT
    rewriting its data files — final table = base + winner + loser."""
    from experiments_datafusion_spark.operators.table_format import SnapshotLog

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(10))
    other = SnapshotLog(str(tmp_path / "t"))

    real_publish = log._publish
    raced = {"done": False}

    def racy_publish(version, entry):
        if not raced["done"]:
            raced["done"] = True
            # winner lands between the loser's latest_version() read and
            # its publish — the classic optimistic-concurrency window
            other.commit_append(spark.range(10, 20), note="winner")
        return real_publish(version, entry)

    log._publish = racy_publish
    v = log.commit_append(spark.range(20, 30), note="loser-rebased")
    assert v == 2  # rebased past the winner's version 1
    assert log.entry(2)["note"] == "loser-rebased"
    assert sorted(r.id for r in log.read(spark, 2).collect()) == list(range(30))
    # the loser's data files were written exactly once: the files v2 added
    # live in ONE batch dir, and no other batch dir (an orphan from a
    # rewritten retry) exists beside the winner's
    def dirs(v: int) -> set:
        return {os.path.dirname(f["path"]) for f in log.entry(v)["files"]}

    loser_dirs = dirs(2) - dirs(1)
    assert len(loser_dirs) == 1
    batch_dirs = {
        os.path.join(log.root, d) for d in os.listdir(log.root) if d.startswith("b-")
    }
    assert batch_dirs == (dirs(1) - dirs(0)) | loser_dirs


def test_rebased_append_schema_check_uses_new_latest(spark, tmp_path):
    """The rebase re-validates the batch schema against the NEW latest —
    a schema-drifting batch fails loudly even after a conflict."""
    from experiments_datafusion_spark.operators.table_format import SnapshotLog

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(3).select(F.col("id"), F.lit(1).alias("x")))
    with pytest.raises(ValueError, match="schema mismatch"):
        log.commit_append(spark.range(3))  # missing column x


# ---- write-audit-publish -----------------------------------------------------------


def test_staged_snapshots_are_invisible_until_published(spark, tmp_path):
    """kind='staged' entries never surface as the view's published head; a
    published batch merges into the head; an abandoned staged batch's
    files are vacuumable while the published state survives."""
    from experiments_datafusion_spark.operators.table_format import (
        SnapshotLog,
        commit_staged,
        publish_staged,
    )

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(10))
    assert log.view().head == 0
    sv = commit_staged(log, spark.range(10, 20))
    assert log.view().head == 0  # staged: durable but invisible
    assert log.read(spark, log.view().head).count() == 10
    pv = publish_staged(log, sv)
    assert log.view().head == pv
    assert log.read(spark, pv).count() == 20  # merged into the head
    # an audit-failed batch: staged, never published, vacuumed away
    bad = commit_staged(log, spark.range(99, 120))
    bad_files = {fe.path for fe in log.manifest(bad)}
    assert log.view().head == pv
    removed = set(log.vacuum(keep={pv}))
    assert bad_files <= removed
    assert log.read(spark, pv).count() == 20  # published state intact


def test_publish_requires_staged_kind(spark, tmp_path):
    from experiments_datafusion_spark.operators.table_format import (
        SnapshotLog,
        publish_staged,
    )

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(3))
    with pytest.raises(ValueError, match="not a staged snapshot"):
        publish_staged(log, 0)


# ---- CHECK constraints -------------------------------------------------------------


def test_enforce_checks_null_passes_and_counts_per_check(spark):
    """SQL CHECK semantics: FALSE violates, NULL passes; the violation
    report carries per-check counts."""
    from experiments_datafusion_spark.operators.table_format import (
        ConstraintViolation,
        enforce_checks,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, None), (4, -1)], "k bigint, x bigint"
    )
    # x > 0: rows -5 and -1 violate; NULL passes (unknown)
    with pytest.raises(ConstraintViolation, match="x_positive.*2"):
        enforce_checks(df, [("x_positive", F.col("x") > 0)])
    # all-pass set raises nothing
    enforce_checks(df.where(F.coalesce(F.col("x"), F.lit(1)) > 0),
                   [("x_positive", F.col("x") > 0)])


def test_rejected_batch_leaves_log_untouched(spark, tmp_path):
    from experiments_datafusion_spark.operators.table_format import (
        ConstraintViolation,
        SnapshotLog,
        enforce_checks,
    )

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.createDataFrame([(i,) for i in range(1, 10)], "x bigint"))
    bad = spark.createDataFrame([(0,), (5,)], "x bigint")

    # the production gate: enforce, and commit ONLY if the checks pass
    # (mirroring queries/round10.table_constraints) — keeping the commit
    # outside the raises block so the log assertions actually bite
    def gated_append(df):
        enforce_checks(df, [("x_positive", F.col("x") > 0)])
        log.commit_append(df)

    with pytest.raises(ConstraintViolation):
        gated_append(bad)
    assert log.versions() == [0]
    assert log.read(spark).count() == 9
    # a passing batch flows through the same gate
    gated_append(spark.createDataFrame([(7,)], "x bigint"))
    assert log.versions() == [0, 1]
    assert log.read(spark).count() == 10


# ---- shallow clone -----------------------------------------------------------------


def test_clone_shares_files_and_diverges_in_isolation(spark, tmp_path):
    """The clone's v0 references the source's exact file paths (zero data
    copied — no parquet exists under the clone root until it writes);
    appending to the clone never touches the source's files; and the
    documented caveat holds: vacuuming the SOURCE breaks the clone's
    shared references."""
    from experiments_datafusion_spark.operators.table_format import (
        SnapshotLog,
        clone_shallow,
    )

    src = SnapshotLog(str(tmp_path / "src"))
    src.commit(spark.range(100))
    src_files = [(fe.path, fe.size, os.path.getmtime(fe.path)) for fe in src.manifest(0)]
    dst = clone_shallow(src, str(tmp_path / "dst"))
    assert {fe.path for fe in dst.manifest(0)} == {p for p, _, _ in src_files}
    assert not [
        f
        for _dir, _s, fs in os.walk(str(tmp_path / "dst"))
        for f in fs
        if f.endswith(".parquet")
    ]  # zero-copy: the clone root holds metadata only
    dst.commit_append(spark.range(100, 150))
    assert [
        (fe.path, fe.size, os.path.getmtime(fe.path)) for fe in src.manifest(0)
    ] == src_files  # source untouched by the clone's write
    assert src.read(spark).count() == 100
    assert dst.read(spark).count() == 150
    # re-cloning onto an existing table is refused
    with pytest.raises(ValueError, match="already has a log"):
        clone_shallow(src, str(tmp_path / "dst"))
    # the shallow-clone caveat: source vacuum removes shared files
    src.commit(spark.range(5))  # source moves on
    src.vacuum(keep={1})
    with pytest.raises(Exception):
        dst.read(spark).count()


# ---- streaming minhash dedup: LSM band state --------------------------------------


def test_stream_minhash_split_invariance_and_incrementality(spark, sf_dir, tmp_path):
    """The LSM-shaped dedup state is split-invariant: appending band rows
    in 1 batch vs 3 batches yields the identical bucket-min state and the
    identical survivor verdicts (min-merge is associative+commutative),
    and the 3-batch ingest really is incremental (3 append commits whose
    manifests grow monotonically)."""
    from experiments_datafusion_spark.io import table as load_table
    from experiments_datafusion_spark.queries.round10 import _doc_bands

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)

    def verdicts(band_df):
        bmin = band_df.groupBy("band", "bh").agg(F.min("doc_id").alias("m"))
        return sorted(
            (r.doc_id, r.keep)
            for r in band_df.join(bmin, ["band", "bh"])
            .groupBy("doc_id")
            .agg((F.min("m") == F.col("doc_id")).cast("int").alias("keep"))
            .collect()
        )

    one = SnapshotLog(str(tmp_path / "one"))
    one.commit_append(_doc_bands(docs))
    three = SnapshotLog(str(tmp_path / "three"))
    for i in range(3):
        three.commit_append(_doc_bands(docs.where(F.col("doc_id") % 3 == i)))
    assert len(three.versions()) == 3
    sizes = [len(three.manifest(v)) for v in three.versions()]
    assert sizes == sorted(sizes)  # append-only growth
    v1, v3 = verdicts(one.read(spark)), verdicts(three.read(spark))
    assert v1 == v3
    assert any(k == 0 for _d, k in v3), "corpus must contain near-dups to dedup"


# ---- RESTORE -----------------------------------------------------------------------


def test_restore_is_metadata_only_and_preserves_history(spark, tmp_path):
    """RESTORE commits the old version's exact file list forward (no data
    rewritten); the bad intermediate version stays readable for forensics
    until vacuumed; vacuum keeping the restored tip removes only the bad
    version's own files."""
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(100))
    log.commit(spark.range(100).where(F.col("id") % 4 != 0))  # bad write
    v2 = log.restore(0)
    assert [(f.path, f.size) for f in log.manifest(v2)] == [
        (f.path, f.size) for f in log.manifest(0)
    ]
    assert log.read(spark, v2).count() == 100  # rolled back
    assert log.read(spark, 1).count() == 75  # forensics: bad version readable
    bad_files = {f.path for f in log.manifest(1)} - {f.path for f in log.manifest(0)}
    removed = set(log.vacuum(keep={v2}))
    assert removed == bad_files
    assert log.read(spark, v2).count() == 100


def test_packed_bloom_equals_positions_bloom(spark, tmp_path):
    """The packed 64-bit-word bloom admits exactly the same files as the
    positions-set bloom for the same (m, k, data) — representation
    change, not a semantics change."""
    from experiments_datafusion_spark.operators.table_format import (
        SnapshotLog,
        bloom_probe_positions,
        bloom_prune,
        bloom_prune_packed,
        file_bloom,
        file_bloom_packed,
    )

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(5000).select((F.col("id") * 7 + 3).alias("k")).repartition(8))
    df = log.read(spark, 0)
    probes = bloom_probe_positions(spark, [10, 3503, 34996, 999_999])
    a = bloom_prune(file_bloom(df, "k"), probes)
    b = bloom_prune_packed(file_bloom_packed(df, "k"), probes)
    assert a == b and 0 < len(a) < 8


def test_native_parquet_bloom_prunes_row_groups(spark, sf_dir, tmp_path):
    """The bloom-enabled scan emits strictly fewer rows than the
    bloom-less twin of the SAME data under the SAME pushed IN predicate
    (scan numOutputRows via SparkPlan metrics), and both return the
    identical probed rows."""
    from experiments_datafusion_spark.plans.audit import file_scan_metrics
    from experiments_datafusion_spark.queries import round10 as R10

    R10._native_bloom_write(spark, sf_dir, str(tmp_path / "with"), bloom=True)
    R10._native_bloom_write(spark, sf_dir, str(tmp_path / "without"), bloom=False)

    def probe(path):
        return spark.read.parquet(path).where(
            F.col("o_orderkey").isin(*R10._NBLOOM_PROBES)
        )

    rows_with = sorted(r.o_orderkey for r in probe(str(tmp_path / "with")).collect())
    rows_without = sorted(
        r.o_orderkey for r in probe(str(tmp_path / "without")).collect()
    )
    assert rows_with == rows_without == sorted(R10._NBLOOM_PROBES)
    emitted_with = sum(
        m["numOutputRows"] for m in file_scan_metrics(probe(str(tmp_path / "with")))
    )
    emitted_without = sum(
        m["numOutputRows"]
        for m in file_scan_metrics(probe(str(tmp_path / "without")))
    )
    assert emitted_with < emitted_without


# ---- snapshot log as a streaming source --------------------------------------------


def test_snaplog_source_restart_exactly_once(spark, tmp_path):
    """The streaming source's offsets are log versions: a second
    availableNow run from the SAME checkpoint emits only rows from
    versions committed after the first drain — restart exactly-once,
    with every row stamped by the commit that added it."""
    from experiments_datafusion_spark.sources.sortbench_source import (
        register_sources,
    )

    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(10).select(F.col("id")))
    log.commit_append(spark.range(10, 25).select(F.col("id")))

    def drain():
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
        assert q.awaitTermination(180)

    drain()
    got1 = spark.read.parquet(str(tmp_path / "out"))
    assert got1.count() == 25
    assert {r._commit_version for r in got1.select("_commit_version").distinct().collect()} == {0, 1}
    # table moves on; restart from the same checkpoint
    log.commit_append(spark.range(25, 31).select(F.col("id")))
    drain()
    got2 = spark.read.parquet(str(tmp_path / "out"))
    assert got2.count() == 31  # only the 6 new rows were appended
    assert sorted(r.id for r in got2.collect()) == list(range(31))
    assert {
        r._commit_version for r in got2.select("_commit_version").distinct().collect()
    } == {0, 1, 2}


def test_snaplog_source_multi_file_commits_emit_exactly_once(spark, tmp_path):
    """Multi-file append commits drain exactly once.  (This test started
    life covering a maxFilesPerBatch knob; the knob turned out to be both
    dead — Spark lowercases DataSource option keys — and WRONG by design:
    truncating partitions() after the offset range is fixed loses the
    truncated files' rows.  The knob was removed; the exactly-once drain
    over multi-file commits is what remains worth pinning.)"""
    from experiments_datafusion_spark.sources.sortbench_source import (
        register_sources,
    )

    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(8).repartition(4))
    log.commit_append(spark.range(8, 20).repartition(4))
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
    assert q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r.id for r in got.collect()) == list(range(20))


def test_append_onto_staged_is_refused(spark, tmp_path):
    """Appends extend the PUBLISHED lineage: an append on top of a staged
    (unpublished) snapshot would leak the un-audited batch's files into a
    data entry, so the commit refuses loudly."""
    from experiments_datafusion_spark.operators.table_format import commit_staged

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(5))
    commit_staged(log, spark.range(5, 9))
    with pytest.raises(ValueError, match="staged"):
        log.commit_append(spark.range(9, 12))


def test_snaplog_source_survives_log_checkpoint(spark, tmp_path):
    """After checkpoint() consolidates the log's tail entries, the
    streaming source still resolves parents correctly: a post-checkpoint
    append emits ONLY its new rows (a raw tail-only reader would see the
    first post-checkpoint version as parentless and re-emit everything)."""
    from experiments_datafusion_spark.sources.sortbench_source import (
        register_sources,
    )

    register_sources(spark)
    root = str(tmp_path / "t")
    log = SnapshotLog(root)
    log.commit_append(spark.range(10))
    log.commit_append(spark.range(10, 30))

    def drain():
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
        assert q.awaitTermination(180)

    drain()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 30
    log.checkpoint()  # consolidate tail entries
    log.commit_append(spark.range(30, 37))
    drain()
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 37  # exactly the 7 new rows; no re-emission
    assert sorted(r.id for r in got.collect()) == list(range(37))


def test_concurrent_appends_all_land_no_lost_updates(spark, tmp_path):
    """Stress the put-if-absent protocol with real concurrency: 6 threads
    append disjoint row ranges through commit_append against ONE
    log root.  Every batch must land (6 commits after the base), the
    final version must contain every row exactly once, and each thread's
    data files must be written exactly once (6 batch dirs)."""
    import threading

    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(spark.range(0, 100))
    errors = []

    def writer(i: int) -> None:
        try:
            # each thread its own handle, as separate writers would have
            own = SnapshotLog(str(tmp_path / "t"))
            own.commit_append(
                spark.range(100 + i * 50, 100 + (i + 1) * 50), note=f"w{i}"
            )
        except Exception as exc:  # noqa: BLE001
            errors.append((i, exc))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert log.latest_version() == 6  # base + 6 appends, no version lost
    got = sorted(r.id for r in log.read(spark).collect())
    assert got == list(range(400))  # every row exactly once
    batch_dirs = [d for d in os.listdir(str(tmp_path / "t")) if d.startswith("b-")]
    assert len(batch_dirs) == 6  # each batch written exactly once
