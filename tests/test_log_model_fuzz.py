"""Model-based STATE-MACHINE fuzZing of the snapshot log (rounds 11-13):
a seeded random walk over the commit surface — append, band-delete
rewrite, compaction (round-robin AND clustered),
RESTORE, log checkpointing, TIMESTAMP AS OF, and (round 12, VERDICT r11
next #8) write-audit-publish (stage + publish AND stage + abandon +
recovery), shallow CLONE, and retention VACUUM (also under a pending
staged tip) — with a plain-Python MODEL of the expected table contents
at every version.  After every
operation the real log's read must equal the model, AS OF reads must
equal the model's history, and changes_between must equal the model's
set diff.  A second walk covers the merge-on-read surface (delete
sidecars + compaction-reconcile) against a live-set model through
``mor_current_view``.

Round 13 (VERDICT r12 next #5) widens the walks to the r12/r13 read-write
surface: SINK-shaped ``append_once`` commits with txn replays (the
exactly-once ledger must answer replays from ANY interleaved tip), batch
reader-API CDF over random version ranges — including REWRITE-bearing
ranges through the round-13 diff fallback — checked against the model's
per-version multiset diff, paced stream drains (maxFilesPerTrigger +
skipChangeCommits over whatever commit kinds the walk interleaved), and
a schema-tracked streaming drain in the EVOLVING walk (the id-mapped
backfill stream must agree with the column-id model after any
rename/add/drop/widen prefix).

This is the table-format analog of tools/fuzz_differential.py: the
hand-written keys each pin one dataflow; the walk probes the COMPOSITION
space (restore after compaction, publish after restore, vacuum through a
checkpoint, ...) that no single key enumerates.  Seeded, so a failure
reproduces exactly.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from experiments_datafusion_spark.operators.table_format import (
    LogView,
    SnapshotLog,
    append_once,
    changes_between,
    clone_shallow,
    commit_staged,
    file_stats,
    mor_current_view,
    publish_staged,
)
from experiments_datafusion_spark.sources import register_sources


def _entry_paths(log: SnapshotLog, v: int) -> set:
    return {f["path"] for f in log.entry(v)["files"]}


def _read_ids(log: SnapshotLog, spark, version=None) -> list[int]:
    return sorted(r.id for r in log.read(spark, version).collect())


def _df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id bigint")


@pytest.mark.parametrize("seed", [20261101, 20261102, 20261103])
def test_log_random_walk_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    log = SnapshotLog(str(tmp_path / f"t{seed}"))
    next_id = 0

    def fresh_ids(k):
        nonlocal next_id
        ids = list(range(next_id, next_id + k))
        next_id += k
        return ids

    # model: expected sorted id list per version; clock: synthetic ts per
    # version (stamped after each commit so TIMESTAMP AS OF is testable)
    cur = fresh_ids(rng.randint(5, 20))
    v = log.commit(_df(spark, cur), note="v0")
    log.stamp_ts(v, 0.0)
    model = {0: sorted(cur)}
    # round-13 walk state: per-version append-shape adds for versions
    # WITHOUT file removals (what a skipChangeCommits stream emits),
    # the sink txn ledger, and whether a vacuum ever ran (a fresh stream
    # over a vacuumed log may want files a rewrite dropped — the same
    # data-loss edge Delta gates behind failOnDataLoss, out of scope)
    clean_adds: dict[int, list[int]] = {0: list(cur)}
    next_txn = 0
    vacuumed = False
    drains = 0

    cloned = False
    for step in range(1, 31):
        op = rng.choices(
            ["append", "delete", "compact",
             "compact_sorted", "restore", "checkpoint", "wap_publish",
             "wap_abandon", "vacuum_retain", "wap_vacuum", "clone",
             "sink_commit", "batch_cdf", "paced_drain"],
            weights=[30, 16, 8, 8, 8, 4, 8, 5, 4, 4, 3, 10, 8, 4],
        )[0]
        if op == "sink_commit":
            # the streaming sink's commit shape: append_once with a
            # monotone (appId, txn) — interleaved with every other kind,
            # the ledger must still answer replays from the CURRENT tip
            ids = fresh_ids(rng.randint(1, 8))
            v = append_once(log, _df(spark, ids), app_id="walker",
                            txn_version=next_txn)
            cur = sorted(cur + ids)
            log.stamp_ts(v, float(v))
            model[v] = sorted(cur)
            clean_adds[v] = ids
            assert _read_ids(log, spark) == model[v], f"seed={seed} sink"
            if next_txn >= 1 and rng.random() < 0.5:
                # replay an already-committed batch: MUST be a no-op
                old = rng.randrange(next_txn + 1)
                rv = append_once(log, _df(spark, [987_654_321]),
                                 app_id="walker", txn_version=old)
                assert rv < v or rv == v, f"seed={seed} replay"
                assert log.latest_version() == v, f"seed={seed} replay tip"
                assert _read_ids(log, spark) == model[v], f"seed={seed} replay rows"
            next_txn += 1
            continue
        if op == "batch_cdf":
            # reader-API CDF over a random range — REWRITE versions
            # included via the round-13 diff fallback; expected = the
            # model's per-version multiset diff (ids are unique, so sets)
            pubs = sorted(model)
            if len(pubs) < 3:
                continue
            register_sources(spark)
            a, b = sorted(rng.sample(pubs[1:], 2))
            got = (
                spark.read.format("snaplog")
                .option("path", log.root)
                .option("readChangeFeed", "true")
                .option("startingVersion", str(a))
                .option("endingVersion", str(b))
                .load()
                .collect()
            )
            got_set = {(r.id, r._change_type, r._commit_version) for r in got}
            want = set()
            for w in pubs:
                if not a <= w <= b:
                    continue
                prev = model[pubs[pubs.index(w) - 1]]
                ins = set(model[w]) - set(prev)
                dels = set(prev) - set(model[w])
                want |= {(i, "insert", w) for i in ins}
                want |= {(i, "delete", w) for i in dels}
            assert got_set == want, f"seed={seed} step={step} cdf [{a},{b}]"
            continue
        if op == "paced_drain":
            # fresh-checkpoint drain, paced + skipping change commits:
            # output must equal v0's full state plus every removal-free
            # version's adds — whatever kinds the walk interleaved in
            # between.  One availableNow run drains ONE paced window by
            # design (test_round12 pins that), so the walk drains the
            # whole log in one query: a paced micro-batch per window
            if vacuumed or drains >= 2:
                continue
            drains += 1
            register_sources(spark)
            out = str(tmp_path / f"drain{seed}-{step}")
            q = (
                spark.readStream.format("snaplog")
                .option("path", log.root)
                .option("maxFilesPerTrigger", "3")
                .option("skipChangeCommits", "true")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", out + "-chk")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            got = sorted(r.id for r in spark.read.parquet(out).collect())
            want = sorted(i for ids in clean_adds.values() for i in ids)
            assert got == want, f"seed={seed} step={step} drain"
            continue
        if op == "checkpoint":
            log.checkpoint()  # pure metadata: nothing changes, no version
            assert _read_ids(log, spark) == model[log.latest_version()]
            continue
        if op == "clone":
            # shallow clone: zero data copied, immediate divergence —
            # one-shot assertions against the source model, then the walk
            # forgets the clone (a later source vacuum may legitimately
            # strand it; that caveat is pinned in test_round10)
            if cloned:
                continue
            cloned = True
            dst = clone_shallow(log, str(tmp_path / f"c{seed}-{step}"))
            assert _read_ids(dst, spark) == sorted(cur), f"seed={seed} clone"
            extra = fresh_ids(3)
            dst.commit_append(_df(spark, extra), note="clone diverges")
            assert _read_ids(dst, spark) == sorted(cur + extra)
            assert _read_ids(log, spark) == sorted(cur)  # source untouched
            continue
        if op == "vacuum_retain":
            # retention vacuum by the synthetic clock: versions stamped
            # ts=v, so since_ts=floor keeps [floor, latest]; swept
            # versions leave the probe set (their files may or may not
            # survive via sharing — the model only promises KEPT history)
            if len(model) < 3:
                continue
            floor_v = rng.choice(sorted(model)[1:-1])
            vacuumed = True
            log.vacuum_retain(float(floor_v))
            latest = log.latest_version()
            for v in [v for v in model if v < floor_v and v != latest]:
                del model[v]
            assert _read_ids(log, spark) == model[latest], f"seed={seed} vacuum"
            continue
        if op == "wap_vacuum":
            # retention vacuum while a write-audit-publish batch is still
            # pending: the published head (not the staged tip) is the table
            # consumers read, so its files must survive, and so must the
            # staged batch's, which is then published
            if len(model) < 3:
                continue
            ids = fresh_ids(rng.randint(1, 10))
            sv = commit_staged(log, _df(spark, ids), note=f"staged {step}")
            log.stamp_ts(sv, float(sv))
            floor_v = rng.choice(sorted(model)[1:-1])
            vacuumed = True
            log.vacuum_retain(float(floor_v))
            head = max(model)
            for v in [v for v in model if v < floor_v and v != head]:
                del model[v]
            assert _read_ids(log, spark) == model[head], f"seed={seed} wap vacuum"
            v = publish_staged(log, sv)
            cur = sorted(cur + ids)
            log.stamp_ts(v, float(v))
            model[v] = sorted(cur)
            clean_adds[v] = ids
            assert _read_ids(log, spark) == model[v], f"seed={seed} wap vacuum publish"
            continue
        if op == "wap_publish":
            ids = fresh_ids(rng.randint(1, 10))
            sv = commit_staged(log, _df(spark, ids), note=f"staged {step}")
            log.stamp_ts(sv, float(sv))
            # the staged snapshot is AS-OF-readable but NOT the consumer
            # head: the published read must not move yet
            assert _read_ids(log, spark, sv) == sorted(ids)
            assert _read_ids(log, spark, max(model)) == model[max(model)]
            v = publish_staged(log, sv)
            cur = sorted(cur + ids)
            log.stamp_ts(v, float(v))
            model[v] = sorted(cur)
            clean_adds[v] = ids  # publish adds the staged files, removes none
            assert _read_ids(log, spark) == model[v], f"seed={seed} publish"
            continue
        if op == "wap_abandon":
            ids = fresh_ids(rng.randint(1, 10))
            sv = commit_staged(log, _df(spark, ids), note=f"abandoned {step}")
            log.stamp_ts(sv, float(sv))
            # a staged tip REFUSES appends/rewrites — pinned here, then
            # recovered by restoring the pre-stage state (the abandon
            # path: audit failed, never published)
            with pytest.raises(ValueError, match="staged"):
                log.commit_append(_df(spark, [999_999]), note="must refuse")
            v = log.restore(max(model))
            log.stamp_ts(v, float(v))
            model[v] = sorted(cur)
            clean_adds[v] = []  # re-publishes the head manifest: empty delta
            assert _read_ids(log, spark) == model[v], f"seed={seed} abandon"
            continue
        if op == "append":
            ids = fresh_ids(rng.randint(1, 15))
            cur = sorted(cur + ids)
            v = log.commit_append(_df(spark, ids), note=f"append {step}")
            clean_adds[v] = ids
        elif op == "delete":
            if not cur:
                continue
            lo = rng.choice(cur)
            hi = lo + rng.randint(0, max(cur) - lo)
            # rewrite: affected = files whose [min,max] hits the band, keep
            # = the rest — the pruned DELETE shape under a random band.
            # Most of the walk's commits record no stats, so the head's
            # file dicts get their blocks from one distributed stats pass
            # first: an unstatted file would be kept by the rule, turning
            # every delete into a full rewrite
            head = log.latest_version()
            e = log.entry(head)
            blocks = file_stats(log.read(spark), ["id"])
            e["files"] = [
                {**f, **blocks.get(f["path"], {"n_rows": 0, "stats": {}})}
                for f in e["files"]
            ]
            affected = LogView({head: e}).prune(head, {"id": (lo, hi)})
            if not affected:
                continue
            hit = {f["path"] for f in affected}
            kept = [f["path"] for f in e["files"] if f["path"] not in hit]
            df_new = log.read_files(spark, head, affected).where(
                ~F.col("id").between(lo, hi)
            )
            v = log.commit_rewrite(
                df_new, keep_files=kept, removed_files=sorted(hit),
                note=f"delete [{lo},{hi}]",
            )
            cur = [i for i in cur if not (lo <= i <= hi)]
        elif op == "compact":
            v = log.compact(spark, target_file_bytes=16 * 1024)
        elif op == "compact_sorted":
            v = log.compact(spark, target_file_bytes=16 * 1024, sort_cols=["id"])
        else:  # restore
            target = rng.choice(sorted(model))
            prev_paths = _entry_paths(log, log.latest_version())
            v = log.restore(target)
            if not (prev_paths - _entry_paths(log, v)):
                # removal-free restore: a skipChangeCommits stream ADMITS
                # it and emits the re-added files = the model's set gain
                clean_adds[v] = sorted(set(model[target]) - set(cur))
            cur = list(model[target])
        log.stamp_ts(v, float(v))
        model[v] = sorted(cur)
        assert _read_ids(log, spark) == model[v], f"seed={seed} step={step} op={op}"

    # history: every recorded version still reads as the model says
    probe_versions = rng.sample(sorted(model), min(6, len(model)))
    for pv in probe_versions:
        assert _read_ids(log, spark, pv) == model[pv], f"seed={seed} as-of v{pv}"
        # TIMESTAMP AS OF the synthetic clock resolves to the same state
        assert log.view().resolve(ts=float(pv) + 0.5) >= pv

    # CDF consistency: changes_between two random versions == the model diff
    a, b = sorted(rng.sample(sorted(model), 2))
    feed = changes_between(
        log.read(spark, a), log.read(spark, b), key="id", payload=[]
    )
    got = {(r.id, r._change_type) for r in feed.collect()}
    sa, sb = set(model[a]), set(model[b])
    want = {(i, "insert") for i in sb - sa} | {(i, "delete") for i in sa - sb}
    assert got == want, f"seed={seed} cdf v{a}->v{b}"


@pytest.mark.parametrize("seed", [20261111, 20261112])
def test_evolving_log_random_walk_matches_model(spark, tmp_path, seed):
    """The schema-evolution twin: random walks over {append, RENAME, ADD,
    DROP, WIDEN} with a column-ID model — rows live as {col_id: value}
    dicts, so the model is inherently rename-proof and the walk checks
    exactly what the id mapping must guarantee: every historical file
    generation resolves to the live schema (added columns NULL for
    pre-evolution rows, widened columns cast, dropped columns invisible,
    renames free)."""
    rng = random.Random(seed)
    log = SnapshotLog(str(tmp_path / f"e{seed}"))
    next_val = 0
    next_id = 3
    next_name = 0

    def vals(k):
        nonlocal next_val
        out = list(range(next_val, next_val + k))
        next_val += k
        return out

    live = [(1, "a", "bigint"), (2, "b", "int")]
    rows = []  # model: list of {col_id: int}

    def append(n):
        nonlocal rows
        new = [dict() for _ in range(n)]
        for cid, _name, _t in live:
            for r, v in zip(new, vals(n)):
                r[cid] = v
        rows = rows + new
        ddl = ", ".join(f"{name} {t}" for _i, name, t in live)
        data = [tuple(r[cid] for cid, _n, _t in live) for r in new]
        return log.commit_append(spark.createDataFrame(data, ddl))

    # v0: full commit under the id-carrying schema
    first = [dict() for _ in range(rng.randint(3, 8))]
    for cid, _name, _t in live:
        for r, v in zip(first, vals(len(first))):
            r[cid] = v
    rows = first
    ddl = ", ".join(f"{name} {t}" for _i, name, t in live)
    log.commit_columns(
        spark.createDataFrame([tuple(r[c] for c, _n, _t in live) for r in rows], ddl),
        live,
    )

    def check(step, op):
        got = log.read(spark)
        names = [name for _i, name, _t in live]
        assert sorted(got.columns) == sorted(names), (step, op)
        got_rows = sorted(
            tuple(r[name] for name in sorted(names)) for r in got.collect()
        )
        want = sorted(
            tuple(r.get(cid) for cid, name, _t in sorted(live, key=lambda c: c[1]))
            for r in rows
        )
        assert got_rows == want, f"seed={seed} step={step} op={op}"

    def tracked_drain(step):
        # round 13: a FRESH schema-tracked stream must drain the whole
        # evolved history id-mapped to the CURRENT live schema — same
        # answer as SnapshotLog.read, through the streaming path
        register_sources(spark)
        out = str(tmp_path / f"tdrain{seed}-{step}")
        q = (
            spark.readStream.format("snaplog")
            .option("path", log.root)
            .option("schemaTracking", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", out + "-chk")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), f"seed={seed} tracked drain timeout"
        got = spark.read.parquet(out).drop("_commit_version")
        names = sorted(name for _i, name, _t in live)
        assert sorted(got.columns) == names, (step, got.columns)
        got_rows = sorted(
            tuple(r[name] for name in names) for r in got.collect()
        )
        want = sorted(
            tuple(r.get(cid) for cid, name, _t in sorted(live, key=lambda c: c[1]))
            for r in rows
        )
        assert got_rows == want, f"seed={seed} step={step} tracked drain"

    check(0, "init")
    drains = 0
    rewrote = False  # tracked drains need a change-commit-free log: the
    # stream refuses rewrite/compaction versions by design (the policy
    # knobs are the MAIN walk's paced-drain territory)
    for step in range(1, 15):
        op = rng.choices(
            ["append", "rename", "add", "drop", "widen", "checkpoint",
             "tracked_drain", "compact", "rewrite", "wap"],
            weights=[27, 13, 13, 9, 13, 5, 7, 5, 5, 5],
        )[0]
        if op == "tracked_drain":
            if drains >= 2 or rewrote:
                continue
            drains += 1
            tracked_drain(step)
            continue
        if op == "compact":
            # round 13: OPTIMIZE under the id mapping — reads through
            # read, carries the live columns, all files land
            # at the new generation; the model must be unchanged
            log.compact(spark, target_file_bytes=16 * 1024)
            rewrote = True
            check(step, op)
            continue
        if op == "rewrite":
            # round 13: copy-on-write DELETE under the id mapping — drop
            # every row whose FIRST live column is a multiple of 3 (NULLs
            # survive); rewritten files land at the live generation
            if not rows:
                continue
            cid, name, _t = live[0]
            df_new = log.read(spark).where(
                F.col(name).isNull() | (F.col(name) % 3 != 0)
            )
            log.commit_rewrite(
                df_new,
                keep_files=[],
                removed_files=log.live_files([log.latest_version()]),
                note=f"rewrite {step}",
            )
            rewrote = True
            rows = [
                r for r in rows if r.get(cid) is None or r[cid] % 3 != 0
            ]
            check(step, op)
            continue
        if op == "wap":
            # round 13: stage + publish under the id mapping — the staged
            # entry carries the live columns, the audit read resolves, the
            # publish carries every generation's files forward
            from experiments_datafusion_spark.operators.table_format import (
                commit_staged,
                publish_staged,
            )

            n = rng.randint(1, 4)
            new = [dict() for _ in range(n)]
            for cid, _name, _t in live:
                for r, v in zip(new, vals(n)):
                    r[cid] = v
            ddl = ", ".join(f"{name} {t}" for _i, name, t in live)
            data = [tuple(r[cid] for cid, _n, _t in live) for r in new]
            sv = commit_staged(log, spark.createDataFrame(data, ddl))
            # the audit read (AS OF the staged version) resolves the
            # batch through the id mapping before anything publishes
            audit = sorted(
                tuple(r[name] for name in sorted(n for _i, n, _t in live))
                for r in log.read(spark, sv).collect()
            )
            want_audit = sorted(
                tuple(r[cid] for cid, _n, _t in sorted(live, key=lambda c: c[1]))
                for r in new
            )
            assert audit == want_audit, f"seed={seed} step={step} wap audit"
            publish_staged(log, sv)
            rows = rows + new
            check(step, op)
            continue
        if op == "checkpoint":
            # consolidating the log must be invisible to the id mapping:
            # read resolves schema generations through entries the
            # checkpoint now serves from one file
            log.checkpoint()
        elif op == "append":
            append(rng.randint(1, 6))
        elif op == "rename":
            i = rng.randrange(len(live))
            cid, _old, t = live[i]
            live[i] = (cid, f"c{next_name}", t)
            next_name += 1
            log.evolve(live, note=f"rename {step}")
        elif op == "add":
            live = live + [(next_id, f"c{next_name}", "bigint")]
            next_id += 1
            next_name += 1
            log.evolve(live, note=f"add {step}")
        elif op == "drop":
            if len(live) < 2:
                continue
            live = live[: (i := rng.randrange(len(live)))] + live[i + 1 :]
            log.evolve(live, note=f"drop {step}")
        else:  # widen
            ints = [j for j, (_c, _n, t) in enumerate(live) if t == "int"]
            if not ints:
                continue
            j = rng.choice(ints)
            cid, name, _t = live[j]
            live[j] = (cid, name, "bigint")
            log.evolve(live, note=f"widen {step}")
        check(step, op)


@pytest.mark.parametrize("seed", [20261201, 20261202])
def test_mor_log_random_walk_matches_model(spark, tmp_path, seed):
    """The merge-on-read twin (round 12): random walks over {delete
    sidecar, compaction-reconcile, checkpoint} against a live-id-set
    model through the mor_current_view state machine — the composition
    (sidecar after reconcile after sidecar...) the single round-9 keys
    don't enumerate.  After a reconcile the view must be the PLAIN
    compacted scan (no sidecars newer than the base), and every sidecar
    layered on top must subtract exactly its keys."""
    rng = random.Random(seed)
    log = SnapshotLog(str(tmp_path / f"m{seed}"))
    ids = list(range(rng.randint(12, 30)))
    log.commit(_df(spark, ids), note="base", kind="base")
    live = set(ids)

    def check(step, op):
        got = sorted(r.id for r in mor_current_view(log, spark, "id").collect())
        assert got == sorted(live), f"seed={seed} step={step} op={op}"

    check(0, "base")
    for step in range(1, 13):
        op = rng.choices(
            ["sidecar", "reconcile", "checkpoint"], weights=[55, 30, 15]
        )[0]
        if op == "sidecar":
            if not live:
                continue
            kill = rng.sample(sorted(live), rng.randint(1, max(1, len(live) // 3)))
            log.commit(_df(spark, kill), note=f"del {step}", kind="delete-sidecar")
            live -= set(kill)
        elif op == "reconcile":
            view = mor_current_view(log, spark, "id")
            log.commit(view, note=f"reconcile {step}", kind="compacted")
        else:
            log.checkpoint()
        check(step, op)
