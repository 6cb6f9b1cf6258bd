"""Round-9 operators: merge-on-read deletion vectors."""

from __future__ import annotations

import glob
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from experiments_datafusion_spark.queries import round9 as R9


def test_mor_view_equals_cow_row_for_row(spark, sf_dir):
    """The MoR read (base anti-join sidecar) must equal the compacted
    copy-on-write result ROW FOR ROW — the aggregate audit in the
    registry key is necessary but not sufficient, so the full-row
    equality is pinned here."""
    from experiments_datafusion_spark.io import table

    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    sidecar = base.where(F.col("o_custkey") % R9._MOR_MOD == 0).select("o_orderkey")
    mor = R9.mor_read(base, sidecar, "o_orderkey")
    cow = base.where(F.col("o_custkey") % R9._MOR_MOD != 0)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    mor_rows = key(mor)
    assert mor_rows == key(cow)
    assert mor_rows, "vacuous: delete cohort removed everything"
    # the cohort is really gone
    assert all(r[1] % R9._MOR_MOD != 0 for r in mor_rows)


def test_mor_read_plans_broadcast_anti(spark, sf_dir):
    """The production shape: BroadcastHashJoin LeftAnti with the sidecar
    as build side — the base is never shuffled for the delete."""
    from experiments_datafusion_spark.io import table
    from experiments_datafusion_spark.plans.audit import audit

    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sidecar = base.where(F.col("o_custkey") % R9._MOR_MOD == 0).select("o_orderkey")
    p = audit(R9.mor_read(base, sidecar, "o_orderkey"))
    assert "BroadcastHashJoin" in p.text and "LeftAnti" in p.text, p.text
    assert p.n_shuffles == 0, p.text


def test_table_delete_mor_cleans_temp_tree(spark, sf_dir):
    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "mor_*")))
    df = R9.table_delete_mor(spark, sf_dir)
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "mor_*")))
    assert not (after - before)
    rows = {r.path: (r.n_rows, r.key_sum, r.cust_sum) for r in df.collect()}
    assert rows["mor"] == rows["cow"]
    assert rows["mor"][0] > 0


# ---- clustered-layout scan pruning ------------------------------------------


def test_scan_pruning_clustered_metrics(spark, sf_dir, tmp_path):
    """The pruning claim itself, via SparkPlan metrics: the SAME selective
    predicate over a range-clustered layout emits only the surviving row
    groups' rows from the scan (parquet footer min/max + pushed filter),
    while an unclustered layout's scan emits every row.  This is the
    mechanism vanilla Spark actually has for file skipping (row-group
    granularity; file-level manifests are a table-format feature)."""
    from experiments_datafusion_spark.io import table
    from experiments_datafusion_spark.plans.audit import audit, file_scan_metrics

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    total = orders.count()
    orders.repartitionByRange(8, "o_custkey").write.mode("overwrite").parquet(
        str(tmp_path / "clustered")
    )
    orders.repartition(8).write.mode("overwrite").parquet(
        str(tmp_path / "shuffled")
    )
    import pyspark.sql.functions as F

    lo, hi = 101, 200
    exact = orders.where(F.col("o_custkey").between(lo, hi)).count()

    def band_agg(path):
        return (
            spark.read.parquet(str(tmp_path / path))
            .where(F.col("o_custkey").between(lo, hi))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # the filter must be pushed to the scan in both layouts
    assert audit(band_agg("clustered")).has_pushed_filters

    m_clustered = file_scan_metrics(band_agg("clustered"))
    m_shuffled = file_scan_metrics(band_agg("shuffled"))
    rows_clustered = sum(m["numOutputRows"] for m in m_clustered)
    rows_shuffled = sum(m["numOutputRows"] for m in m_shuffled)
    # unclustered: footer stats cover the whole domain in every file ->
    # nothing skips, the scan emits every row
    assert rows_shuffled == total
    # clustered: only the band's row groups survive — far below total and
    # at least the exact matches
    assert exact <= rows_clustered < total / 2, (rows_clustered, exact, total)


def test_scan_pruning_key_cleans_temp_tree(spark, sf_dir):
    import glob
    import os
    import tempfile

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "prune_*")))
    df = R9.scan_pruning_clustered(spark, sf_dir)
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "prune_*")))
    assert not (after - before)
    row = df.collect()[0]
    assert row.n_rows > 0 and row.key_sum > 0


# ---- manifest file skipping + positional deletes -----------------------------


def test_manifest_pruning_skips_files(spark, sf_dir, tmp_path):
    """File-LEVEL skipping via the manifest: the pruned read's scan must
    list exactly the surviving files (numFiles == survivors < total) and
    return the same rows as the unpruned band read."""
    import pyspark.sql.functions as F

    from experiments_datafusion_spark.io import table
    from experiments_datafusion_spark.operators.table_format import SnapshotLog
    from experiments_datafusion_spark.plans.audit import file_scan_metrics

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    log = SnapshotLog(str(tmp_path / "t"))
    v = log.commit(
        orders.repartitionByRange(8, "o_custkey"), stats_cols=["o_custkey"]
    )
    view = log.view()
    assert len(view.prune(v, {})) == 8
    lo, hi = 101, 140
    survivors = view.prune(v, {"o_custkey": (lo, hi)})
    assert 0 < len(survivors) < 8, survivors
    pruned = log.read_files(spark, v, survivors).where(
        F.col("o_custkey").between(lo, hi)
    )
    full = log.read(spark, v).where(F.col("o_custkey").between(lo, hi))
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(pruned) == key(full)
    m = file_scan_metrics(pruned.agg(F.count(F.lit(1))))
    assert sum(x["numFiles"] for x in m) == len(survivors)


def _stats_view(stats, schema=(("k", "bigint"),)):
    """A one-version ``LogView`` over hand-written file stats blocks:
    ``stats`` is ``[(path, n_rows, {col: [lo, hi]})]``."""
    from experiments_datafusion_spark.operators.table_format import LogView

    files = [
        {"path": p, "size": 1, "n_rows": n, "stats": st} for p, n, st in stats
    ]
    entry = {
        "version": 0,
        "schema": [[c, t, True] for c, t in schema],
        "files": files,
    }
    return LogView({0: entry})


def _kept(view, bands):
    return [f["path"] for f in view.prune(0, bands)]


def test_manifest_pruning_conservative_on_overlap():
    """prune keeps a file iff its [lo, hi] INTERSECTS the predicate
    interval — boundary-touching files must survive (off-by-one here
    silently drops matching rows at file boundaries)."""
    view = _stats_view(
        [("a", 1, {"k": [0, 100]}), ("b", 1, {"k": [100, 200]}), ("c", 1, {"k": [201, 300]})]
    )
    assert _kept(view, {"k": (100, 100)}) == ["a", "b"]
    assert _kept(view, {"k": (150, 201)}) == ["b", "c"]
    assert _kept(view, {"k": (301, 400)}) == []


def test_prune_rule_edges():
    """The rest of the rule: an empty file is skipped, a file without a
    stats block for a band's column is kept (conservative), a band must
    meet EVERY column's interval, and a band column the version does not
    have — or a non-temporal bound on a timestamp column — is refused."""
    from datetime import date, datetime

    view = _stats_view(
        [
            ("empty", 0, {}),
            ("nostats", 5, {}),
            ("both", 5, {"k": [0, 9], "j": [50, 59]}),
            ("k_only", 5, {"k": [0, 9]}),
            ("j_miss", 5, {"k": [0, 9], "j": [60, 69]}),
        ],
        schema=(("k", "bigint"), ("j", "bigint"), ("ts", "timestamp")),
    )
    assert _kept(view, {}) == ["nostats", "both", "k_only", "j_miss"]
    assert _kept(view, {"k": (5, 5), "j": (55, 55)}) == ["nostats", "both", "k_only"]
    assert _kept(view, {"k": (10, 20)}) == ["nostats"]
    with pytest.raises(ValueError, match="no column 'zz'"):
        view.prune(0, {"zz": (0, 1)})
    with pytest.raises(ValueError, match="date/datetime bounds"):
        view.prune(0, {"ts": ("1999-01-01", "1999-12-31")})
    # a date bound is its midnight: the same encoding as a timestamp stat
    ts_view = _stats_view(
        [
            ("d30", 1, {"ts": ["1999-06-30 00:00:00.000000"] * 2}),
            ("d29", 1, {"ts": ["1999-06-29 23:59:59.999999"] * 2}),
        ],
        schema=(("ts", "timestamp"),),
    )
    assert _kept(ts_view, {"ts": (date(1999, 6, 30), datetime(2000, 1, 1))}) == ["d30"]


def _id_mapped_with_stats(spark, tmp_path, cols, batches):
    """An id-mapped log: v0 one unstatted row of 1000s, then one
    single-file append per ``lo`` in ``batches`` — the first column runs
    lo..lo+9 and every other column lo+100..lo+109 — each with write-time
    stats on every column; returns the log and the appended files' paths
    in order."""
    from experiments_datafusion_spark.operators.table_format import SnapshotLog

    log = SnapshotLog(str(tmp_path / "t"))
    names = [n for _i, n, _t in cols]
    ddl = ", ".join(f"{n} {t}" for _i, n, t in cols)
    log.commit_columns(
        spark.createDataFrame([(1000,) * len(cols)], ddl).coalesce(1), cols
    )
    paths = []
    for lo in batches:
        df = spark.range(lo, lo + 10).select(
            *[(F.col("id") + (0 if i == 0 else 100)).alias(n) for i, n in enumerate(names)]
        )
        v = log.commit_append(df.coalesce(1), stats_cols=names)
        (added,) = log.view().delta[v][0]
        paths.append(added["path"])
    return log, paths


def test_prune_maps_a_renamed_column_through_the_ids(spark, tmp_path):
    """A stat is keyed by the name its file was written under: after a
    RENAME the live name still prunes (the old name is no column now),
    and the pruned read returns the live column."""
    log, (f1, f2) = _id_mapped_with_stats(
        spark, tmp_path, [(1, "k", "bigint"), (2, "v", "bigint")], [0, 10]
    )
    v = log.evolve([(1, "key", "bigint"), (2, "v", "bigint")], note="rename")
    view = log.view()
    (v0_file,) = log.entry(0)["files"]
    kept = view.prune(v, {"key": (12, 14)})
    # f1 (k 0..9) is skipped; v0's file has no stats block, so it stays
    assert [f["path"] for f in kept] == [v0_file["path"], f2]
    with pytest.raises(ValueError, match="no column 'k'"):
        view.prune(v, {"k": (12, 14)})
    got = log.read_files(spark, v, kept).where(F.col("key").between(12, 14))
    assert got.columns == ["key", "v"]
    assert sorted((r.key, r.v) for r in got.collect()) == [(12, 112), (13, 113), (14, 114)]


def test_prune_maps_a_swapped_rename_by_id(spark, tmp_path):
    """Swapping two names (a<->b) must prune each live name by its id's
    written stats, never by the stale name that now labels the other
    column."""
    log, (f1, f2) = _id_mapped_with_stats(
        spark, tmp_path, [(1, "a", "bigint"), (2, "b", "bigint")], [0, 10]
    )
    v = log.evolve([(1, "b", "bigint"), (2, "a", "bigint")], note="swap")
    view = log.view()
    (v0_file,) = log.entry(0)["files"]
    # live a = id 2, written as b: f1 holds 100..109, f2 110..119
    assert [f["path"] for f in view.prune(v, {"a": (100, 104)})] == [v0_file["path"], f1]
    # live b = id 1, written as a: f1 holds 0..9, f2 10..19
    assert [f["path"] for f in view.prune(v, {"b": (15, 19)})] == [v0_file["path"], f2]
    got = log.read_files(spark, v, view.prune(v, {"a": (100, 104)})).where(
        F.col("a").between(100, 104)
    )
    assert sorted((r.a, r.b) for r in got.collect()) == [(100 + i, i) for i in range(5)]


def test_prune_a_timestamp_band(spark, tmp_path):
    """Timestamp and date stats are recorded as fixed-width ISO strings
    and a datetime/date band prunes through the same encoding; the
    pruned read equals the full band read."""
    from datetime import date, datetime, timedelta

    from experiments_datafusion_spark.operators.table_format import SnapshotLog

    t0 = datetime(2000, 1, 1)
    rows = [(i, t0 + timedelta(hours=i), (t0 + timedelta(hours=i)).date()) for i in range(96)]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp, d date")
    log = SnapshotLog(str(tmp_path / "t"))
    log.commit(df.repartitionByRange(4, "ts"), stats_cols=["ts", "d"])
    files = [f for f in log.entry(0)["files"] if f["n_rows"]]
    assert {len(x) for f in files for x in f["stats"]["ts"] + f["stats"]["d"]} == {26}
    view = log.view()
    total = len(view.prune(0, {}))
    lo, hi = datetime(2000, 1, 1, 10), datetime(2000, 1, 1, 12)
    kept = view.prune(0, {"ts": (lo, hi)})
    assert 0 < len(kept) < total
    band = F.col("ts").between(lo, hi)
    assert log.read_files(spark, 0, kept).where(band).count() == 3
    day = view.prune(0, {"d": (date(2000, 1, 4), date(2000, 1, 4))})
    assert 0 < len(day) < total
    assert log.read_files(spark, 0, day).where(F.col("d") == date(2000, 1, 4)).count() == 24


def test_unsupported_stats_type_is_refused_before_publish(spark, tmp_path):
    """A stats column with no JSON encoding (decimal here) is refused
    with the column's name, and nothing is published or left behind."""
    from experiments_datafusion_spark.operators.table_format import SnapshotLog

    log = SnapshotLog(str(tmp_path / "t"))
    df = spark.range(4).select("id", F.col("id").cast("decimal(10,2)").alias("amt"))
    with pytest.raises(ValueError, match="'amt'"):
        log.commit(df, stats_cols=["amt"])
    assert log.versions() == [] and os.listdir(log.root) == ["_log"]
    log.commit(df, stats_cols=["id"])
    before = sorted(os.listdir(log.root))
    with pytest.raises(ValueError, match="'amt'"):
        log.commit_append(df, stats_cols=["amt"])
    assert log.versions() == [0] and sorted(os.listdir(log.root)) == before


def test_positional_mor_equals_cow_row_for_row(spark, sf_dir, tmp_path):
    """Position deletes must drop EXACTLY the addressed physical rows —
    including when the table carries duplicate content rows, the case
    key-based deletes cannot express (deleting 'one of two identical
    rows' has no key formulation)."""
    import pyspark.sql.functions as F

    # a table with genuine duplicates: two identical rows per value
    spark.range(50).select((F.col("id") % 25).alias("v")).coalesce(1).orderBy(
        "v"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "dup"))
    addressed = spark.read.parquet(str(tmp_path / "dup")).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("ri"),
        "v",
    )
    # delete exactly ONE of each duplicate pair: the even row_index copy
    sidecar = addressed.where(F.col("ri") % 2 == 0).select("f", "ri")
    kept = addressed.join(F.broadcast(sidecar), ["f", "ri"], "left_anti")
    vals = sorted(r.v for r in kept.collect())
    assert vals == sorted(range(25)), vals  # one copy of each survives


def test_round9_new_keys_clean_temp_trees(spark, sf_dir):
    import glob
    import os
    import tempfile

    for fn, prefix in (
        (R9.scan_pruning_manifest, "manifest_"),
        (R9.table_delete_mor_positional, "morpos_"),
    ):
        before = set(glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}*")))
        df = fn(spark, sf_dir)
        after = set(glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}*")))
        assert not (after - before), prefix
        rows = df.collect()
        assert rows and all(r.n_rows > 0 for r in rows)


# ---- content-defined chunking -------------------------------------------------


def _cdc_chunks_py(text: str) -> list[str]:
    """Independent pure-Python reference of the gear-CDC rule."""
    import hashlib

    k, d = R9._CDC_K, R9._CDC_D
    cuts = {1, len(text) + 1}
    for i in range(2, len(text) - k + 2):
        h = int(hashlib.md5(text[i - 1 : i - 1 + k].encode()).hexdigest()[:15], 16)
        if h % d == 0:
            cuts.add(i)
    cs = sorted(cuts)
    return [text[cs[j] - 1 : cs[j + 1] - 1] for j in range(len(cs) - 1)]


def test_cdc_chunks_cover_exactly_and_shift_resist(spark):
    """(a) chunks tile each document exactly (concatenation == text);
    (b) SHIFT RESISTANCE — the reason CDC exists: prepending a sentence
    re-chunks only the prefix; the suffix chunk multiset is shared, which
    fixed-width chunking structurally cannot do."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the rain keeps falling "
        "steadily on the quiet grey street outside the old house"
    )
    chunks = _cdc_chunks_py(base)
    assert "".join(chunks) == base
    shifted = "breaking news arrived this very morning: " + base
    sh_chunks = _cdc_chunks_py(shifted)
    assert "".join(sh_chunks) == shifted
    # all but the first few chunks survive the shift verbatim
    common = set(chunks) & set(sh_chunks)
    assert len(common) >= len(chunks) - 2, (chunks, sh_chunks)


def test_cdc_spark_matches_python_reference(spark):
    """The Spark chunker must produce EXACTLY the reference chunks per
    doc (same boundaries, same substrings) — the per-doc invariant the
    aggregate oracle can't see."""
    import pandas as pd
    import tempfile, os
    import pyspark.sql.functions as F

    texts = [
        "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
        "the quick brown fox jumps over the lazy dog repeatedly and often",
        "short",
        "x" * 7,  # below k: single chunk, no boundary scan
        "one two three four five six seven eight nine ten eleven twelve",
    ]
    tmp = tempfile.mkdtemp(prefix="cdc_test_")
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        os.path.join(tmp, "documents.parquet")
    )
    out = R9.dedup_cdc_chunks(spark, tmp).orderBy("doc_id").collect()
    import shutil

    shutil.rmtree(tmp)
    for r in out:
        ref = _cdc_chunks_py(texts[r.doc_id])
        assert r.n_chunks == len(ref), (r.doc_id, r.n_chunks, ref)
        assert r.total_chars == len(texts[r.doc_id])


# ---- snapshot reconciliation ---------------------------------------------------


def test_table_diff_covers_all_four_classes(spark, sf_dir):
    """The drift construction must exercise every diff class at every
    scale — a reconciler that never sees a 'removed' row in its tests is
    untested on the class that matters most."""
    out = {r.change: r.n for r in R9.table_diff_reconcile(spark, sf_dir).collect()}
    assert set(out) == {"added", "removed", "modified", "unchanged"}, out
    assert all(n > 0 for n in out.values())
    assert out["added"] == R9._DIFF_GHOSTS


def test_table_diff_scans_only_wire_columns(spark, sf_dir, tmp_path):
    """The reconciler's scale claim is the slim wire format: the diff
    join's parquet scans must read ONLY (k, status, price_c) — the key +
    the hashed payload — i.e. column pruning reaches the snapshot scans."""
    import pyspark.sql.functions as F

    from experiments_datafusion_spark.plans.audit import audit

    for name in ("a", "b"):
        spark.range(100).select(
            F.col("id").alias("k"),
            F.lit("S").alias("status"),
            F.col("id").alias("price_c"),
            F.lit("ballast").alias("unused_wide_col"),
        ).write.mode("overwrite").parquet(str(tmp_path / name))

    def slim(p):
        return spark.read.parquet(str(p)).select(
            "k", F.xxhash64("status", "price_c").alias("h")
        )

    v0, v1 = slim(tmp_path / "a").alias("v0"), slim(tmp_path / "b").alias("v1")
    d = v0.join(v1, F.col("v0.k") == F.col("v1.k"), "full_outer")
    cols = audit(d).read_schema_columns()
    assert cols and all(set(c) == {"k", "status", "price_c"} for c in cols), cols
