"""Round-9 operators: merge-on-read deletion vectors."""

from __future__ import annotations

import glob
import os
import tempfile

import pyspark.sql.functions as F

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
    from experiments_datafusion_spark.operators.table_format import file_stats, prune
    from experiments_datafusion_spark.plans.audit import file_scan_metrics

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    path = str(tmp_path / "t")
    orders.repartitionByRange(8, "o_custkey").write.mode("overwrite").parquet(path)
    manifest = file_stats(spark.read.parquet(path), ["o_custkey"])
    assert len(manifest) == 8
    lo, hi = 101, 140
    survivors = prune(manifest, {"o_custkey": (lo, hi)})
    assert 0 < len(survivors) < 8, survivors
    pruned = spark.read.parquet(*survivors).where(
        F.col("o_custkey").between(lo, hi)
    )
    full = spark.read.parquet(path).where(F.col("o_custkey").between(lo, hi))
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(pruned) == key(full)
    m = file_scan_metrics(pruned.agg(F.count(F.lit(1))))
    assert sum(x["numFiles"] for x in m) == len(survivors)


def test_manifest_pruning_conservative_on_overlap(spark):
    """prune keeps a file iff its [lo, hi] INTERSECTS the predicate
    interval — boundary-touching files must survive (off-by-one here
    silently drops matching rows at file boundaries)."""
    from collections import namedtuple

    from experiments_datafusion_spark.operators.table_format import prune

    Row = namedtuple("Row", "file_path k_lo k_hi")
    man = [Row("a", 0, 100), Row("b", 100, 200), Row("c", 201, 300)]
    assert prune(man, {"k": (100, 100)}) == ["a", "b"]
    assert prune(man, {"k": (150, 201)}) == ["b", "c"]
    assert prune(man, {"k": (301, 400)}) == []


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
