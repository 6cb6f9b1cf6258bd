"""The three benchmark workloads.  Each is a closed loop with one client: the
next op starts when the previous one returned.

``olap_mix`` and ``text_dedup`` are passes over registry keys: an op builds
the key's DataFrame with ``Query.fn(spark, sf_dir)`` (construct phase) and
executes it into the noop sink (execute phase).  ``table_ingest`` drives a
``SnapshotLog`` directly: appends of seeded lineitem batches, an AS-OF read
and aggregate after every commit, and a compaction every few appends.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import time
from contextlib import contextmanager

OLAP_MIX = ("tpch_q3", "sort_multicol", "join_temporal_scd2", "graph_pagerank")
TEXT_DEDUP = ("docs_tfidf_cosine", "search_rrf_fusion", "freq_token_pairs")
INGEST_BATCHES = 8
COMPACT_EVERY = 4


class OpContext:
    """Times the phases of one op, each under its own Spark job group (so the
    status store can attribute jobs to phases) and its own span."""

    def __init__(self, spark, tracer, op_id: int) -> None:
        self._sc = spark.sparkContext
        self._tracer = tracer
        self._op_id = op_id
        self.phases: dict[str, float] = {}
        self.groups: list[str] = []

    @contextmanager
    def phase(self, name: str):
        group = f"op{self._op_id}.{name}"
        self._sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            with self._tracer.span(name):
                yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0
            self.groups.append(group)
            self._sc.setJobGroup("perfbench", "perfbench")


def _drive_entry_norm():
    """``norm`` of tools/drive_entry.py, the repository's oracle comparison
    rule, so that one copy of it exists.  tools/ is not a package, so the
    module is loaded from its file.  Its top level puts a directory of its
    own first on ``sys.path`` and imports ``__spark_entry__``: that module
    is imported from this checkout first, and ``sys.path`` is restored."""
    import importlib.util
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    saved = list(sys.path)
    sys.path.insert(0, root)
    try:
        import __spark_entry__  # noqa: F401

        spec = importlib.util.spec_from_file_location(
            "perfbench_drive_entry", os.path.join(root, "tools", "drive_entry.py")
        )
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module.norm


_norm = _drive_entry_norm()


def _digest(df) -> dict:
    rows = _norm(df)
    return {
        "rows": len(rows),
        "columns": sorted(df.columns),
        "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }


def _mismatch(got: dict, want: dict) -> str | None:
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} vs oracle {want['rows']}"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} vs oracle {want['columns']}"
    if got["sha256"] != want["sha256"]:
        return "values differ from the oracle (run tools/drive_entry.py for the first diff)"
    return None


@functools.cache
def _fixture_sha(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as fh:
            h.update(name.encode() + b"\0" + fh.read())
    return h.hexdigest()


def _duck(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


class RegistryWorkload:
    def __init__(self, keys, sf_dir: str, rng) -> None:
        from experiments_datafusion_spark.queries import all_queries

        registry = all_queries()
        self.queries = {k: registry[k] for k in keys}
        self.sf_dir = sf_dir
        self.order = [str(k) for k in rng.permutation(list(keys))]
        self.rows: dict[str, int] = {}
        self.check_s: dict[str, float] = {}
        self._obs = 0

    def setup(self, spark) -> None:
        """Program-side set-up: open every table through ``io.table``."""
        from experiments_datafusion_spark import io

        for t in io.TABLES:
            io.table(spark, self.sf_dir, t).schema  # noqa: B018

    def check(self, spark) -> list[str]:
        """Untimed warm-up and check: run each key once, collected, and
        compare its rows with the DuckDB oracle; keep the row count for the
        timed ops.  The collected plan carries the same ``Observation`` as a
        timed op, so the timed passes reuse its generated code, and the noop
        sink is warmed once up front."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark.range(1).write.format("noop").mode("overwrite").save()
        problems = []
        for key in self.order:
            t0 = time.perf_counter()
            q = self.queries[key]
            obs = Observation(f"perfbench_check_{key}")
            pdf = q.fn(spark, self.sf_dir).observe(obs, F.count(F.lit(1)).alias("n")).toPandas()
            got = _digest(pdf)
            bad = _mismatch(got, self._oracle(q.oracle)) if q.oracle is not None else None
            if bad is None and obs.get["n"] != got["rows"]:
                bad = f"observed {obs.get['n']} rows, collected {got['rows']}"
            if bad:
                problems.append(f"{key}: {bad}")
            else:
                self.rows[key] = got["rows"]
            self.check_s[key] = time.perf_counter() - t0
        return problems

    def _oracle(self, sql: str) -> dict:
        """The oracle's comparison digest.  DuckDB runs each oracle once per
        checkout; the digest is kept under perfbench/.data, keyed by the SQL
        and the bytes of the fixture tables."""
        from experiments_datafusion_spark import io

        key = hashlib.sha256((_fixture_sha(self.sf_dir) + sql).encode()).hexdigest()[:24]
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data", "oracle",
                            f"{key}.json")
        if not os.path.exists(path):
            con = _duck(self.sf_dir, io.TABLES)
            try:
                want = _digest(con.execute(sql).fetchdf())
            finally:
                con.close()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as fh:
                json.dump(want, fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            return json.load(fh)

    def pass_ops(self, spark, index: int):
        """One pass: every key once, in the seeded order on even passes and
        reversed on odd ones, so each key's position in a pass evens out."""
        order = self.order if index % 2 == 0 else self.order[::-1]
        return [(k, self._op(spark, k)) for k in order]

    def _op(self, spark, key: str):
        def run(ctx: OpContext) -> bool:
            return key in self.rows and self._execute(spark, key, ctx) == self.rows[key]

        return run

    def _execute(self, spark, key: str, ctx) -> int:
        """Construct the key's DataFrame and execute it into the noop sink;
        returns the row count an ``Observation`` saw."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self._obs += 1
        obs = Observation(f"perfbench_rows_{self._obs}")
        with ctx.phase("construct"):
            df = self.queries[key].fn(spark, self.sf_dir)
        with ctx.phase("execute"):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
        return obs.get["n"]

    def table_stats(self) -> dict:
        return {}


class IngestWorkload:
    """Appends seeded batches of ``lineitem`` to a fresh ``SnapshotLog`` each
    pass, reading back the latest snapshot after every commit."""

    def __init__(self, sf_dir: str, work: str, rng) -> None:
        self.sf_dir = sf_dir
        self.work = work
        self.rng = rng
        self.batch_paths: list[str] = []
        self.expected: list[dict] = []
        self._schema = None
        self._log = None
        self._pass = 0
        self.stats = self._zero()

    @staticmethod
    def _zero() -> dict:
        return {"bytes_written": 0, "input_bytes": 0, "conflicts": 0, "live_files": 0}

    def prepare(self) -> None:
        """Benchmark inputs, made before any timing: the seeded split of
        lineitem into batch files, and DuckDB's running aggregate over the
        same batches."""
        import numpy as np
        import pyarrow.parquet as pq

        table = pq.read_table(f"{self.sf_dir}/lineitem.parquet")
        assign = self.rng.integers(0, INGEST_BATCHES, table.num_rows)
        bdir = os.path.join(self.work, "batches")
        os.makedirs(bdir, exist_ok=True)
        for b in range(INGEST_BATCHES):
            path = os.path.join(bdir, f"batch{b:02d}.parquet")
            pq.write_table(table.filter(np.asarray(assign == b)), path)
            self.batch_paths.append(path)
        con = _duck(self.sf_dir, ())
        try:
            for k in range(1, INGEST_BATCHES + 1):
                files = ", ".join(f"'{p}'" for p in self.batch_paths[:k])
                rows = con.execute(
                    "SELECT l_returnflag, l_linestatus, count(*), "
                    "CAST(sum(l_quantity) AS BIGINT), "
                    "CAST(sum(round(l_extendedprice * 100)) AS BIGINT) "
                    f"FROM read_parquet([{files}]) GROUP BY ALL"
                ).fetchall()
                self.expected.append({(r[0], r[1]): tuple(r[2:]) for r in rows})
        finally:
            con.close()

    def setup(self, spark) -> None:
        """Program-side set-up: a fresh log and its first commit."""
        from experiments_datafusion_spark.operators.table_format import SnapshotLog

        if self._schema is None:
            self._schema = spark.read.parquet(self.batch_paths[0]).schema
        root = os.path.join(self.work, "setup_table")
        shutil.rmtree(root, ignore_errors=True)
        SnapshotLog(root).commit_append(self._batch(spark, 0))

    def _batch(self, spark, b: int):
        return spark.read.schema(self._schema).parquet(self.batch_paths[b])

    def check(self, spark) -> list[str]:
        """Warm-up: the ops of one pass up to its first compaction and the
        read after it, untimed; every read in it is checked."""
        ops = self.pass_ops(spark, 0)[: 2 * COMPACT_EVERY + 2]
        failed = [label for label, op in ops if not op(_Untimed())]
        return [f"table_ingest warm-up op failed: {f}" for f in failed]

    def pass_ops(self, spark, index: int):
        from experiments_datafusion_spark.operators.table_format import SnapshotLog

        self._pass += 1
        root = os.path.join(self.work, f"table{self._pass}")
        shutil.rmtree(os.path.join(self.work, f"table{self._pass - 1}"), ignore_errors=True)
        self._log = SnapshotLog(root)
        ops = []
        for b in range(INGEST_BATCHES):
            ops.append((f"commit_append{b}", self._append(spark, b)))
            ops.append((f"read{b}", self._read(spark, b + 1)))
            if (b + 1) % COMPACT_EVERY == 0:
                ops.append((f"compact{b}", self._compact(spark)))
                ops.append((f"read_compacted{b}", self._read(spark, b + 1)))
        return ops

    def _written(self, version: int) -> int:
        """Bytes of the files ``version`` added over its parent."""
        log = self._log
        old = {f["path"] for f in log.entry(version - 1)["files"]} if version > 0 else set()
        files = log.entry(version)["files"]
        self.stats["live_files"] = len(files)
        return sum(f["size"] for f in files if f["path"] not in old)

    def _append(self, spark, b: int):
        from experiments_datafusion_spark.operators.table_format import CommitConflict

        def run(ctx) -> bool:
            df = self._batch(spark, b)
            try:
                with ctx.phase("commit_append"):
                    v = self._log.commit_append(df, note=f"batch {b}")
            except CommitConflict:
                self.stats["conflicts"] += 1
                return False
            self.stats["bytes_written"] += self._written(v)
            self.stats["input_bytes"] += os.path.getsize(self.batch_paths[b])
            return True

        return run

    def _read(self, spark, n_batches: int):
        from pyspark.sql import functions as F

        def run(ctx) -> bool:
            with ctx.phase("read"):
                rows = (
                    self._log.read(spark)
                    .groupBy("l_returnflag", "l_linestatus")
                    .agg(
                        F.count(F.lit(1)),
                        F.sum("l_quantity").cast("bigint"),
                        F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint"),
                    )
                    .collect()
                )
            got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}
            return got == self.expected[n_batches - 1]

        return run

    def _compact(self, spark):
        def run(ctx) -> bool:
            with ctx.phase("compact"):
                v = self._log.compact(spark)
            self.stats["bytes_written"] += self._written(v)
            return True

        return run

    def table_stats(self) -> dict:
        out, self.stats = self.stats, self._zero()
        return out


class _Untimed:
    """A phase recorder that records nothing (the warm-up pass)."""

    @contextmanager
    def phase(self, name: str):
        yield
