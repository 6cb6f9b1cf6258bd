"""SparkSession factory tuned for this engine.

Defaults follow the scale posture in SURVEY.md §4: leave Catalyst + AQE in
charge of physical strategy (the reference's own finding — strategy choice
depends on data characteristics — is AQE's job; /root/reference/README.md:3-9),
Arrow on for any pandas-UDF path, UTC so timestamp rendering is stable across
engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (SET-able) confs applied to *any* session we are handed, including
# the driver's own session in __spark_entry__.entry().
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos timestamp,
    # so read as long and convert in io.table() (micros, floor-truncated).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE's default 1MB coalesce floor collapses byte-small but CPU-heavy
    # shuffles (hashing/regexp pipelines over small tables) to ONE task.
    # A 16kb floor keeps them parallel; at 100 TB the size-based target
    # (advisoryPartitionSizeInBytes) dominates and this floor is irrelevant.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16kb",
    # Start shuffles WIDE and let AQE coalesce down, instead of starting at
    # shuffle.partitions(=cores) and never splitting: AQE only merges.
    # Interleaved A/B (round 3): 2x at 1e8-row sorts (spill/GC pressure per
    # 3M-row partition), 2-3x on CPU-heavy byte-small shuffles
    # (dedup_minhash_lsh 1.58 -> 0.66 s), no small-query penalty.  8x cores
    # here; on a real cluster this is the usual 2-4x total-cores times the
    # same headroom multiplier.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_SHIPPED_CONTEXTS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd.  Module-level UDF callables are cloudpickled *by reference*,
    so workers must import ``experiments_datafusion_spark`` themselves; if the
    external driver launched from a different directory, sys.path tweaks on
    the driver side never reach the workers.  ``addPyFile`` does, for task
    workers.  The Python data-source planner process (a streaming source's
    ``latestOffset``/``partitions``) does not see it, so the package's
    parent directory also goes on ``sc.environment["PYTHONPATH"]``, which
    Spark hands every Python process it starts.  A data source captures
    ``sc.environment`` when it is registered, so this must run first.

    The archive goes to a per-call private temp dir (never a fixed path:
    concurrent sessions on this host — driver verify, bench, pytest — would
    race make_archive against another session's addPyFile fetch), and the
    memo key is applicationId (stable; id(sc) can be reused after GC)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED_CONTEXTS:
        return
    import shutil
    import tempfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    paths = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if str(pkg_dir.parent) not in paths:
        sc.environment["PYTHONPATH"] = os.pathsep.join([str(pkg_dir.parent), *paths])
    stem = str(Path(tempfile.mkdtemp(prefix="edfs_pkg_")) / "edfs_pkg")
    try:
        zip_path = shutil.make_archive(
            stem, "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name
        )
        sc.addPyFile(zip_path)
    except Exception:
        pass  # best effort; cwd==repo root already works without it
    _SHIPPED_CONTEXTS.add(key)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; keep going
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "experiments-datafusion-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per core at test scale; AQE coalesces further.
        # On a real cluster this would be ~2-3x total cores (set via submit).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # many distinct queries per session -> hundreds of generated classes;
        # the default 240MB JIT code cache thrashes and later queries run
        # interpreted/deoptimized (observed 5-10x slowdowns late in session)
        # -Xlog:disable: JVM unified-logging warnings (e.g. GCLocker retries
        # during 1e8-row sorts) print to STDOUT and would corrupt bench.py's
        # one-JSON-line contract
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -Xlog:disable",
        )
        .config("spark.sql.warehouse.dir", "/tmp/edfs-warehouse")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
