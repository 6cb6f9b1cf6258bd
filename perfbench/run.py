"""Per-commit benchmark of the engine: one closed-loop client on
local[nproc], driving the program's public entry points from outside.

  python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

A run reads the repository's fixture tables (byte copies under
perfbench/fixtures), sets up once from cold (the JVM launch through
``session.get_spark`` plus the workload's set-up: ``setup_s``), checks
every op's output once against DuckDB (the untimed warm-up), then measures a fixed number of whole passes of the workload
(PASSES_PER_10S, scaled by ``--seconds``).  The last stdout line is one
JSON object: end-to-end metrics with ``--trace 0``; with ``--trace 1`` the
per-layer metrics, from traced passes each paired with an untraced twin
(their difference is the tracing overhead).  Every run also prints a
``perfbench-detail`` line and writes its record (spans too, when traced)
under perfbench/.results.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("olap_mix", "text_dedup", "table_ingest")
# Whole passes measured per 10 s of --seconds.  A pass takes 3-5 s on a
# 4-CPU host, so the timed section lasts 10-16 s; fixing the count keeps
# every run of a commit the same shape (no pass cut short, no extra pass
# when one ends near a deadline).  A text_dedup op's time varies by up to
# 25 % from one execution to the next, so that workload gets more passes.
PASSES_PER_10S = {"olap_mix": 3, "text_dedup": 5, "table_ingest": 2}
# Untimed passes between the check and the timed section.  With the
# program's C2 JIT, pass times keep falling for several passes; the third
# pass of a run spread far less between runs than the first two.
WARMUP_PASSES = {"olap_mix": 1, "text_dedup": 1, "table_ingest": 0}
DEADLINE_S = 120.0  # no new pass starts after this much wall time

COUNT_KEYS = (
    "jobs", "stages", "tasks", "tasks_failed", "construct_jobs", "io_table_calls",
    "exchanges", "reused_exchanges", "smj", "bhj", "python_nodes",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("0.01", "0.001"), default="0.01",
                    help="fixture scale factor (0.001 for the self-test)")
    return ap.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _isolate(work: Path) -> None:
    """Keep every scratch file of Spark, the JVM and Python under ``work``."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Spark prepends spark.driver.defaultJavaOptions to the program's own
    # spark.driver.extraJavaOptions.  These two only move the JVM's scratch
    # files; heap, JIT and every other runtime setting stay the program's.
    jvm_opts = " ".join((
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-XX:-UsePerfData",  # no hsperfdata file under /tmp
    ))
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {shlex.quote('spark.driver.defaultJavaOptions=' + jvm_opts)} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _jit_ms(spark) -> int:
    """Milliseconds the JVM's JIT compilers have spent so far."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return int(bean.getTotalCompilationTime())


def _live_heap_mb(spark, heap) -> list[float]:
    """Heap used after full collections, repeated until it stops falling.
    A collection lets Spark's ContextCleaner find garbage broadcasts,
    shuffles and cached RDDs; it drops their blocks afterwards, and only a
    later collection frees them.  Returns the reading after each one."""
    used: list[float] = []
    for _ in range(6):
        spark._jvm.java.lang.System.gc()
        used.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        if len(used) > 1 and used[-1] > used[-2] - 1:
            break
        time.sleep(0.25)
    return used


def _shutdown() -> None:
    """Stop the session and the JVM, if started, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args, sf_dir: str, work: Path) -> None:
        import numpy as np

        from layers import Tracer, trace_io_table
        from workloads import OLAP_MIX, TEXT_DEDUP, IngestWorkload, RegistryWorkload

        self.args = args
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer()
        rng = np.random.default_rng(args.seed)
        if args.workload == "table_ingest":
            self.wl = IngestWorkload(sf_dir, str(work), rng)
            self.wl.prepare()
        else:
            keys = OLAP_MIX if args.workload == "olap_mix" else TEXT_DEDUP
            self.wl = RegistryWorkload(keys, sf_dir, rng)
        if args.trace:
            trace_io_table(self.tracer)

    # -- set-up ---------------------------------------------------------------

    def set_up(self):
        """The program's whole cold start, timed once: the JVM launch through
        ``get_spark``, then the workload's program-side set-up (for the
        registry workloads, ``io.table`` infers every table's schema).
        Returns the session, the session start time and the set-up time."""
        from experiments_datafusion_spark.session import get_spark

        self.tracer.active = bool(self.args.trace)
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                spark = get_spark("perfbench")
            t1 = time.perf_counter()
            self.wl.setup(spark)
            t2 = time.perf_counter()
        self.tracer.active = False
        spark.sparkContext.setLogLevel("ERROR")
        return spark, t1 - t0, t2 - t0

    def warm_up(self, spark) -> list[str]:
        """The untimed warm-up passes, in the reversed key order (the check
        ran the seeded order); returns the ops that failed."""
        from workloads import OpContext

        failed = []
        for _ in range(WARMUP_PASSES[self.args.workload]):
            for label, op in self.wl.pass_ops(spark, 1):
                try:
                    ok = bool(op(OpContext(spark, self.tracer, 0)))
                except Exception:
                    traceback.print_exc()
                    ok = False
                if not ok:
                    failed.append(f"warm-up op failed: {label}")
        return failed

    # -- timed section --------------------------------------------------------

    def timed(self, spark, t_launch: float) -> list[dict]:
        from host import host_cpu_ticks, jvm_off_heap_mb, peak_rss_mb, reset_peaks, tree_cpu_s
        from layers import StatusReader
        from workloads import OpContext

        reader = StatusReader(spark) if self.args.trace else None
        jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        passes: list[dict] = []
        off_heap = 0.0
        reset_peaks(jvm)
        jit0 = _jit_ms(spark)
        cpu0, host0, t_start = tree_cpu_s(jvm), host_cpu_ticks(), time.perf_counter()
        op_id = 0
        n_passes = max(1, round(PASSES_PER_10S[self.args.workload] * self.args.seconds / 10))
        # traced runs pair every pass with an untraced twin in the same order
        schedule = [(i, t) for i in range(n_passes) for t in ((0, 1) if self.args.trace else (0,))]
        for index, traced in schedule:
            traced = bool(traced)
            ops = self.wl.pass_ops(spark, index)
            if reader is not None:
                reader.new_executions()  # baseline: nothing before this pass counts
            self.tracer.active = traced
            rec = {"traced": traced, "ops": [], "layers": [], "counts": {}}
            p0 = time.perf_counter()
            with self.tracer.span("pass", index=len(passes)):
                for label, op in ops:
                    op_id += 1
                    ctx = OpContext(spark, self.tracer, op_id)
                    mark = len(self.tracer.spans)
                    t0 = time.perf_counter()
                    with self.tracer.span("op", label=label):
                        try:
                            ok = bool(op(ctx))
                        except Exception:
                            traceback.print_exc()
                            ok = False
                    lat = time.perf_counter() - t0
                    rec["ops"].append({"label": label, "latency_s": lat, "ok": ok, **ctx.phases})
                    if traced:
                        rec["layers"].append(self._op_layers(reader, ctx, label, mark, rec))
            rec["wall_s"] = time.perf_counter() - p0
            off_heap = max(off_heap, jvm_off_heap_mb(jvm))
            rec["table"] = self.wl.table_stats()
            self.tracer.active = False
            passes.append(rec)
            if time.perf_counter() - t_launch > DEADLINE_S:
                break
        wall = time.perf_counter() - t_start
        self.jit_s = (_jit_ms(spark) - jit0) / 1e3
        host1 = host_cpu_ticks()
        rss = peak_rss_mb(jvm)
        heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        committed = heap.getHeapMemoryUsage().getCommitted() / 2**20
        live = _live_heap_mb(spark, heap)
        self.host = {
            "run_cpu_frac": (tree_cpu_s(jvm) - cpu0) / (wall * self.cores),
            "host_busy_frac": (host1[0] - host0[0]) / max(1, host1[2] - host0[2]),
            "host_steal_frac": (host1[1] - host0[1]) / max(1, host1[2] - host0[2]),
            "rss_mb": rss,
            "jvm_off_heap_mb": off_heap,
            "heap_committed_mb": committed,
            "heap_live_mb": min(live),
            "heap_after_gc_mb": live,
        }
        return passes

    def _op_layers(self, reader, ctx, label: str, mark: int, rec: dict) -> dict:
        """Status-store and span readings of one finished traced op."""
        reader.drain()
        out = dict.fromkeys(("construct_jobs", "io_table_calls", "io_table_s"), 0)
        for group in ctx.groups:
            g = reader.group(group)
            if group.endswith(".construct"):
                out["construct_jobs"] += g["jobs"]
            for k, v in g.items():
                out[k] = out.get(k, 0) + v
        out.update(reader.new_executions())
        for s in self.tracer.spans[mark:]:
            if s["name"] == "io.table":
                out["io_table_calls"] += 1
                out["io_table_s"] += s["end"] - s["start"]
        rec["counts"][label] = {k: out.get(k, 0) for k in COUNT_KEYS}
        return out

    # -- results --------------------------------------------------------------

    def end_to_end(self, passes, setup_s) -> dict:
        ops = [o for p in passes for o in p["ops"]]
        ok = sum(o["ok"] for o in ops)
        wall = sum(p["wall_s"] for p in passes)
        # An op's latency is its mean over the passes (a failed run counts
        # as infinitely slow); the percentiles are taken over ops.  Every
        # op runs once per pass, early in one pass and late in the next, so
        # this evens out where each op sat in the warm-up drift.  A mean,
        # not a median: some ops take one of two times from pass to pass
        # (join_temporal_scd2: 0.5 or 0.7 s), and the median of three such
        # samples jumps between them.
        by_op: dict[str, list[float]] = {}
        for o in ops:
            by_op.setdefault(o["label"], []).append(o["latency_s"] if o["ok"] else float("inf"))
        lat = sorted(statistics.fmean(v) for v in by_op.values())
        return {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (ok / wall, "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_p75_s": (
                statistics.quantiles(lat, n=4, method="inclusive")[2] if len(lat) > 1 else lat[0],
                "s",
            ),
            "ok_frac": (ok / len(ops), "ratio"),
            "peak_rss_mb": (self._peak_rss_mb(), "MB"),
        }

    def _peak_rss_mb(self) -> float:
        """Peak resident memory of the Python driver, the JVM and its Python
        workers, with the JVM's heap counted at its live size after a full
        collection instead of at the size G1 grew it to.  G1 may grow the
        heap up to the program's driver memory, and how far it does in one
        run depends on GC timing."""
        h = self.host
        return h["rss_mb"]["driver"] + h["rss_mb"]["workers"] + h["jvm_off_heap_mb"] + h["heap_live_mb"]

    def per_layer(self, passes, session_s) -> tuple[dict, list[str]]:
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        per_pass = [self._pass_layers(p) for p in traced]
        out = {k: (_median([pp[k][0] for pp in per_pass]), per_pass[0][k][1]) for k in per_pass[0]}
        out["session.start_s"] = (session_s, "s")
        out["trace.overhead_frac"] = (
            _median([p["wall_s"] for p in traced]) / _median([p["wall_s"] for p in untraced]) - 1,
            "ratio",
        )
        labels = traced[0]["counts"]
        nonrepeating = [
            f"{label}.{key}: {vals}"
            for label in labels
            for key in COUNT_KEYS
            if len(set(vals := [p["counts"].get(label, {}).get(key) for p in traced])) > 1
        ]
        out["trace.nonrepeating_counts"] = (len(nonrepeating), "count")
        return out, nonrepeating

    def _pass_layers(self, p: dict) -> dict:
        def total(key):
            return sum(layer.get(key, 0) for layer in p["layers"])

        def phase(name):
            return sum(o.get(name, 0.0) for o in p["ops"])

        construct = phase("construct")
        execute = sum(
            v for o in p["ops"] for k, v in o.items()
            if k in ("execute", "commit_append", "read", "compact")
        )
        mb = 1 / 2**20
        t = p["table"]
        return {
            "queries.construct_s": (construct, "s"),
            "queries.construct_share": (construct / (construct + execute), "ratio"),
            "queries.construct_jobs": (total("construct_jobs"), "count"),
            "io.table_calls": (total("io_table_calls"), "count"),
            "io.table_s": (total("io_table_s"), "s"),
            "exec.execute_s": (execute, "s"),
            "exec.jobs": (total("jobs"), "count"),
            "exec.stages": (total("stages"), "count"),
            "exec.tasks": (total("tasks"), "count"),
            "exec.tasks_failed": (total("tasks_failed"), "count"),
            "exec.task_run_s": (total("task_run_s"), "s"),
            "exec.task_cpu_s": (total("task_cpu_s"), "s"),
            "exec.busy_frac": (total("task_run_s") / (p["wall_s"] * self.cores), "ratio"),
            "exec.shuffle_write_mb": (total("shuffle_write_b") * mb, "MB"),
            "exec.shuffle_read_mb": (total("shuffle_read_b") * mb, "MB"),
            "exec.spill_mb": (total("spill_b") * mb, "MB"),
            "plan.exchanges": (total("exchanges"), "count"),
            "plan.reused_exchanges": (total("reused_exchanges"), "count"),
            "plan.smj": (total("smj"), "count"),
            "plan.bhj": (total("bhj"), "count"),
            "plan.python_nodes": (total("python_nodes"), "count"),
            "python.bytes_sent_mb": (total("python_sent_b") * mb, "MB"),
            "python.bytes_received_mb": (total("python_received_b") * mb, "MB"),
            "table_format.commit_append_s": (phase("commit_append"), "s"),
            "table_format.read_s": (phase("read"), "s"),
            "table_format.compact_s": (phase("compact"), "s"),
            "table_format.bytes_written_mb": (t.get("bytes_written", 0) * mb, "MB"),
            "table_format.write_amp": (
                t["bytes_written"] / t["input_bytes"] if t.get("input_bytes") else 0.0,
                "ratio",
            ),
            "table_format.live_files": (t.get("live_files", 0), "count"),
            "table_format.commit_conflicts": (t.get("conflicts", 0), "count"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_launch = time.perf_counter()
    load_before = os.getloadavg()
    sys.path.insert(0, str(ROOT))
    try:
        import experiments_datafusion_spark.operators.table_format  # noqa: F401
        import experiments_datafusion_spark.queries  # noqa: F401
        import experiments_datafusion_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    sf_dir = HERE / "fixtures" / f"sf{args.scale}"
    if not (sf_dir / "lineitem.parquet").exists():
        print(f"perfbench: no fixture tables in {sf_dir}", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    _isolate(work)
    marks = {"imports_end": time.perf_counter() - t_launch}
    try:
        run = Run(args, str(sf_dir), work)
        spark, session_s, setup_s = run.set_up()
        t_check = time.perf_counter()
        marks["set_up_end"] = t_check - t_launch
        problems = run.wl.check(spark)
        check_s = time.perf_counter() - t_check
        marks["check_end"] = time.perf_counter() - t_launch
        problems += run.warm_up(spark)
        run.wl.table_stats()  # drop the untimed passes' table counters
        marks["warm_up_end"] = time.perf_counter() - t_launch
        passes = run.timed(spark, t_launch)
        marks["timed_end"] = time.perf_counter() - t_launch
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    marks["shutdown_end"] = time.perf_counter() - t_launch

    ops = [o for p in passes for o in p["ops"]]
    failed = sum(not o["ok"] for o in ops)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "cores": run.cores,
        "loadavg_before": load_before,
        **run.host,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "check_s": check_s,
        "check_key_s": getattr(run.wl, "check_s", {}),
        "elapsed_s": marks,
        "check_problems": problems,
        "jit_s_timed": run.jit_s,
        "pass_s": [p["wall_s"] for p in passes],
        "pass_traced": [p["traced"] for p in passes],
        "ops": len(ops),
    }
    results = HERE / ".results"
    results.mkdir(exist_ok=True)
    record = {"detail": detail, "passes": passes}
    if args.trace:
        metrics, nonrepeating = run.per_layer(passes, session_s)
        detail["nonrepeating_counts"] = nonrepeating
        record["spans"] = [
            {**s, "start": s["start"] - t_launch, "end": s["end"] - t_launch}
            for s in run.tracer.spans
        ]
        out = results / f"spans-{args.workload}-seed{args.seed}.json"
    else:
        metrics = run.end_to_end(passes, setup_s)
        out = results / f"run-{args.workload}-seed{args.seed}.json"
    record["metrics"] = metrics
    out.write_text(json.dumps(record))
    detail["record"] = str(out.relative_to(ROOT))
    print("perfbench-detail " + json.dumps(detail), flush=True)
    print(
        json.dumps(
            {
                "correct": not problems and failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
