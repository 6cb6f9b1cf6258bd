"""Steadiness check: run the benchmark over several seeds per workload and
print, for each end-to-end metric, the median and the interquartile range
as a share of the median (``statistics.quantiles(values, n=4)``), next to
the metric's bound from BENCHMARK.json.  Also prints each run's wall time.

  python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    cmd = [*json.loads((ROOT / "BENCHMARK.json").read_text())["command"]]
    cmd += ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    lines = out.stdout.strip().splitlines()
    detail = json.loads(lines[-2].split(" ", 1)[1])
    return json.loads(lines[-1]), detail, wall


def main() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res, detail, wall = run_once(w, seed, bench["run_seconds"])
            walls.append(wall)
            ok = res["correct"] and res["failed"] == 0
            print(f"{w} seed {seed}: wall {wall:.1f}s correct={ok} attempted={res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            print(f"    load {detail['loadavg_before'][0]:.2f}"
                  f" host_busy {detail['host_busy_frac']:.2f}"
                  f" steal {detail['host_steal_frac']:.3f}"
                  f" run_cpu {detail['run_cpu_frac']:.2f}"
                  f" check {detail['check_s']:.1f}s"
                  f" jit {detail['jit_s_timed']:.1f}s"
                  f" passes {[round(x, 2) for x in detail['pass_s']]}"
                  f" rss_raw {sum(detail['rss_mb'].values()):.0f}"
                  f" off_heap {detail['jvm_off_heap_mb']:.0f}"
                  f" heap_live {detail['heap_live_mb']:.0f}"
                  f" heap_committed {detail['heap_committed_mb']:.0f}", flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s "
              f"total {sum(walls):.0f}s")
        for k, vals in values.items():
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else 0.0
            bound = bounds.get(k)
            flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
            print(f"   {k:28s} median {med:<12.6g} spread {spread:7.3%}  bound {bound}{flag}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
