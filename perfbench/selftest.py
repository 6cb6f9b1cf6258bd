"""Fast self-test of the benchmark at sf0.001.

For every workload, an untraced and a traced run must each print every
metric BENCHMARK.json declares for that mode, with its declared unit, and
check clean (``correct``, no failed op, ``ok_frac`` 1.0).  A copy of the
benchmark without the engine beside it must exit non-zero and print no
result.

  python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cmd = [*bench["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            out = _run(ROOT, w, trace)
            tag = f"{w} trace={trace}"
            if out.returncode != 0:
                failures.append(f"{tag}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                failures.append(f"{tag}: metrics {got} != declared {declared[trace]}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            if trace == 0 and res["metrics"]["ok_frac"]["value"] != 1.0:
                failures.append(f"{tag}: ok_frac {res['metrics']['ok_frac']['value']}")
            print(f"ok   {tag}: {len(got)} metrics, {res['attempted']} ops", flush=True)

    bare = HERE / ".work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns(".*", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    out = _run(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or out.stdout.strip():
        failures.append(f"bare copy: exit {out.returncode}, stdout {out.stdout[-300:]!r}")
    else:
        print(f"ok   bare copy without the engine: exit {out.returncode}, no result", flush=True)

    for f in failures:
        print("FAIL " + f, flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
