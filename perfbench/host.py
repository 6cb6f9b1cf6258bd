"""Host and process-tree readings from /proc: memory high-water marks, CPU
time and host busy time.  Linux only, like the engine's own deployment."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM's Python daemon and its
    forked workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tree(jvm_pid: int) -> list[int]:
    return [os.getpid(), jvm_pid, *descendants(jvm_pid)]


def reset_peaks(jvm_pid: int) -> None:
    """Restart the VmHWM high-water marks of this driver, the JVM and its
    descendants from their current RSS (so a peak covers the timed section,
    not the warm-up)."""
    for pid in _tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # exited meanwhile, or a kernel without peak reset


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """VmHWM of this Python driver, of the JVM and (summed) of the JVM's live
    descendant processes (Python workers).  ``getrusage(RUSAGE_CHILDREN)``
    would miss the JVM, which is never reaped while the run is live."""
    return {
        "driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
        "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0,
        "workers": sum(_status_kb(p, "VmHWM") for p in descendants(jvm_pid)) / 1024.0,
    }


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM, its descendants (including reaped
    workers, via cutime/cstime) and this driver process."""
    ticks = 0
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    own = os.times()
    return ticks / _TICK + own.user + own.system


def host_cpu_ticks() -> tuple[int, int, int]:
    """(busy, stolen, total) jiffies over all CPUs of this host since boot.
    Stolen time is time a hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle - steal, steal, sum(vals)



def jvm_off_heap_mb(jvm_pid: int) -> float:
    """Resident memory of the JVM outside its Java heap: metaspace, code
    cache, thread stacks, native buffers and malloc.  The heap is the
    largest run of adjacent anonymous mappings in ``smaps`` (G1 reserves
    the whole maximum heap as one range and commits regions inside it)."""
    runs: list[list[int]] = []  # [end, rss_kb] of each run of anonymous mappings
    anon = False
    try:
        with open(f"/proc/{jvm_pid}/smaps") as fh:
            for line in fh:
                head = line.split(maxsplit=6)
                if "-" in head[0] and not head[0].endswith(":"):
                    lo, hi = (int(x, 16) for x in head[0].split("-"))
                    anon = len(head) < 6
                    if anon and runs and runs[-1][0] == lo:
                        runs[-1][0] = hi
                    elif anon:
                        runs.append([hi, 0, lo])
                elif anon and head[0] == "Rss:":
                    runs[-1][1] += int(head[1])
    except (FileNotFoundError, ProcessLookupError):
        return 0.0
    heap_kb = max(runs, key=lambda r: r[0] - r[2])[1] if runs else 0
    return (_status_kb(jvm_pid, "VmRSS") - heap_kb) / 1024.0
