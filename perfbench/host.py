"""Host facts for the benchmark: provenance stamp, CPU steal, process-tree
peak RSS and cleanup of the processes a run started. Linux /proc only."""

from __future__ import annotations

import datetime
import glob
import hashlib
import os
import platform
import signal
import subprocess
import time
from collections import defaultdict

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _proc_field(path: str, key: str) -> str | None:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


def _source_digest(root: str) -> str:
    """sha256 over the library sources, so a result names the code it
    measured even in a checkout that is not a git repository."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, "supersonic_spark", "**",
                                           "*.py"), recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def provenance(root: str, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {
        "nproc": nproc(),
        "cpu_model": _proc_field("/proc/cpuinfo", "model name"),
        "mem_total": _proc_field("/proc/meminfo", "MemTotal"),
        "git_commit": _git_commit(root),
        "source_sha256": _source_digest(root),
        "seed": seed,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "written_utc": datetime.datetime.now(datetime.timezone.utc)
                              .isoformat(timespec="seconds"),
    }


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (/proc/stat, first line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(since: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine since
    `since` (the 8th counter is steal): context for a slow run."""
    d = [b - a for a, b in zip(since, cpu_ticks())]
    return d[7] / max(sum(d), 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of `pid` and every live
    descendant: here the driver, the JVM it launched and the JVM's Python
    workers. Each peak is the kernel's own high-water mark, so no sample
    can miss it."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        hwm = _proc_field(f"/proc/{p}/status", "VmHWM")
        if hwm:
            total_kb += int(hwm.split()[0])
    return total_kb / 1024


def reap(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait for `pids` to exit; SIGKILL what is left after timeout_s.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return True
    return s[s.rindex(")") + 2] == "Z"
