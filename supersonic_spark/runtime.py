"""Worker runtime tuning.

Every Python worker process on a local[N] executor inherits pyarrow's
default thread pool of os.cpu_count() threads — N workers x N threads
oversubscribes the box N-fold and *inverts* scaling (measured: encode at
local[32] ran 3x slower than local[8] before pinning). Each mapInArrow
kernel is already one task on one core, so intra-kernel parallelism must
be 1. Call pin_worker_threads() first thing inside every worker kernel.

pin_worker_threads() also stamps the process's zip importers. PySpark's
worker calls importlib.invalidate_caches() at the start of every task
(worker_util.setup_spark_files), and before Python 3.13 each
zipimporter answers by re-reading its archive's whole directory: 16
importers over pyspark.zip and py4j, 26,672 entries, 125-250 ms of every
task on a 4-core Xeon VM. A stamped importer re-reads only when its
archive's (inode, size, mtime) changed since its last re-read. The patch
lives in the reused worker process, so its later tasks skip the re-reads,
also tasks whose kernel never calls pin_worker_threads(); each extra task
of a job then adds about 24 ms there over loopback TCP, not 123 ms
(BENCH/python_task_cost.json), and about 12 ms over get_spark's Unix
socket worker channel, which also removes a 41 ms wait for every task's
first input batch (BENCH/python_task_phases.json).
"""

from __future__ import annotations

import functools
import os
import sys

_PINNED = False


def pin_worker_threads() -> None:
    global _PINNED
    if _PINNED:
        return
    _PINNED = True
    import pyarrow as pa
    try:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    except Exception:
        pass
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    _stamp_zip_importers()


def _stamp_zip_importers() -> None:
    """Make zipimporter.invalidate_caches skip the directory re-read
    while the importer's archive keeps the (st_ino, st_size, st_mtime_ns)
    it had at this importer's last re-read. A changed or missing archive,
    or an importer not yet stamped (its first call after the patch), takes
    the stdlib method. Python 3.13's method only drops the cached
    directory, so it is left alone there. Idempotent."""
    import zipimport
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches,
                                               "__wrapped__"):
        return
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != self.__dict__.get("_dir_stamp"):
            reread(self)
        self._dir_stamp = stamp

    cls.invalidate_caches = invalidate_caches


def run_tasks(spark, groups: list, fn, schema):
    """The one way to build a task list: one Spark task per entry of
    `groups`, from spark.range(len(groups)) with the groups closed over
    (a task list built as an RDD of rows measured about twice the
    scheduling cost). fn(group) yields the task's record batches. Every
    task pins the worker's Arrow threads first. `groups` must not be
    empty. Returns the mapInArrow DataFrame with `schema`."""
    def run(batches):
        pin_worker_threads()
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from fn(groups[i])

    return (spark.range(len(groups), numPartitions=len(groups))
            .mapInArrow(run, schema=schema))


# --- calm-window probes (shared by bench.py and tools/scaling_bench.py) ----

CPU_PROBE_REF_SEC = 0.283
"""Single-thread fixed-work probe reference, measured on this box under
low load (min-of-5, repeated; see BENCH/BASELINE.md). The box's
documented throttle windows slow CPU work 2-4x with ZERO external load
visible in /proc/stat, so wall-clock alone can't prove a calm window —
a fixed-work probe can."""

CPU_PROBE_CALM_FACTOR = 1.15
"""Probe within this factor of the reference => calm. Tight on purpose:
a 1.25x-slow pre-probe once preceded a 4x-throttled bench run."""


def external_busy_cores(window_s: float = 2.0) -> float:
    """Non-idle cores over a short quiescent window — load that is NOT
    ours. One implementation for every harness so the calmness criterion
    can't silently diverge between bench and scaling campaigns."""
    import os
    import time

    def snap():
        with open("/proc/stat") as f:
            v = list(map(int, f.readline().split()[1:]))
        return sum(v), v[3] + v[4]
    t0, i0 = snap()
    time.sleep(window_s)
    t1, i1 = snap()
    total, idle = t1 - t0, i1 - i0
    n = os.cpu_count() or 1
    return round(n * (1 - idle / max(total, 1)), 2)


def cpu_probe_sec(iters: int = 5) -> float:
    """Fixed single-thread numpy workload (integer mix + sort of 12M
    uint64 — no BLAS, so thread-pool config can't skew it); min of
    `iters` runs. Compare against CPU_PROBE_REF_SEC to flag
    throttle-poisoned measurements."""
    import time

    import numpy as np
    rng = np.random.default_rng(0)
    x = rng.integers(0, 2 ** 62, 12_000_000, dtype=np.uint64)
    best = float("inf")
    for _ in range(iters):
        t0 = time.perf_counter()
        y = x * np.uint64(0x9E3779B97F4A7C15)
        y ^= y >> np.uint64(30)
        s = np.sort(y)
        float(s[0])
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


MEMBW_PROBE_REF_SEC = 0.040
"""Parallel memory-bandwidth probe reference (8 procs), calibrated over
seven calm-window readings 0.036-0.047 on 2026-08-17. The box's
throttle windows can pass the SINGLE-thread probe while parallel
memory-bound work runs 2-4x slow (observed round 5: probe calm, every
bench query uniformly ~2.5x the calm record) — only a multi-process
bandwidth-bound probe catches that mode; a deep window read 0.246
(6x) here while the single-thread probe read 1.13x."""

MEMBW_PROBE_CALM_FACTOR = 1.5
"""Looser than the CPU factor: the probe is a max-of-8-processes
(tail-sensitive) and calm readings spread ~±15%."""


def membw_probe_sec(nproc: int = 8) -> float:
    """Fixed parallel memory-bound workload: `nproc` processes each
    stream-reduce a 160 MB array twice. Returns wall seconds for the
    slowest process (bandwidth contention shows up as a longer tail).
    Compare against MEMBW_PROBE_REF_SEC (when calibrated) to flag the
    parallel-throttle mode the single-thread probe cannot see."""
    import multiprocessing as mp
    import time

    def work(q):
        import numpy as np
        x = np.arange(20_000_000, dtype=np.float64)
        t0 = time.perf_counter()
        s = 0.0
        for _ in range(2):
            s += float(x.sum())
        q.put(time.perf_counter() - t0)

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [ctx.Process(target=work, args=(q,)) for _ in range(nproc)]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    times = [q.get() for _ in procs]
    for p in procs:
        p.join()
    del t0
    return round(max(times), 4)
