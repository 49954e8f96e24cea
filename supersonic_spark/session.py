"""SparkSession factory tuned for the encode pipeline.

spark_conf is the one definition of every Spark setting: get_spark and
tools/scaling_bench.py's spark-submit runs both use it, so runs at two
parallelism levels differ only in core count (scaling evidence). Only
this module reads the environment. On a cluster reading TB-scale inputs,
SPARK_GRAFT_EXTRA_CONF="spark.sql.files.maxPartitionBytes=512m" (512m-1g)
keeps map tasks large and the shuffle block count low (guide §2.2/§6).
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Spark 4.1 fails every Python task when spark.python.unix.domain.socket.dir
# is longer than 61 characters: a socket "<dir>/.<uuid4>.sock" adds 43 bytes
# and must fit AF_UNIX's 107-byte path
_SOCKET_DIR_MAX = 61


def worker_channel_conf(*bases: str) -> dict[str, str]:
    """Spark conf that puts the JVM<->Python worker channel on Unix domain
    sockets in a fresh private directory (mkdtemp: mode 0700), removed at
    interpreter exit.

    Over loopback TCP, the worker waits about 41 ms for its first input
    batch in every task (Nagle meeting the delayed ACK: neither side sets
    TCP_NODELAY); over a Unix socket it waits under 1 ms
    (BENCH/python_task_phases.json). In this mode PySpark drops the auth
    secret TCP uses, so the directory's mode is the access control; and
    Spark's default directory, java.io.tmpdir, keeps stale socket files.
    The directory goes in the first of `bases` (default: the tempfile
    directory, then /tmp) where its path is short enough for Spark
    (_SOCKET_DIR_MAX); where none is, a warning is logged and {} keeps
    Spark's TCP default."""
    bases = bases or (tempfile.gettempdir(), "/tmp")
    for base in bases:
        try:
            path = tempfile.mkdtemp(prefix="sscodec-uds-", dir=base)
        except OSError:             # missing or not writable
            continue
        if len(os.fsencode(path)) <= _SOCKET_DIR_MAX:
            atexit.register(shutil.rmtree, path, True)
            return {"spark.python.unix.domain.socket.enabled": "true",
                    "spark.python.unix.domain.socket.dir": path}
        os.rmdir(path)
    logging.getLogger(__name__).warning(
        "no socket directory of at most %d characters under %s; Python "
        "workers keep loopback TCP", _SOCKET_DIR_MAX, ", ".join(bases))
    return {}


def spark_conf(cores: int) -> dict[str, str]:
    """Every Spark setting of a local[cores] session but the master and
    the worker channel; SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" is applied
    last, so deployment-specific tuning overrides any key."""
    conf = {
        "spark.app.name": "supersonic_spark",
        "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # mapInArrow batch cap — the analogue of the reference's 8192-row
        # file chunks / 1024-row cursor batches (file_io.cc:71,
        # cursor.h:133), sized larger because Arrow transfer amortizes
        # better at 64k
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Scan split size (guide §6): the local testdata is a handful of
        # single-digit-row-group files, so the 128m default caps scan
        # parallelism at 1-2 tasks on a 32-core box (131 MB lineitem = 2
        # tasks; a 349 MB many-small-file dir ≈ 7 tasks after the 4m
        # open-cost packing). 16m splits every available row group /
        # file apart (cluster scale: see the module docstring).
        "spark.sql.files.maxPartitionBytes": "16m",
        # Join strategy (guide §3.1): keep Spark's 10m broadcast default
        # (measured: raising it to 64m broadcast-built a 1.5M-row orders
        # relation serially — 1.51 s vs 0.83 s for the shuffled hash
        # join of the same query) but prefer shuffled hash join over
        # sort-merge above it: both sides shuffle either way, SHJ skips
        # both sort passes. AQE additionally rewrites SMJ->SHJ when
        # every post-shuffle partition fits under the local-map
        # threshold.
        "spark.sql.autoBroadcastJoinThreshold": "10m",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, extra.split(";")):
        k, _, v = pair.partition("=")
        if k and v:
            conf[k.strip()] = v.strip()
    return conf


def get_spark(cores: int | None = None) -> SparkSession:
    """local[cores] session (default SPARK_GRAFT_CPUS, else the CPU
    count) with spark_conf(cores). A call that builds a new SparkContext
    also gives it a private directory for the worker channel's Unix
    sockets (worker_channel_conf, which SPARK_GRAFT_EXTRA_CONF overrides
    too); getOrCreate reuses a running one as it is."""
    # local-mode Python workers inherit the driver env: pin per-worker BLAS
    # threads to 1 so N workers don't run N*cpu_count() threads (see runtime.py)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    conf = spark_conf(cores)
    if SparkContext._active_spark_context is None:
        conf = {**worker_channel_conf(), **conf}
    return (SparkSession.builder.master(f"local[{cores}]")
            .config(map=conf).getOrCreate())
