"""supersonic_spark.runtime and session: pin_worker_threads() stamps the
process's zip importers, so importlib.invalidate_caches() re-reads a
zip's directory only when the archive changed since that importer's last
read (PySpark's worker calls it at the start of every task); Python
workers talk to the JVM over Unix sockets in a private directory; every
Spark setting comes from session.spark_conf, and only session.py reads
the environment."""

from __future__ import annotations

import ast
import importlib
import os
import shutil
import socket
import stat
import sys
import tempfile
import zipfile
import zipimport

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import SparkSession

from supersonic_spark import runtime, session

PKG = os.path.dirname(os.path.abspath(session.__file__))


def test_stamped_zip_importer_rereads_only_a_changed_archive(tmp_path,
                                                             monkeypatch):
    zpath = str(tmp_path / "mods.zip")

    def write(*mods):
        with zipfile.ZipFile(zpath, "w") as z:
            for m in mods:
                z.writestr(f"{m}.py", f"NAME = {m!r}\n")
    write("m1")
    # undone at teardown, whether or not this process was stamped before
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(zpath)
    try:
        import m1
        assert m1.NAME == "m1"
        runtime._stamp_zip_importers()
        runtime._stamp_zip_importers()      # idempotent
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda archive: reads.append(archive)
                            or real(archive))
        importlib.invalidate_caches()
        first = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == first, "an unchanged archive was re-read"

        write("m1", "m2")
        importlib.invalidate_caches()
        assert reads[first:].count(zpath) == 1
        import m2
        assert m2.NAME == "m2"
    finally:
        sys.path_importer_cache.pop(zpath, None)
        zipimport._zip_directory_cache.pop(zpath, None)
        for m in ("m1", "m2"):
            sys.modules.pop(m, None)


def test_reused_worker_skips_zip_rereads(spark):
    """Inside each of 4 run_tasks tasks, after pin_worker_threads(): a
    second importlib.invalidate_caches() re-reads no zip directory
    (PySpark's worker holds 16 zipimporters over pyspark.zip and py4j,
    all of which the stdlib method re-reads)."""

    def probe(_):
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = (lambda archive: reads.append(archive)
                                     or real(archive))
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict(
            {"second": [len(reads) - first], "importers": [n]})

    rows = runtime.run_tasks(spark, [0, 1, 2, 3], probe,
                             "second long, importers long").collect()
    assert len(rows) == 4
    assert all(r["importers"] > 0 for r in rows)
    assert [r["second"] for r in rows] == [0, 0, 0, 0]


def test_python_workers_talk_over_unix_sockets(spark):
    """Every socket a run_tasks task's worker holds is AF_UNIX: the JVM
    <-> Python worker channel is not loopback TCP."""
    def probe(_):
        families = []
        for fd in os.listdir("/proc/self/fd"):
            try:
                if not os.readlink(f"/proc/self/fd/{fd}").startswith(
                        "socket:"):
                    continue
                with socket.socket(fileno=os.dup(int(fd))) as s:
                    families.append(s.family.name)
            except OSError:         # the listing's own fd, closed since
                pass
        yield pa.RecordBatch.from_pydict(
            {"families": [",".join(sorted(families))]})

    rows = runtime.run_tasks(spark, [0, 1, 2], probe,
                             "families string").collect()
    assert len(rows) == 3
    for r in rows:
        assert set(r["families"].split(",")) == {"AF_UNIX"}, r["families"]


def _process_tree(root: int) -> list[int]:
    children = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += children.get(pid, [])
    return tree


def _bound_socket_paths(pids: list[int]) -> set[str]:
    """Filesystem paths of the Unix sockets `pids` hold (from
    /proc/net/unix, matched on the sockets' inodes)."""
    inodes = set()
    for pid in pids:
        try:
            fds = os.listdir(f"/proc/{pid}/fd")
        except OSError:
            continue
        for fd in fds:
            try:
                link = os.readlink(f"/proc/{pid}/fd/{fd}")
            except OSError:
                continue
            if link.startswith("socket:["):
                inodes.add(link[len("socket:["):-1])
    with open("/proc/net/unix") as f:
        next(f)
        rows = [line.split() for line in f]
    return {r[7] for r in rows
            if len(r) > 7 and r[6] in inodes and r[7].startswith("/")}


def test_worker_sockets_live_in_a_private_directory(spark, monkeypatch):
    """The session's socket directory has mode 0700, and every socket
    file the driver, the JVM and the Python workers hold lies in it
    (none in java.io.tmpdir or /tmp). get_spark over the running
    SparkContext makes no second directory."""
    d = spark.conf.get("spark.python.unix.domain.socket.dir")
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    made = []
    monkeypatch.setattr(session, "worker_channel_conf",
                        lambda *bases: made.append(bases) or {})
    assert session.get_spark(cores=4).sparkContext is spark.sparkContext
    assert made == []
    assert spark.range(4, numPartitions=2).mapInArrow(
        lambda batches: batches, "id long").count() == 4
    paths = _bound_socket_paths(_process_tree(os.getpid()))
    assert paths
    assert all(os.path.dirname(p) == d and p.endswith(".sock")
               for p in paths), paths


def test_socket_dir_too_long_for_spark_keeps_tcp(tmp_path, caplog):
    """No JVM: a base directory too deep for a socket directory Spark
    accepts (61 characters, so socket paths fit AF_UNIX's 107 bytes)
    gets none; the next base that fits does, and with none left the
    conf stays empty (Spark's TCP) with a warning. A base that cannot
    hold a directory is skipped."""
    long_base = tmp_path / ("d" * 80)
    long_base.mkdir()
    missing = str(tmp_path / "missing")
    with caplog.at_level("WARNING", logger="supersonic_spark.session"):
        assert session.worker_channel_conf(missing, str(long_base)) == {}
    assert list(long_base.iterdir()) == []
    assert "keep loopback TCP" in caplog.text

    short_base = tempfile.mkdtemp(prefix="ss", dir="/tmp")
    try:
        conf = session.worker_channel_conf(missing, str(long_base),
                                           short_base)
        d = conf["spark.python.unix.domain.socket.dir"]
        assert conf["spark.python.unix.domain.socket.enabled"] == "true"
        assert os.path.dirname(d) == short_base
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
        assert len(os.fsencode(d)) <= session._SOCKET_DIR_MAX
    finally:
        shutil.rmtree(short_base)
    assert list(long_base.iterdir()) == []


# the settings get_spark built before spark_conf defined them, at cores=4
# with no SPARK_DRIVER_MEMORY or SPARK_GRAFT_EXTRA_CONF
_SETTINGS_AT_4_CORES = {
    "spark.app.name": "supersonic_spark",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.autoBroadcastJoinThreshold": "10m",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
    "spark.driver.memory": "16g",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}
_CHANNEL = {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": "/nonexistent/uds"}


def _new_context_options(monkeypatch, cores: int) -> dict:
    """No JVM: what get_spark would hand a new SparkContext."""
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(session, "worker_channel_conf",
                        lambda *bases: dict(_CHANNEL))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    return session.get_spark(cores=cores)


def test_spark_conf_keeps_every_get_spark_setting(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    assert session.spark_conf(4) == _SETTINGS_AT_4_CORES
    assert session.spark_conf(16)["spark.sql.shuffle.partitions"] == "32"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    assert session.spark_conf(4)["spark.driver.memory"] == "1g"
    assert _new_context_options(monkeypatch, 4) == {
        "spark.master": "local[4]", **_CHANNEL, **session.spark_conf(4)}


def test_extra_conf_overrides_every_setting_and_the_worker_channel(
        monkeypatch):
    keys = [*_SETTINGS_AT_4_CORES, *_CHANNEL]
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", ";".join(
        f" {k} = v{i}" for i, k in enumerate(keys)) + ";;no-value=")
    want = {k: f"v{i}" for i, k in enumerate(keys)}
    assert session.spark_conf(4) == want
    assert _new_context_options(monkeypatch, 4) == {
        "spark.master": "local[4]", **want}


def _env_reads(tree) -> list[int]:
    """Lines that read the environment: os.environ.get(...),
    os.getenv(...) and os.environ[...] loads (setdefault writes pass)."""
    def environ(n):
        return ((isinstance(n, ast.Attribute) and n.attr == "environ")
                or (isinstance(n, ast.Name) and n.id == "environ"))
    return [n.lineno for n in ast.walk(tree)
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr == "get" and environ(n.func.value))
            or (isinstance(n, ast.Attribute) and n.attr == "getenv")
            or (isinstance(n, ast.Name) and n.id == "getenv")
            or (isinstance(n, ast.Subscript) and environ(n.value)
                and isinstance(n.ctx, ast.Load))]


def test_only_session_reads_the_environment():
    """A new knob goes through session.spark_conf, not an environment
    variable read somewhere in the package."""
    hits, seen = [], 0
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py"):
                continue
            lines = _env_reads(ast.parse(open(path).read()))
            if path == session.__file__:
                seen = len(lines)
            else:
                hits += [(path, line) for line in lines]
    assert hits == []
    assert seen == 3     # SPARK_GRAFT_CPUS, SPARK_DRIVER_MEMORY, EXTRA_CONF
