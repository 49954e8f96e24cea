"""supersonic_spark.runtime and the worker channel of session.get_spark:
pin_worker_threads() stamps the process's zip importers, so
importlib.invalidate_caches() re-reads a zip's directory only when the
archive changed since that importer's last read (PySpark's worker calls
it at the start of every task); Python workers talk to the JVM over Unix
sockets in a private directory."""

from __future__ import annotations

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

from supersonic_spark import runtime, session


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
    assert session.get_spark(cores=4, shuffle_partitions=8) \
        .sparkContext is spark.sparkContext
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
