"""supersonic_spark.runtime: pin_worker_threads() stamps the process's
zip importers, so importlib.invalidate_caches() re-reads a zip's
directory only when the archive changed since that importer's last read
(PySpark's worker calls it at the start of every task)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from supersonic_spark import runtime


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
