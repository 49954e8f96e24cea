"""The store package: pipeline.py re-exports it, store/layout.py alone
spells on-disk names, and every encode or compaction leaves only its
live files (so decode returns exactly the rows last written), with one
bucket-id rule for bucket layouts."""

from __future__ import annotations

import ast
import base64
import datetime as dt
import importlib
import math
import os
import shutil
import subprocess
import sys

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "supersonic_spark")

# the public names pipeline.py had before the split, by owning module
OWNERS = {
    "stats": ["MANIFEST_SCHEMA", "STATS_VERSION", "bloom_probe_b64",
              "manifest_summary"],
    "encode": ["EncodeConfig", "salted_repartition", "encode_table",
               "zorder_key_expr", "encode_table_zordered",
               "encode_table_prebucketed"],
    "read": ["decode_table", "manifest_stats", "validate_blocks",
             "roundtrip_mismatch_count"],
    "maintain": ["bucketize_table", "upsert_bucketized", "delete_bucketized",
                 "merge_bucketized", "rebucket_table", "snapshot_table",
                 "list_snapshots", "expire_snapshots", "snapshot_diff",
                 "compact_blocks"],
}
# store module -> the store modules it may import
IMPORTS_ALLOWED = {"stats": set(), "layout": {"stats"},
                   "encode": {"stats", "layout"},
                   "read": {"stats", "layout"},
                   "maintain": {"stats", "layout", "encode", "read"}}
LAYOUT_NAMES = {"blocks", "manifest", "checkpoints", "meta.json",
                "_buckets.json", "snapshots"}

_CFG = dict(chunk_rows=64, conv_key="cid", order_key="i",
            sort_keys=("cid", "i"))
_SCHEMA = "cid string, i int, text string"


# --- module split -----------------------------------------------------------

def test_pipeline_reexports_the_public_api():
    import supersonic_spark.pipeline as pipeline
    assert sum(map(len, OWNERS.values())) == 24
    for mod, names in OWNERS.items():
        owner = importlib.import_module(f"supersonic_spark.store.{mod}")
        for name in names:
            obj = getattr(pipeline, name)
            assert obj is getattr(owner, name), name
            if callable(obj):
                assert obj.__module__ == owner.__name__, name
    public = {n for n in vars(pipeline) if not n.startswith("_")}
    assert public == {n for v in OWNERS.values() for n in v}


def test_store_modules_import_alone_and_one_way():
    for mod, allowed in IMPORTS_ALLOWED.items():
        subprocess.run([sys.executable, "-c",
                        f"import supersonic_spark.store.{mod}"],
                       cwd=REPO, check=True)
        tree = ast.parse(open(os.path.join(PKG, "store", f"{mod}.py")).read())
        used = {n.module.split(".")[0] for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom) and n.level == 1}
        assert used <= allowed, (mod, used - allowed)


def _docstring_ids(tree) -> set:
    return {id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)}


def test_only_layout_spells_on_disk_names():
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(
                    os.path.join("store", "layout.py")):
                continue
            tree = ast.parse(open(path).read())
            docs = _docstring_ids(tree)
            hits += [(path, n.lineno, n.value) for n in ast.walk(tree)
                     if isinstance(n, ast.Constant)
                     and isinstance(n.value, str) and id(n) not in docs
                     and (n.value in LAYOUT_NAMES
                          or n.value.endswith(".ssb"))]
    assert hits == []


def test_only_layout_reads_bucket_files_and_manifests():
    """encode.py and maintain.py read and write bucket files and
    manifests through layout's readers, never with pyarrow.parquet."""
    for mod in ("encode", "maintain"):
        tree = ast.parse(open(os.path.join(PKG, "store", f"{mod}.py")).read())
        imported = ({a.name for n in ast.walk(tree)
                     if isinstance(n, ast.Import) for a in n.names}
                    | {f"{n.module}.{a.name}" for n in ast.walk(tree)
                       if isinstance(n, ast.ImportFrom) for a in n.names})
        assert not [m for m in imported
                    if m.startswith("pyarrow.parquet")], mod


# --- every write leaves only its live files --------------------------------

def _rows(tag: str, n: int) -> list[tuple]:
    return [(f"{tag}{i % 50}", i, f"{tag}-t{i}") for i in range(n)]


def _decoded(spark, out: str) -> list[tuple]:
    from supersonic_spark.pipeline import decode_table
    return sorted(tuple(r) for r in
                  decode_table(spark, out).select("cid", "i", "text")
                  .collect())


def _live_files_agree(out: str) -> None:
    from supersonic_spark.store.layout import (_block_pid, blocks_dir,
                                               checkpoints_dir, manifest_dir)
    frags = os.listdir(manifest_dir(out))
    pids = {_block_pid(f) for f in frags}
    assert {_block_pid(b) for b in os.listdir(blocks_dir(out))} <= pids
    assert not os.path.exists(checkpoints_dir(out))


def test_reencode_with_fewer_partitions_decodes_only_the_new_rows(
        spark, tmp_path):
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    out = str(tmp_path / "t")
    encode_table(spark, spark.createDataFrame(_rows("a", 4000), _SCHEMA),
                 out, EncodeConfig(n_partitions=16, **_CFG))
    small = _rows("b", 20)
    encode_table(spark, spark.createDataFrame(small, _SCHEMA), out,
                 EncodeConfig(n_partitions=4, **_CFG))
    assert _decoded(spark, out) == sorted(small)
    _live_files_agree(out)


def test_encode_a_then_b_then_a_decodes_a(spark, tmp_path):
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    out = str(tmp_path / "t")
    a, b = _rows("a", 4000), _rows("b", 1000)
    cfg = EncodeConfig(n_partitions=16, **_CFG)
    encode_table(spark, spark.createDataFrame(a, _SCHEMA), out, cfg,
                 fingerprint="A")
    encode_table(spark, spark.createDataFrame(b, _SCHEMA), out, cfg,
                 fingerprint="B")
    man = encode_table(spark, spark.createDataFrame(a, _SCHEMA), out, cfg,
                       fingerprint="A")
    # B's write superseded every A marker, so nothing resumes from them
    assert man.filter(F.col("resumed")).count() == 0
    assert _decoded(spark, out) == sorted(a)
    _live_files_agree(out)


def test_recompaction_with_larger_groups_decodes_each_row_once(
        spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig, compact_blocks,
                                           encode_table)
    srcs, rows = [], []
    for tag in ("a", "b"):
        part = _rows(tag, 2000)
        d = str(tmp_path / tag)
        encode_table(spark, spark.createDataFrame(part, _SCHEMA), d,
                     EncodeConfig(n_partitions=4, **_CFG), fingerprint=tag)
        srcs.append(d)
        rows += part
    out = str(tmp_path / "merged")
    compact_blocks(spark, srcs, out, group_size=1)
    compact_blocks(spark, srcs, out, group_size=8)
    assert _decoded(spark, out) == sorted(rows)
    from supersonic_spark.store.layout import list_blocks
    n_src = sum(len(list_blocks(d)) for d in srcs)
    assert len(list_blocks(out)) == -(-n_src // 8)
    _live_files_agree(out)


def test_install_current_commits_the_table(spark, tmp_path, monkeypatch):
    """meta.json is written once per encode, by install_current: an
    encode killed before it leaves no meta.json on a new table (decode
    raises) and the previous meta.json byte for byte on an old one. No
    encode writes a resume marker."""
    import supersonic_spark.store.encode as encode
    import supersonic_spark.store.layout as layout
    from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                           decode_table, encode_table,
                                           encode_table_prebucketed)

    def killed(*_a, **_k):
        raise RuntimeError("killed before install")

    def encode_killed(*args, **kwargs):
        with monkeypatch.context() as m:
            m.setattr(encode, "install_current", killed)
            with pytest.raises(RuntimeError, match="killed"):
                encode_table(*args, **kwargs)

    out = str(tmp_path / "t")
    cfg = EncodeConfig(n_partitions=4, **_CFG)
    a = spark.createDataFrame(_rows("a", 1000), _SCHEMA)
    encode_killed(spark, a, out, cfg, fingerprint="a")
    assert layout.list_blocks(out)                 # the tasks ran
    assert not os.path.exists(layout.meta_path(out))
    assert not os.path.exists(layout.checkpoints_dir(out))
    with pytest.raises(FileNotFoundError):
        decode_table(spark, out)

    writes = []
    real_write_meta = layout._write_meta
    monkeypatch.setattr(layout, "_write_meta",
                        lambda *args: writes.append(args[0])
                        or real_write_meta(*args))
    encode_table(spark, a, out, cfg, fingerprint="a")
    bdir, pb_out = str(tmp_path / "b"), str(tmp_path / "pb")
    bucketize_table(spark, a, bdir, n_buckets=4, conv_key="cid")
    encode_table_prebucketed(spark, bdir, pb_out, cfg)
    assert writes == [out, pb_out]
    with open(layout.meta_path(out), "rb") as f:
        before = f.read()
    encode_killed(spark, spark.createDataFrame(_rows("b", 500), _SCHEMA),
                  out, cfg, fingerprint="b")
    with open(layout.meta_path(out), "rb") as f:
        assert f.read() == before
    assert not os.path.exists(layout.checkpoints_dir(out))
    assert not os.path.exists(layout.checkpoints_dir(pb_out))


def test_rerun_of_a_killed_zorder_encode_decodes_the_source(spark, tmp_path):
    """repartitionByRange cuts from a sample Spark seeds with the RDD id,
    so a re-run after other jobs cuts differently: a z-order encode
    never resumes, and the re-run's install drops the killed call's
    partitions instead of mixing two cuts."""
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table_zordered)
    from supersonic_spark.store.layout import (_block_pid, blocks_dir,
                                               manifest_dir)
    src = generate_transcripts(spark, n_convs=1500, seed=11)
    out = str(tmp_path / "z")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=512)
    keys = ("turn_idx", "ts")
    encode_table_zordered(spark, src, out, cfg, zorder_keys=keys)
    for pid in (1, 2):      # a kill before these partitions committed
        for d in (blocks_dir(out), manifest_dir(out)):
            for f in os.listdir(d):
                if _block_pid(f) == pid:
                    os.remove(os.path.join(d, f))
    for n in range(3, 8):
        spark.range(n).count()
    man = encode_table_zordered(spark, src, out, cfg, zorder_keys=keys)
    cols = ["conv_id", "turn_idx"]
    got = decode_table(spark, out).select(*cols)
    assert (got.count(), got.exceptAll(src.select(*cols)).count()) \
        == (src.count(), 0)
    assert man.filter(F.col("resumed")).count() == 0
    _live_files_agree(out)


# --- one bucket-id rule -----------------------------------------------------

def test_upsert_into_an_empty_bucket_reencodes_one_file(spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                           encode_table_prebucketed,
                                           upsert_bucketized)
    schema = "cid long, i int, text string"
    by_bucket = {r["cid"]: r["b"] for r in spark.range(200).select(
        F.col("id").alias("cid"),
        F.pmod(F.hash("id"), F.lit(8)).alias("b")).collect()}
    # three conversations in the upper buckets, the upsert in bucket 1
    # (Spark writes a file for partition 0 even when it is empty)
    convs = [c for c, b in sorted(by_bucket.items()) if b >= 4][:3]
    target = min(c for c, b in by_bucket.items() if b == 1)
    rows = [(c, i, f"t{c}-{i}") for c in convs for i in range(5)]
    bdir, out = str(tmp_path / "b"), str(tmp_path / "enc")
    bucketize_table(spark, spark.createDataFrame(rows, schema), bdir,
                    n_buckets=8, conv_key="cid")
    cfg = EncodeConfig(**_CFG)
    encode_table_prebucketed(spark, bdir, out, cfg)
    new = [(target, 0, "new")]
    assert upsert_bucketized(spark, spark.createDataFrame(new, schema),
                             bdir) == [1]
    man = encode_table_prebucketed(spark, bdir, out, cfg)
    fresh = {r[0] for r in man.filter(~F.col("resumed"))
             .select("partition_id").distinct().collect()}
    assert fresh == {1}
    assert _decoded(spark, out) == sorted(rows + new)
    from supersonic_spark.store.layout import bucket_files
    assert sorted(bucket_files(bdir)) == list(range(8))


def test_merge_completes_a_layout_missing_buckets(spark, tmp_path):
    """A layout written without files for its empty buckets gets them on
    its first merge."""
    from supersonic_spark.pipeline import (bucketize_table,
                                           merge_bucketized)
    from supersonic_spark.store.layout import bucket_files
    rows = [(c, 0, f"v{c}") for c in range(3)]
    bdir = str(tmp_path / "b")
    bucketize_table(spark, spark.createDataFrame(rows, _SCHEMA.replace(
        "cid string", "cid long")), bdir, n_buckets=8, conv_key="cid")
    files = bucket_files(bdir)
    empty = [p for p in files.values()
             if spark.read.parquet(p).count() == 0]
    for p in empty:
        os.remove(p)
    assert len(bucket_files(bdir)) == 8 - len(empty) < 8
    changes = spark.createDataFrame([(99, 1, "x", "upsert")],
                                    "cid long, i int, text string, _op string")
    merge_bucketized(spark, changes, bdir)
    assert sorted(bucket_files(bdir)) == list(range(8))
    got = sorted(tuple(r) for r in spark.read.parquet(bdir).collect())
    assert got == sorted(rows + [(99, 1, "x")])


# --- reads planned on the driver --------------------------------------------

def _run_counted(spark, fn):
    """(fn(), jobs, tasks): the Spark jobs and tasks fn ran, counted
    through a StatusTracker job group once the listener bus drained."""
    sc = spark.sparkContext
    group = f"counted-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s) for j in jobs
              for s in st.getJobInfo(j).stageIds]
    return out, len(jobs), sum(s.numCompletedTasks for s in stages if s)


@pytest.fixture(scope="module")
def empty_table(spark, tmp_path_factory):
    """An encoded empty DataFrame: its manifest/ holds no fragment."""
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    out = str(tmp_path_factory.mktemp("empty") / "t")
    encode_table(spark, spark.createDataFrame([], _SCHEMA), out,
                 EncodeConfig(n_partitions=4, **_CFG))
    return out


@pytest.mark.parametrize("call, kwargs", [
    ("decode_table", {"predicate": ("cid", "a", "a")}),
    ("manifest_stats", {}), ("validate_blocks", {})])
def test_readers_of_an_empty_table_return_nothing(spark, empty_table, call,
                                                  kwargs):
    import supersonic_spark.pipeline as pipeline
    assert getattr(pipeline, call)(spark, empty_table, **kwargs).count() == 0


def test_snapshot_diff_call_runs_no_job(spark, tmp_path):
    """The changed partitions come from the two manifests' files on the
    driver; only the returned DataFrame's action runs Spark jobs."""
    from supersonic_spark.pipeline import (EncodeConfig, encode_table,
                                           snapshot_diff, snapshot_table)
    out = str(tmp_path / "t")
    cfg = EncodeConfig(n_partitions=4, **_CFG)
    a = _rows("a", 1000)
    b = a[:-1] + [a[-1][:2] + ("changed",)]
    encode_table(spark, spark.createDataFrame(a, _SCHEMA), out, cfg,
                 fingerprint="a")
    snapshot_table(out, "v1")
    encode_table(spark, spark.createDataFrame(b, _SCHEMA), out, cfg,
                 fingerprint="b")
    diff, jobs, _ = _run_counted(spark,
                                 lambda: snapshot_diff(spark, out, "v1"))
    assert jobs == 0
    assert sorted((r["change_type"], r["cid"], r["i"], r["text"])
                  for r in diff.collect()) == [("delete", *a[-1]),
                                               ("insert", *b[-1])]


def test_validate_blocks_is_one_job_and_flags_a_missing_block_file(
        spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig, encode_table,
                                           validate_blocks)
    from supersonic_spark.store.layout import (_block_pid, list_blocks,
                                               manifest_table)
    out = str(tmp_path / "t")
    encode_table(spark, spark.createDataFrame(_rows("a", 1000), _SCHEMA),
                 out, EncodeConfig(n_partitions=4, **_CFG))
    audit, jobs, _ = _run_counted(
        spark, lambda: validate_blocks(spark, out).collect())
    assert jobs == 1
    assert audit and all(r["ok"] for r in audit)
    assert list(audit[0].asDict()) == ["partition_id", "chunk_id",
                                       "crc_expected", "crc_actual", "ok"]
    gone = list_blocks(out)[0]
    os.remove(gone)
    pid = _block_pid(gone)
    man = manifest_table(out, ["partition_id", "chunk_id"], {"cid"})
    chunks = sorted(c for p, c in zip(man.column("partition_id").to_pylist(),
                                      man.column("chunk_id").to_pylist())
                    if p == pid)
    bad = [r for r in validate_blocks(spark, out).collect() if not r["ok"]]
    assert sorted(r["chunk_id"] for r in bad) == chunks != []
    assert {r["partition_id"] for r in bad} == {pid}
    assert all(r["crc_actual"] is None and r["crc_expected"] is not None
               for r in bad)


def test_manifest_stats_runs_no_job_and_matches_the_spark_aggregate(
        spark, tmp_path):
    """manifest_stats folds the manifest on the driver: collecting it
    runs no Spark job, and it equals the Spark aggregate over the same
    manifest (NULL sum when a chunk lacks one, n_values from n_nulls)."""
    from supersonic_spark.pipeline import (EncodeConfig, encode_table,
                                           manifest_stats)
    from supersonic_spark.store.layout import read_manifest
    base = dt.datetime(2024, 1, 1)
    rows = [(f"c{i % 7}", i, None if i % 4 else f"t{i % 11}",
             None if i < 300 else (i * 37) % 1000 - 500, i / 7.0,
             i % 5 == 0, base + dt.timedelta(seconds=i))
            for i in range(1500)]
    schema = ("cid string, i int, text string, v long, f double, "
              "b boolean, ts timestamp")
    out = str(tmp_path / "t")
    encode_table(spark, spark.createDataFrame(rows, schema), out,
                 EncodeConfig(n_partitions=3, **_CFG))
    stats, jobs, _ = _run_counted(
        spark, lambda: manifest_stats(spark, out).collect())
    assert jobs == 0
    man = read_manifest(spark, out)
    vsum = F.when(F.max(F.col("vsum_int").isNull().cast("int")) == 0,
                  F.sum("vsum_int"))
    want = (man.groupBy("column")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("n_nulls").alias("n_nulls"),
                 F.min("vmin_num").alias("min_num"),
                 F.max("vmax_num").alias("max_num"),
                 F.min("vmin_str").alias("min_str"),
                 F.max("vmax_str").alias("max_str"),
                 vsum.alias("sum_int"))
            .withColumn("n_values", F.col("n_rows") - F.coalesce(
                F.col("n_nulls"), F.lit(0))))
    assert manifest_stats(spark, out).schema == want.schema
    assert sorted(map(tuple, stats)) == sorted(map(tuple, want.collect()))
    by_col = {r["column"]: r for r in stats}
    assert len(by_col) == 7
    assert by_col["v"]["sum_int"] == sum(r[3] for r in rows if r[3])
    assert by_col["v"]["n_values"] == 1200
    assert by_col["f"]["sum_int"] is None


def test_manifest_table_reads_every_manifest_shape(spark, tmp_path):
    from supersonic_spark.pipeline import (MANIFEST_SCHEMA, EncodeConfig,
                                           encode_table)
    from supersonic_spark.store.layout import manifest_dir, manifest_table
    out = str(tmp_path / "t")
    man = encode_table(spark, spark.createDataFrame(_rows("a", 1000),
                                                    _SCHEMA),
                       out, EncodeConfig(n_partitions=4, **_CFG))
    want = sorted((r["partition_id"], r["chunk_id"], r["crc32"])
                  for r in man.filter(F.col("column") == "cid").collect())

    def got(tbl):
        return sorted(zip(*(tbl.column(c).to_pylist() for c in
                            ("partition_id", "chunk_id", "crc32"))))
    tbl = manifest_table(out, ["partition_id", "chunk_id", "crc32"], {"cid"})
    assert tbl.column_names == ["partition_id", "chunk_id", "crc32"]
    assert got(tbl) == want
    # a manifest an older encoder wrote as one Spark job, with a column
    # only some of its files have: part-*-<uuid> files, _SUCCESS and
    # .crc files, and the missing column read as null
    old = str(tmp_path / "old")
    full = spark.read.parquet(manifest_dir(out))
    full.filter("partition_id < 2").drop("vmin_str").coalesce(1) \
        .write.parquet(manifest_dir(old))
    full.filter("partition_id >= 2").coalesce(1) \
        .write.mode("append").parquet(manifest_dir(old))
    tbl = manifest_table(old, ["partition_id", "chunk_id", "crc32",
                               "vmin_str"], {"cid"})
    assert got(tbl) == want
    assert [pid < 2 for pid in tbl.column("partition_id").to_pylist()] \
        == tbl.column("vmin_str").is_null().to_pylist()
    os.makedirs(manifest_dir(str(tmp_path / "empty")))
    empty = manifest_table(str(tmp_path / "empty"))
    assert empty.num_rows == 0
    assert empty.schema.names == [f.name for f in MANIFEST_SCHEMA.fields]


def test_compaction_keeps_columns_older_manifest_files_lack(spark,
                                                          tmp_path):
    """A source manifest an older encoder wrote as Spark part files, the
    first of which lacks vmin_str: the compacted manifest keeps vmin_str
    for every chunk that had it, and the rows decode."""
    from supersonic_spark.pipeline import (EncodeConfig, compact_blocks,
                                           encode_table)
    from supersonic_spark.store.layout import (manifest_dir, manifest_table,
                                               parquet_files)
    src, out = str(tmp_path / "src"), str(tmp_path / "compacted")
    rows = _rows("a", 1000)
    encode_table(spark, spark.createDataFrame(rows, _SCHEMA), src,
                 EncodeConfig(n_partitions=4, **_CFG))
    zones = manifest_table(src, ["partition_id", "vmin_str"], {"cid"})
    full = spark.read.parquet(manifest_dir(src)).cache()
    full.count()
    shutil.rmtree(manifest_dir(src))
    os.makedirs(manifest_dir(src))
    # the file without vmin_str sorts first
    for i, part in enumerate([full.filter("partition_id < 2").drop("vmin_str"),
                              full.filter("partition_id >= 2")]):
        tmp = str(tmp_path / f"part{i}")
        part.coalesce(1).write.parquet(tmp)
        os.rename(parquet_files(tmp)[0], os.path.join(
            manifest_dir(src), f"part-{i:05d}-old.snappy.parquet"))
    full.unpersist()
    compact_blocks(spark, [src], out, group_size=8)
    want = sorted(v for pid, v in zip(zones.column("partition_id").to_pylist(),
                                      zones.column("vmin_str").to_pylist())
                  if pid >= 2)
    got = manifest_table(out, ["vmin_str"], {"cid"}).column("vmin_str")
    assert len(want) > 0 and sorted(got.drop_null().to_pylist()) == want
    assert _decoded(spark, out) == sorted(rows)


def test_unpredicated_read_of_a_compacted_table_plans_without_a_job(
        spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig, compact_blocks,
                                           decode_table, encode_table)
    from supersonic_spark.store.layout import list_blocks
    src, out = str(tmp_path / "src"), str(tmp_path / "compacted")
    rows = _rows("a", 2000)
    encode_table(spark, spark.createDataFrame(rows, _SCHEMA), src,
                 EncodeConfig(n_partitions=4, **_CFG))
    compact_blocks(spark, [src], out, group_size=8)
    assert len(list_blocks(out)) < spark.sparkContext.defaultParallelism
    df, jobs, _ = _run_counted(spark, lambda: decode_table(spark, out))
    assert jobs == 0
    assert df.rdd.getNumPartitions() > 1        # chunk ranges split
    assert _decoded(spark, out) == sorted(rows)


@pytest.fixture(scope="module")
def lookup_table(spark, tmp_path_factory):
    """Four partitions of one chunk each, with blooms on cid."""
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    out = str(tmp_path_factory.mktemp("lookup") / "t")
    rows = _rows("a", 2000)
    cfg = EncodeConfig(n_partitions=4, bloom_cols=("cid",),
                       **dict(_CFG, chunk_rows=4096))
    encode_table(spark, spark.createDataFrame(rows, _SCHEMA), out, cfg)
    return out, rows


@pytest.mark.parametrize("predicate", [
    ("cid", "a7", "a7"), ("cid", "zz", "zz"), ("cid", ["a1", "a9", "b"]),
    ("i", 10, 20), [("cid", "a1", "a3"), ("i", 0, 500)]])
def test_decode_table_call_runs_no_job(spark, lookup_table, predicate):
    from supersonic_spark.pipeline import decode_table
    out, _rows_ = lookup_table
    _, jobs, _ = _run_counted(
        spark, lambda: decode_table(spark, out, predicate=predicate))
    assert jobs == 0


def test_present_key_lookup_is_one_job_of_one_task(spark, lookup_table):
    from supersonic_spark.pipeline import decode_table
    out, rows = lookup_table
    got, jobs, tasks = _run_counted(spark, lambda: decode_table(
        spark, out, predicate=("cid", "a7", "a7")).collect())
    assert (jobs, tasks) == (1, 1)
    assert sorted(tuple(r) for r in got) == sorted(
        r for r in rows if r[0] == "a7")


@pytest.mark.parametrize("key, pruned_by", [("zz", "zone maps"),
                                            ("a25x", "blooms")])
def test_absent_key_lookup_runs_no_job(spark, lookup_table, key, pruned_by):
    from supersonic_spark.pipeline import decode_table
    from supersonic_spark.store.layout import manifest_table
    out, _rows_ = lookup_table
    zones = manifest_table(out, ["vmin_str", "vmax_str"], {"cid"})
    inside = any(lo <= key <= hi for lo, hi in zip(
        zones.column("vmin_str").to_pylist(),
        zones.column("vmax_str").to_pylist()))
    assert inside == (pruned_by == "blooms")
    got, jobs, _ = _run_counted(spark, lambda: decode_table(
        spark, out, predicate=("cid", key, key)).collect())
    assert (got, jobs) == ([], 0)


def test_lookup_is_one_job_at_any_manifest_size(spark, lookup_table,
                                                tmp_path):
    """Planning does not depend on the manifest's recorded size: a table
    stamped as holding 10^9 manifest rows still plans on the driver."""
    from supersonic_spark.pipeline import decode_table
    from supersonic_spark.store.layout import _write_meta, read_meta
    src, rows = lookup_table
    out = str(tmp_path / "big")
    shutil.copytree(src, out)
    _write_meta(out, dict(read_meta(out), manifest_rows=10 ** 9))
    got, jobs, tasks = _run_counted(spark, lambda: decode_table(
        spark, out, predicate=("cid", "a7", "a7")).collect())
    assert (jobs, tasks) == (1, 1)
    assert sorted(tuple(r) for r in got) == sorted(
        r for r in rows if r[0] == "a7")
    got, jobs, _ = _run_counted(spark, lambda: decode_table(
        spark, out, predicate=("cid", "a25x", "a25x")).collect())
    assert (got, jobs) == ([], 0)


# --- the driver's pruning and the parent's Spark filter agree

_BASE = dt.datetime(2024, 1, 1)
_KEYS = [f"c{k:03d}" for k in range(60)]


@pytest.fixture(scope="module")
def prune_tables(spark, tmp_path_factory):
    """name -> table: a current table (blooms on cid and i, ts a
    TIMESTAMP_NTZ, f a double with NaN), the same declared
    stats_version 2, the same with a pre-upgrade manifest, the same with
    some f zone maps NaN..NaN, and its compaction with a
    table whose schema adds a column."""
    import json
    from test_round5 import _emulate_pre_upgrade_manifest
    from supersonic_spark.pipeline import (EncodeConfig, compact_blocks,
                                           encode_table)
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from supersonic_spark.store.layout import manifest_files, meta_path
    root = tmp_path_factory.mktemp("prune")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=128, conv_key="cid",
                       order_key="i", sort_keys=("cid", "i"),
                       bloom_cols=("cid", "i"))

    def rows(n, first):
        return spark.range(first, first + n).select(
            F.format_string("c%03d", F.col("id") % 60).alias("cid"),
            F.col("id").cast("int").alias("i"),
            F.expr("timestamp_ntz'2024-01-01 00:00:00' "
                   "+ make_dt_interval(0, 0, id, 0)").alias("ts"),
            F.when(F.col("id") % 60 < 24, F.lit(float("nan")))
            .otherwise(F.col("id") * 0.5).alias("f"))

    t = {name: str(root / name) for name in
         ("current", "stats_v2", "pre_upgrade", "nan_stats", "evolved",
          "compacted")}
    encode_table(spark, rows(3000, 0), t["current"], cfg)
    for name in ("stats_v2", "pre_upgrade", "nan_stats"):
        shutil.copytree(t["current"], t[name])
    # the zone maps a writer whose min/max propagate NaN records: NaN..NaN
    # for f in the even chunks (Arrow's min_max skips NaN)
    for path in manifest_files(t["nan_stats"]):
        man = pq.read_table(path)
        nan = pc.and_(pc.equal(man.column("column"), "f"),
                      pc.equal(pc.bit_wise_and(man.column("chunk_id"), 1), 0))
        for c in ("vmin_num", "vmax_num"):
            man = man.set_column(
                man.schema.get_field_index(c), c,
                pc.if_else(nan, math.nan, man.column(c)))
        pq.write_table(man, path)
    with open(meta_path(t["stats_v2"])) as f:
        meta = json.load(f)
    with open(meta_path(t["stats_v2"]), "w") as f:
        json.dump(dict(meta, stats_version=2), f)
    _emulate_pre_upgrade_manifest(spark, t["pre_upgrade"])
    encode_table(spark, rows(600, 3000).withColumn("extra", F.lit(7)),
                 t["evolved"], cfg)
    compact_blocks(spark, [t["current"], t["evolved"]], t["compacted"])
    del t["evolved"]
    return t


@st.composite
def _predicate(draw):
    kind = draw(st.sampled_from(["int", "str", "in_str", "in_int",
                                 "float", "in_float", "naive", "aware"]))
    key = st.one_of(st.sampled_from(_KEYS),
                    st.text("cz0123456789", min_size=1, max_size=5))
    if kind == "int":
        lo = draw(st.integers(-50, 3700))
        return ("i", lo, draw(st.integers(lo, 3700)))
    if kind == "str":
        k = draw(key)
        return ("cid", k, k)
    if kind == "in_str":
        return ("cid", draw(st.lists(key, min_size=1, max_size=4)))
    if kind == "in_int":
        return ("i", draw(st.lists(st.integers(-5, 3700), min_size=1,
                                   max_size=4)))
    num = st.one_of(st.sampled_from([math.nan, math.inf, -math.inf]),
                    st.floats(-10, 2000))
    if kind == "float":
        return ("f", draw(num), draw(num))
    if kind == "in_float":
        return ("f", draw(st.lists(num, min_size=1, max_size=3)))
    a = draw(st.integers(-100, 3700))
    lo, hi = (_BASE + dt.timedelta(minutes=m)
              for m in (a, draw(st.integers(a, 3800))))
    if kind == "aware":
        lo, hi = lo.replace(tzinfo=dt.timezone.utc), \
            hi.replace(tzinfo=dt.timezone.utc)
    return ("ts", lo, hi)


def _oracle_chunks(spark, out, predicates, meta):
    """The pruning the engine did as Spark jobs before it planned on the
    driver: zone maps as a Spark filter over the manifest, blooms probed
    row by row with the scalar _bloom_member."""
    from supersonic_spark.store.layout import manifest_dir
    from supersonic_spark.store.read import _session_tz
    from supersonic_spark.store.stats import _bloom_member, _bound_ns
    man = spark.read.parquet(manifest_dir(out))
    ns_stats = (meta["stats_version"] >= 2 if "stats_version" in meta
                else "vsum_int" in man.columns or "n_nulls" in man.columns)
    blooms_ok = (meta.get("stats_version", 0) >= 3
                 and "bloom_b64" in man.columns)
    ntz = {f["name"] for f in meta["spark_schema"]["fields"]
           if f["type"] == "timestamp_ntz"}
    keep = None
    for pred in predicates:
        if any(isinstance(v, float) and math.isnan(v)
               for v in (pred[1] if len(pred) == 2 else pred[1:])):
            continue    # NaN bounds: Arrow's min_max zone maps skip NaN
        values = pred[1] if len(pred) == 2 else [pred[1]]
        lo, hi = (values[0], values[-1]) if len(pred) == 2 else pred[1:]
        if isinstance(lo, (dt.date, dt.datetime)) and not ns_stats:
            continue
        tz = _session_tz(spark)
        if pred[0] in ntz and isinstance(lo, dt.datetime):
            if lo.tzinfo is not None:
                continue
            tz = dt.timezone.utc
        kind = "str" if isinstance(lo, str) else "num"
        vmin, vmax = F.col(f"vmin_{kind}"), F.col(f"vmax_{kind}")
        cond = (vmin.isNull() | vmax.isNull()
                | ((vmax >= F.lit(_bound_ns(lo, -1, tz)))
                   & (vmin <= F.lit(_bound_ns(hi, +1, tz)))))
        probe = (blooms_ok and (len(pred) == 2 or lo == hi)
                 and all(isinstance(v, (int, str)) for v in values))
        this = {(r["partition_id"], r["chunk_id"]) for r in
                man.filter((F.col("column") == pred[0]) & cond).collect()
                if not probe or r["bloom_b64"] is None
                or any(_bloom_member(v, base64.b64decode(r["bloom_b64"]))
                       for v in values)}
        keep = this if keep is None else keep & this
    return keep


@pytest.mark.parametrize("name", ["current", "stats_v2", "pre_upgrade",
                                  "nan_stats", "compacted"])
@settings(max_examples=15, deadline=None)
@given(drawn=st.lists(_predicate(), min_size=1, max_size=2))
@example(drawn=[("f", 100.0, math.nan)])
@example(drawn=[("f", [math.nan])])
def test_prune_paths_agree_with_the_spark_filter(spark, prune_tables, name,
                                                 drawn):
    from supersonic_spark.store.layout import read_meta
    from supersonic_spark.store.read import (_normalize_predicates,
                                             _pruned_chunks)
    out = prune_tables[name]
    preds = _normalize_predicates(drawn)
    meta = read_meta(out)
    keep = _pruned_chunks(spark, out, preds, meta)
    driver = (None if keep is None else
              {(pid, cid) for pid, cs in keep.items() for cid in cs})
    assert driver == _oracle_chunks(spark, out, preds, meta)


def test_nan_bounds_keep_the_nan_rows(spark, tmp_path):
    """Arrow's min_max zone maps skip NaN while Spark orders NaN above
    every value, so a NaN bound or IN-list member matches NaN rows the
    zone maps do not cover: such a predicate must not prune."""
    from supersonic_spark.pipeline import EncodeConfig, decode_table, \
        encode_table
    src = spark.range(600).select(
        F.format_string("c%03d", F.col("id") % 60).alias("cid"),
        F.col("id").cast("int").alias("i"),
        F.when(F.col("id") % 3 == 0, F.lit(math.nan))
        .otherwise(F.col("id") * 0.5).alias("f"))
    out = str(tmp_path / "t")
    encode_table(spark, src, out, EncodeConfig(n_partitions=2, **_CFG))
    nan, f = math.nan, F.col("f")
    for pred, cond in [(("f", nan, nan), (f >= nan) & (f <= nan)),
                       (("f", [nan]), f.isin(nan)),
                       (("f", 100.0, nan), (f >= 100.0) & (f <= nan))]:
        got = sorted((r["cid"], r["i"]) for r in
                     decode_table(spark, out, predicate=pred).collect())
        want = sorted((r["cid"], r["i"]) for r in
                      src.filter(cond).collect())
        assert got == want and len(want) >= 200, pred


def test_driver_prune_with_several_manifest_files_per_task(spark, tmp_path):
    """A table of more manifest files than task slots: the driver prunes
    them one file at a time, and the conjunction of an IN-list and a
    range still holds across files."""
    from supersonic_spark.pipeline import EncodeConfig, decode_table, \
        encode_table
    from supersonic_spark.store.layout import manifest_files
    out = str(tmp_path / "t")
    rows = _rows("a", 3000)
    encode_table(spark, spark.createDataFrame(rows, _SCHEMA), out,
                 EncodeConfig(n_partitions=12, bloom_cols=("cid",), **_CFG))
    assert len(manifest_files(out)) > 2 * spark.sparkContext.defaultParallelism
    pred = [("cid", ["a3", "a17", "a41", "zz"]), ("i", 200, 2500)]
    driver = sorted(tuple(r) for r in
                    decode_table(spark, out, predicate=pred).collect())
    assert driver == sorted(
        r for r in rows if r[0] in ("a3", "a17", "a41") and 200 <= r[1] <= 2500)
    assert driver


# --- a merge rewrites only the touched bucket files -------------------------

_MERGE_SCHEMA = "cid long, i int, text string, _op string"


def _layout(spark, tmp_path, n_buckets=8, n_convs=40):
    """A bucket layout of n_convs 3-turn conversations and {cid: bucket}."""
    from supersonic_spark.pipeline import bucketize_table
    rows = [(c, i, f"v{c}-{i}") for c in range(n_convs) for i in range(3)]
    bdir = str(tmp_path / "b")
    bucketize_table(spark, spark.createDataFrame(rows, _SCHEMA.replace(
        "cid string", "cid long")), bdir, n_buckets=n_buckets, conv_key="cid")
    bucket_of = {r["cid"]: r["b"] for r in spark.range(n_convs).select(
        F.col("id").alias("cid"),
        F.pmod(F.hash("id"), F.lit(n_buckets)).alias("b")).collect()}
    return bdir, rows, bucket_of


def _file_bytes(d: str) -> dict:
    return {n: open(os.path.join(d, n), "rb").read()
            for n in sorted(os.listdir(d))}


@pytest.mark.parametrize("k", [1, 3, 8])
def test_merge_is_two_jobs_and_one_wave_of_rewrites(spark, tmp_path, k):
    """Only the change rows are shuffled: a merge touching k of 8 buckets
    runs at most 2 jobs, one task reading the change rows and one wave
    of at most min(8, defaultParallelism) rewriting bucket files."""
    from supersonic_spark.pipeline import merge_bucketized
    bdir, rows, bucket_of = _layout(spark, tmp_path)
    first = {}
    for c, b in sorted(bucket_of.items()):
        first.setdefault(b, c)
    assert len(first) == 8
    convs = [first[b] for b in sorted(first)[:k]]
    changes = spark.createDataFrame(
        [(c, 0, "new", "upsert") for c in convs], _MERGE_SCHEMA).coalesce(1)
    touched, jobs, tasks = _run_counted(
        spark, lambda: merge_bucketized(spark, changes, bdir))
    assert touched == sorted(bucket_of[c] for c in convs)
    dp = spark.sparkContext.defaultParallelism
    assert jobs <= 2 and tasks <= 1 + min(8, dp), (jobs, tasks)
    got = sorted(tuple(r) for r in spark.read.parquet(bdir).collect())
    assert got == sorted([r for r in rows if r[0] not in convs]
                         + [(c, 0, "new") for c in convs])


def test_empty_merge_rewrites_no_file(spark, tmp_path):
    from supersonic_spark.pipeline import merge_bucketized
    bdir, _rows, _b = _layout(spark, tmp_path)
    before = {n: os.stat(os.path.join(bdir, n)).st_mtime_ns
              for n in os.listdir(bdir)}
    changes = spark.createDataFrame([], _MERGE_SCHEMA)
    assert merge_bucketized(spark, changes, bdir) == []
    assert {n: os.stat(os.path.join(bdir, n)).st_mtime_ns
            for n in os.listdir(bdir)} == before


_TS = dt.datetime(2024, 3, 1, 12, 30, 15, 123456)
_TS_MIN = dt.datetime(1, 1, 2)     # the first day PySpark collects
_TS_MAX = dt.datetime(9999, 12, 31, 23, 59, 59, 999999)
_FIDELITY_SCHEMA = "k long, n int, s string, x string, ts timestamp"


def _fidelity_rows(tag: str, keys, n: int = 2) -> list[tuple]:
    """n turns per key; x is NULL on odd turns, ts has microseconds."""
    return [(k, t, f"{tag}{k}-{t}", None if t % 2 else f"x{t}",
             _TS + dt.timedelta(days=(k or 0), microseconds=7 * t + 1))
            for k in keys for t in range(n)]


def _merged(base: list, changes: list) -> list:
    """Expected rows of a merge with Spark's left_anti NULL semantics:
    a change row's key removes that key's base rows, a NULL key removes
    nothing, and every upsert row is inserted."""
    gone = {c[0] for c in changes if c[0] is not None}
    return ([r for r in base if r[0] is None or r[0] not in gone]
            + [c[:-1] for c in changes if c[-1] == "upsert"])


def _same(got, want) -> bool:
    return sorted(map(tuple, got), key=repr) == sorted(want, key=repr)


def test_merged_bucket_files_keep_the_layout_schema_and_nulls(spark,
                                                              tmp_path):
    """Files the merge writes with pyarrow read back with the layout's
    schema (TIMESTAMP, not TIMESTAMP_NTZ) beside Spark-written INT96
    files; NULL keys keep left_anti semantics; a second merge,
    rebucket_table and encode_table_prebucketed read the mixed layout,
    timestamps outside INT96's nanosecond range included, in rewritten
    and in untouched bucket files alike."""
    from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                           decode_table,
                                           encode_table_prebucketed,
                                           merge_bucketized, rebucket_table)
    from supersonic_spark.store.layout import _bucket_layout, bucket_files
    n = 4
    bucket_of = {r["k"]: r["b"] for r in spark.range(40).select(
        F.col("id").alias("k"), F.pmod(F.hash("id"), F.lit(n)).alias("b"))
        .collect()}
    null_bucket = spark.range(1).select(F.pmod(F.hash(F.lit(None).cast(
        "long")), F.lit(n))).first()[0]
    # the first merge touches bucket 0 and the NULL-key bucket only
    first = [k for k in range(40)
             if bucket_of[k] in (0, null_bucket)][:3]
    free = sorted(set(range(n)) - {0, null_bucket})
    later = [k for k in range(40) if bucket_of[k] == free[0]][:2]
    assert len(first) == 3 and len(later) == 2
    # conversations the merges leave alone, one in a bucket they rewrite
    # and one in a bucket no merge touches (it stays Spark-written
    # INT96), at both ends of TIMESTAMP's range (outside INT96's
    # nanosecond one)
    kept = next(k for k in range(40) if bucket_of[k] == 0
                and k not in first)
    untouched = next(k for k in range(40) if bucket_of[k] == free[1])
    base = [r[:4] + ((_TS_MIN, _TS_MAX)[r[1]],)
            if r[0] in (kept, untouched) else r
            for r in _fidelity_rows("b", list(range(40)) + [None])]
    bdir = str(tmp_path / "b")
    bucketize_table(spark, spark.createDataFrame(base, _FIDELITY_SCHEMA),
                    bdir, n_buckets=n, conv_key="k")
    before = bucket_files(bdir)
    _, schema = _bucket_layout(spark, bdir)

    ops = _FIDELITY_SCHEMA + ", _op string"
    ch1 = ([r + ("upsert",) for r in _fidelity_rows("u", first[:2], 3)]
           + [(first[2], None, None, None, None, "delete"),
              (None, 0, None, None, None, "delete"),
              (None, 9, "null-key insert", None, _TS, "upsert")])
    assert merge_bucketized(spark, spark.createDataFrame(ch1, ops),
                            bdir) == sorted({0, null_bucket})
    want = _merged(base, ch1)
    after = bucket_files(bdir)
    rewritten = {b for b in after if after[b] != before[b]}
    assert rewritten == {0, null_bucket} != set(range(n))
    assert spark.read.parquet(bdir).schema == schema
    assert spark.read.parquet(after[0]).schema == schema
    assert _same(spark.read.parquet(bdir).collect(), want)

    ch2 = ([r + ("upsert",)
            for r in _fidelity_rows("w", later[:1] + first[:1])]
           + [(later[1], None, None, None, None, "delete")])
    merge_bucketized(spark, spark.createDataFrame(ch2, ops), bdir)
    want = _merged(want, ch2)
    assert _same(spark.read.parquet(bdir).collect(), want)

    assert bucket_files(bdir)[free[1]] == before[free[1]]

    rdir = rebucket_table(spark, bdir, str(tmp_path / "r"), factor=2)
    assert _same(spark.read.parquet(rdir).collect(), want)
    out = str(tmp_path / "enc")
    encode_table_prebucketed(spark, bdir, out, EncodeConfig(
        chunk_rows=16, conv_key="k", order_key="n", sort_keys=("k", "n")))
    got = decode_table(spark, out).select(*schema.names).collect()
    assert _same(got, want)
    assert sorted(r["ts"] for r in got if r["k"] == untouched) \
        == [_TS_MIN, _TS_MAX]


def test_a_failed_merge_changes_no_bucket_file(spark, tmp_path,
                                               monkeypatch):
    """A rewrite task that raises after writing one bucket's new file
    leaves every bucket file byte-identical and no temp file behind."""
    import supersonic_spark.store.maintain as maintain
    from supersonic_spark.pipeline import merge_bucketized
    from supersonic_spark.store.layout import bucket_files, parquet_files
    bdir, rows, bucket_of = _layout(spark, tmp_path)
    convs = list({b: c for c, b in bucket_of.items()}.values())[:3]
    before = _file_bytes(bdir)
    real, calls = maintain.bucket_tmp, []

    def failing_tmp(bucket_dir, b, *args):
        calls.append(b)
        if len(calls) == 2:
            raise OSError("no space left on device")
        return real(bucket_dir, b, *args)

    monkeypatch.setattr(maintain, "bucket_tmp", failing_tmp)
    changes = spark.createDataFrame(
        [(c, 0, "new", "upsert") for c in convs], _MERGE_SCHEMA).coalesce(1)
    with pytest.raises(Exception, match="no space left"):
        merge_bucketized(spark, changes, bdir)
    assert _file_bytes(bdir) == before
    assert sorted(bucket_files(bdir).values()) == parquet_files(bdir)
    assert len(parquet_files(bdir)) == 8
    assert sorted(tuple(r) for r in spark.read.parquet(bdir).collect()) \
        == sorted(rows)


def test_merge_rejects_a_null_op(spark, tmp_path):
    """A NULL op is an unknown op: the merge raises and rewrites no
    bucket file."""
    from supersonic_spark.pipeline import merge_bucketized
    bdir, _rows, _b = _layout(spark, tmp_path)
    before = _file_bytes(bdir)
    changes = spark.createDataFrame([(1, 0, "new", "upsert"),
                                     (2, 0, "new", None)], _MERGE_SCHEMA)
    with pytest.raises(ValueError, match="unknown merge op"):
        merge_bucketized(spark, changes, bdir)
    assert _file_bytes(bdir) == before


def test_rebucket_joins_a_bucket_written_in_pieces(spark, tmp_path):
    """A new bucket that arrives in several files (here: at most two
    records per file) is joined into one file Spark reads back with the
    schema _buckets.json records, timestamps included."""
    from supersonic_spark.pipeline import bucketize_table, rebucket_table
    from supersonic_spark.store.layout import _bucket_layout, bucket_files
    rows = _fidelity_rows("r", range(12), n=3)
    bdir, rdir = str(tmp_path / "b"), str(tmp_path / "r")
    bucketize_table(spark, spark.createDataFrame(rows, _FIDELITY_SCHEMA),
                    bdir, n_buckets=2, conv_key="k")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try:
        rebucket_table(spark, bdir, rdir, factor=2)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert sorted(bucket_files(rdir)) == [0, 1, 2, 3]
    _, schema = _bucket_layout(spark, rdir)
    back = spark.read.parquet(rdir)
    assert back.schema == schema
    assert _same(back.collect(), rows)
