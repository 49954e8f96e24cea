"""The store package: pipeline.py re-exports it, store/layout.py alone
spells on-disk names, and every encode or compaction leaves only its
live files (so decode returns exactly the rows last written), with one
bucket-id rule for bucket layouts."""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys

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
    if os.path.isdir(checkpoints_dir(out)):
        assert ({m.rsplit(".", 1)[0] for m in os.listdir(checkpoints_dir(out))}
                <= {f.rsplit(".", 1)[0] for f in frags})


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


def test_manifest_chunks_without_stamp_reads_footers(spark, tmp_path):
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    from supersonic_spark.store.layout import manifest_chunks, read_meta
    out = str(tmp_path / "t")
    man = encode_table(spark, spark.createDataFrame(_rows("a", 1000),
                                                    _SCHEMA),
                       out, EncodeConfig(n_partitions=4, **_CFG))
    meta = read_meta(out)
    n_chunks = man.select("partition_id", "chunk_id").distinct().count()
    assert manifest_chunks(out, meta) == n_chunks
    unstamped = {k: v for k, v in meta.items()
                 if k not in ("manifest_rows", "manifest_columns")}
    assert manifest_chunks(out, unstamped) == n_chunks


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
