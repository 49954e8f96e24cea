"""Driver-planned encode: resumed bucket files are never scheduled, the
rest are packed into task slots, every encode ends in the shared
manifest-fragment tail, and task lists come from one builder."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _group_tasks(spark, group: str) -> int:
    """Tasks of every Spark job run under job group `group`."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(group):
        for stage in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(stage)
            n += info.numTasks if info else 0
    return n


def _bucketed(spark, tmp_path, n_convs=120, seed=7, n_buckets=6):
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import bucketize_table
    src = generate_transcripts(spark, n_convs=n_convs, seed=seed)
    bdir = bucketize_table(spark, src, str(tmp_path / "buckets"),
                           n_buckets=n_buckets)
    return src, bdir


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_fully_resumed_prebucketed_runs_no_tasks(spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig,
                                           encode_table_prebucketed)
    _src, bdir = _bucketed(spark, tmp_path)
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(chunk_rows=512)
    sc = spark.sparkContext
    sc.setJobGroup("plan-first", "first encode")
    encode_table_prebucketed(spark, bdir, out, cfg)
    sc.setJobGroup("plan-resume", "fully resumed encode")
    man = encode_table_prebucketed(spark, bdir, out, cfg)
    sc.setJobGroup("plan-check", "checks")
    # 6 files packed into at most one task per slot
    assert 0 < _group_tasks(spark, "plan-first") <= sc.defaultParallelism
    assert _group_tasks(spark, "plan-resume") == 0
    rows = man.select("resumed").collect()
    assert rows and all(r["resumed"] for r in rows)


def test_killed_group_reencodes_only_the_unfinished_file(spark, tmp_path):
    """A task killed partway through its packed group leaves its later
    files without fragment and block: only those re-encode, to the same
    bytes, and every other block is untouched."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table_prebucketed)
    src, bdir = _bucketed(spark, tmp_path)
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(chunk_rows=512)
    encode_table_prebucketed(spark, bdir, out, cfg)
    blk, mdir = os.path.join(out, "blocks"), os.path.join(out, "manifest")
    before = {}
    for name in sorted(os.listdir(blk)):
        with open(os.path.join(blk, name), "rb") as f:
            before[name] = f.read()
    os.remove(os.path.join(blk, "part-00003.ssb"))
    for m in os.listdir(mdir):
        if m.startswith("part-00003."):
            os.remove(os.path.join(mdir, m))

    man = encode_table_prebucketed(spark, bdir, out, cfg)
    fresh = {r["partition_id"] for r in
             man.filter(~F.col("resumed")).select("partition_id")
             .distinct().collect()}
    assert fresh == {3}
    for name, data in before.items():
        with open(os.path.join(blk, name), "rb") as f:
            assert f.read() == data, name
    assert _same_rows(decode_table(spark, out), src)


def test_manifest_after_merge_holds_only_current_fragments(spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table_prebucketed,
                                           merge_bucketized)
    src, bdir = _bucketed(spark, tmp_path, seed=9)
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(chunk_rows=256)
    encode_table_prebucketed(spark, bdir, out, cfg)
    keys = [r["conv_id"] for r in
            src.select("conv_id").distinct().orderBy("conv_id").limit(3)
            .collect()]
    upserts = (src.filter(F.col("conv_id").isin(keys[:2]))
               .withColumn("text", F.concat("text", F.lit(" [edited]"))))
    changes = (upserts.withColumn("_op", F.lit("upsert"))
               .unionByName(src.filter(F.col("conv_id") == keys[2])
                            .withColumn("_op", F.lit("delete"))))
    touched = merge_bucketized(spark, changes, bdir)
    man = encode_table_prebucketed(spark, bdir, out, cfg)
    assert (man.filter(~F.col("resumed")).select("partition_id").distinct()
            .count()) == len(touched)

    mdir = os.path.join(out, "manifest")
    pids = sorted(int(n[5:10]) for n in os.listdir(mdir))
    assert pids == list(range(6))          # one fragment per bucket file
    on_disk = spark.read.parquet(mdir)
    n = on_disk.count()
    assert n == (on_disk.select("partition_id", "chunk_id", "column")
                 .distinct().count())
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    assert meta["manifest_rows"] == n
    assert meta["manifest_columns"] == len(src.columns)
    expected = (src.filter(~F.col("conv_id").isin(keys)).unionByName(upserts))
    assert _same_rows(decode_table(spark, out), expected)


def _write_markers(out: str) -> list[str]:
    """Give an encoded table the resume markers older encoders wrote:
    each fragment's rows as JSON, checkpoints/part-NNNNN.<fp>.json.
    Returns the marker names."""
    from supersonic_spark.store.layout import checkpoints_dir, manifest_dir
    os.makedirs(checkpoints_dir(out))
    names = []
    for frag in sorted(os.listdir(manifest_dir(out))):
        names.append(frag.rsplit(".", 1)[0] + ".json")
        rows = pq.read_table(os.path.join(manifest_dir(out), frag)).to_pylist()
        with open(os.path.join(checkpoints_dir(out), names[-1]), "w") as f:
            json.dump(rows, f)
    return names


def test_markers_without_fragments_rebuild_the_manifest(spark, tmp_path):
    """A table whose manifest an older encoder wrote as one Spark job
    (markers, no fragments) still resumes: the marker rows become the
    fragments and the old manifest files go."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table_prebucketed)
    src, bdir = _bucketed(spark, tmp_path)
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(chunk_rows=512)
    encode_table_prebucketed(spark, bdir, out, cfg)
    assert len(_write_markers(out)) == 6
    mdir = os.path.join(out, "manifest")
    cols = ["partition_id", "chunk_id", "column", "crc32", "bytes_out"]
    want = sorted(tuple(r) for r in
                  spark.read.parquet(mdir).select(*cols).collect())
    legacy = str(tmp_path / "legacy")
    spark.read.parquet(mdir).coalesce(1).write.parquet(legacy)
    for name in os.listdir(mdir):
        os.remove(os.path.join(mdir, name))
    for name in os.listdir(legacy):
        os.replace(os.path.join(legacy, name), os.path.join(mdir, name))

    man = encode_table_prebucketed(spark, bdir, out, cfg)
    assert man.filter(~F.col("resumed")).count() == 0
    assert sorted(tuple(r) for r in man.select(*cols).collect()) == want
    assert all(n.endswith(".parquet") and not n.startswith("part-00000-")
               for n in os.listdir(mdir))
    assert not os.path.exists(os.path.join(out, "checkpoints"))
    assert _same_rows(decode_table(spark, out), src)


def test_table_with_fragments_and_markers_resumes_and_drops_markers(
        spark, tmp_path):
    """A table written when every partition had a fragment and a resume
    marker resumes every partition from its fragment, keeps its block
    bytes, and loses its checkpoints/ at the install."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table_prebucketed)
    src, bdir = _bucketed(spark, tmp_path)
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(chunk_rows=512)
    encode_table_prebucketed(spark, bdir, out, cfg)
    assert len(_write_markers(out)) == 6
    blk = os.path.join(out, "blocks")
    before = {}
    for name in sorted(os.listdir(blk)):
        with open(os.path.join(blk, name), "rb") as f:
            before[name] = f.read()

    sc = spark.sparkContext
    sc.setJobGroup("legacy-resume", "resume a table with markers")
    man = encode_table_prebucketed(spark, bdir, out, cfg)
    sc.setJobGroup("legacy-check", "checks")
    assert _group_tasks(spark, "legacy-resume") == 0
    assert man.count() > 0 and man.filter(~F.col("resumed")).count() == 0
    assert not os.path.exists(os.path.join(out, "checkpoints"))
    assert sorted(os.listdir(blk)) == sorted(before)
    for name, data in before.items():
        with open(os.path.join(blk, name), "rb") as f:
            assert f.read() == data, name
    assert _same_rows(decode_table(spark, out), src)


def test_fragment_rows_must_divide_by_columns(spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig,
                                           encode_table_prebucketed)
    _src, bdir = _bucketed(spark, tmp_path)
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(chunk_rows=512)
    encode_table_prebucketed(spark, bdir, out, cfg)
    mdir = os.path.join(out, "manifest")
    frag = os.path.join(mdir, sorted(os.listdir(mdir))[0])
    tbl = pq.read_table(frag)
    pq.write_table(tbl.slice(0, tbl.num_rows - 1), frag)
    with pytest.raises(RuntimeError, match="not a multiple"):
        encode_table_prebucketed(spark, bdir, out, cfg)


def test_bucket_layout_records_the_read_schema(spark, tmp_path):
    from pyspark.sql.types import StructType
    from supersonic_spark.pipeline import rebucket_table
    from supersonic_spark.store.layout import _bucket_layout
    _src, bdir = _bucketed(spark, tmp_path)
    with open(os.path.join(bdir, "_buckets.json")) as f:
        recorded = StructType.fromJson(json.load(f)["spark_schema"])
    assert recorded == spark.read.parquet(bdir).schema
    rdir = rebucket_table(spark, bdir, str(tmp_path / "rebucketed"))
    assert _bucket_layout(spark, rdir)[1] == spark.read.parquet(rdir).schema
    # layouts written before the schema was recorded fall back to inference
    with open(os.path.join(bdir, "_buckets.json"), "w") as f:
        json.dump({"n_buckets": 6, "conv_key": "conv_id"}, f)
    assert _bucket_layout(spark, bdir)[1] == recorded


def test_pack_by_bytes_balances_into_slots():
    from supersonic_spark.store.encode import _pack_by_bytes
    items = list("abcdefg")
    sizes = [70, 10, 40, 30, 20, 50, 60]
    groups = _pack_by_bytes(items, sizes, 3)
    assert len(groups) == 3
    assert sorted(x for g in groups for x in g) == items
    loads = [sum(sizes[items.index(x)] for x in g) for g in groups]
    assert max(loads) - min(loads) <= 10
    assert all(g == sorted(g) for g in groups)       # input order kept
    assert _pack_by_bytes(items[:2], sizes[:2], 8) == [["a"], ["b"]]
    assert _pack_by_bytes([], [], 4) == []


def test_point_lookup_schedules_only_surviving_files(spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    from supersonic_spark.datagen import generate_transcripts
    src = generate_transcripts(spark, n_convs=200, seed=3)
    out = str(tmp_path / "enc")
    encode_table(spark, src, out, EncodeConfig(n_partitions=4,
                                               chunk_rows=1 << 16))
    key = src.select("conv_id").orderBy("conv_id").first()["conv_id"]
    dec = decode_table(spark, out, predicate=("conv_id", key, key))
    assert dec.rdd.getNumPartitions() == 1
    assert _same_rows(dec, src.filter(F.col("conv_id") == key))


def test_shuffle_encode_honours_sort_keys(spark, tmp_path):
    """The shuffle plan sorts each partition by EncodeConfig.sort_keys,
    not by (conv_key, order_key): with a leading non-key sort column the
    zone maps on it rise chunk by chunk inside every partition."""
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    rows = [(f"u{i % 37}", i // 37, i, (i * 7919) % 5003)
            for i in range(3000)]
    df = spark.createDataFrame(
        rows, "user_id string, turn_idx int, event_id long, t long")
    out = str(tmp_path / "enc")
    man = encode_table(spark, df, out, EncodeConfig(
        n_partitions=3, chunk_rows=100, conv_key="user_id",
        sort_keys=("t", "event_id")))
    zones: dict[int, list] = {}
    for r in (man.filter(F.col("column") == "t")
              .select("partition_id", "chunk_id", "vmin_num", "vmax_num")
              .collect()):
        zones.setdefault(r["partition_id"], []).append(
            (r["chunk_id"], r["vmin_num"], r["vmax_num"]))
    assert sum(len(z) for z in zones.values()) > 3 * len(zones)
    for z in zones.values():
        z.sort()
        assert all(lo <= hi for _c, lo, hi in z)
        assert all(a[2] <= b[1] for a, b in zip(z, z[1:])), z


def test_default_config_hash_is_pinned():
    """Deleting knobs must not move the hash that keys resume markers:
    tables encoded before stay resumable."""
    from supersonic_spark.pipeline import EncodeConfig
    assert EncodeConfig().config_hash("fp") == "9b570d3af25a"


@pytest.mark.parametrize("kwargs, plain, bench", [
    ({}, "28e1b78aae93", "d17da40990d4"),
    ({"n_partitions": 4}, "bbe9afe7239d", "004fedf6a6da"),
    ({"n_partitions": 4, "chunk_rows": 8192, "bloom_cols": ("conv_id",)},
     "d92ccf3fdf00", "5d30dd9305da"),
])
def test_config_hash_keeps_the_values_of_tables_written_before(kwargs, plain,
                                                               bench):
    """codec_overrides and entropy left EncodeConfig as the literals
    config_hash pins, so fragment names (and resume) stay valid."""
    from supersonic_spark.pipeline import EncodeConfig
    cfg = EncodeConfig(**kwargs)
    assert (cfg.config_hash(""), cfg.config_hash("bench-0.1")) \
        == (plain, bench)
