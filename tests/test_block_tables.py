"""One manifest writer and one block reader: compaction writes its
manifest fragments in its tasks and stamps true counts, its merged
schema admits the NULLs of evolved columns, and decode_stream decodes
through decode_table's kernel."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

_CFG = dict(n_partitions=2, chunk_rows=128, conv_key="cid", order_key="i",
            sort_keys=("cid", "i"))


def _epochs(spark, base, n=2, added=None):
    """n encoded tables of (cid, i, text); the last one carries `added`
    (a Column) as an extra column `score`."""
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    dirs = []
    for e in range(n):
        rows = [(f"c{i % 7}", i, f"t{i}") for i in range(300 * e, 300 * e + 300)]
        df = spark.createDataFrame(rows, "cid string, i int, text string")
        if added is not None and e == n - 1:
            df = df.withColumn("score", added)
        d = os.path.join(base, f"epoch={e}")
        encode_table(spark, df, d, EncodeConfig(**_CFG),
                     fingerprint=f"ep{e}")
        dirs.append(d)
    return dirs


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_compacted_meta_counts_match_merged_manifest(spark, tmp_path):
    from supersonic_spark.pipeline import compact_blocks
    srcs = _epochs(spark, str(tmp_path), added=F.col("i") % 5)
    out = str(tmp_path / "merged")
    man = compact_blocks(spark, srcs, out, group_size=3)
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    src_rows = sum(pq.read_table(os.path.join(d, "manifest")).num_rows
                   for d in srcs)
    assert meta["manifest_rows"] == man.count() == src_rows
    assert meta["manifest_columns"] == 4 == len(meta["spark_schema"]["fields"])
    # one fragment per output file, renumbered to it
    frags = sorted(os.listdir(os.path.join(out, "manifest")))
    assert [f[:10] for f in frags] == [f"part-{g:05d}"
                                       for g in range(meta["n_partitions"])]
    for g, name in enumerate(frags):
        pids = pq.read_table(os.path.join(out, "manifest", name)
                             ).column("partition_id").to_pylist()
        assert set(pids) == {g}


def test_compaction_keeps_added_column_nullable(spark, tmp_path):
    """A later source adds a non-nullable column; blocks of the earlier
    source decode it as NULL, so the merged schema marks it nullable."""
    from supersonic_spark.pipeline import compact_blocks, decode_table
    srcs = _epochs(spark, str(tmp_path), added=F.lit(7))
    out = str(tmp_path / "merged")
    compact_blocks(spark, srcs, out, group_size=3)
    dec = decode_table(spark, out)
    assert dec.schema["score"].nullable
    got = {r["i"]: r["score"] for r in dec.collect()}
    assert got == {i: (7 if i >= 300 else None) for i in range(600)}


def test_compaction_runs_one_spark_job(spark, tmp_path):
    from supersonic_spark.pipeline import compact_blocks, decode_table
    srcs = _epochs(spark, str(tmp_path), n=3)
    sc = spark.sparkContext
    for k in (2, 3):
        sc.setJobGroup(f"compact-{k}", f"compact {k} sources")
        compact_blocks(spark, srcs[:k], str(tmp_path / f"m{k}"),
                       group_size=2)
        sc.setJobGroup(f"check-{k}", "checks")
        assert _jobs(spark, f"compact-{k}") == 1
        assert decode_table(spark, str(tmp_path / f"m{k}")).count() == 300 * k


def test_decode_stream_reads_an_epoch_that_adds_a_column(spark, tmp_path):
    """Epoch 1 adds a column. Under epoch 1's schema the epoch-0 blocks
    yield it as NULLs; under epoch 0's (the default) it is dropped."""
    from supersonic_spark.streaming import decode_stream
    base = str(tmp_path / "enc")
    srcs = _epochs(spark, base, added=F.col("i") % 5)
    with open(os.path.join(srcs[1], "meta.json")) as f:
        from pyspark.sql.types import StructType
        wide = StructType.fromJson(json.load(f)["spark_schema"])

    def drain(name, schema=None):
        q = (decode_stream(spark, base, schema=schema).writeStream
             .format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {name}")

    got = drain("epoch_wide", wide)
    assert got.columns == ["cid", "i", "text", "score"]
    assert {r["i"]: r["score"] for r in got.collect()} == {
        i: (i % 5 if i >= 300 else None) for i in range(600)}
    narrow = drain("epoch_narrow")
    assert narrow.columns == ["cid", "i", "text"]
    assert sorted(r["i"] for r in narrow.collect()) == list(range(600))
