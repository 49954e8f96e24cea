"""End-to-end distributed pipeline tests: encode -> decode bit-identity under
stable (conv_id, turn_idx) ordering, checkpoint/resume, skew salting,
manifest/lineage integrity. Uses one shared local Spark session."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from supersonic_spark.datagen import (generate_conv_batch,
                                      generate_transcripts,
                                      generate_transcripts_local)
from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                       encode_table,
                                       roundtrip_mismatch_count,
                                       salted_repartition)

import pyspark.sql.functions as F


@pytest.fixture(scope="module")
def small_df(spark):
    return generate_transcripts(spark, n_convs=400, seed=42,
                                mega_every=100, mega_len=3000).cache()


def test_datagen_deterministic_and_partition_independent():
    a = generate_transcripts_local(300, seed=42, mega_every=100, mega_len=500)
    b1 = generate_conv_batch(np.arange(0, 120), 42, 100, 500)
    b2 = generate_conv_batch(np.arange(120, 300), 42, 100, 500)
    assert pa.concat_tables([b1, b2]).equals(a)


def test_datagen_schema_and_invariants():
    t = generate_transcripts_local(200, seed=1, mega_every=0, mega_len=0)
    df = t.to_pandas()
    g = df.groupby("conv_id")
    assert (g["ts"].apply(lambda s: s.is_monotonic_increasing)).all()
    assert g["turn_idx"].apply(
        lambda s: (s.values == np.arange(len(s))).all()).all()
    assert set(df["role"].unique()) <= {"system", "user", "assistant", "tool"}
    assert (df.loc[df["role"] != "tool", "tool"].isna()).all()


def test_encode_decode_bit_identity(spark, small_df, tmp_path):
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(n_partitions=8, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man = encode_table(spark, small_df, out, cfg, fingerprint="t1")
    assert man.count() > 0
    dec = decode_table(spark, out)
    assert dec.count() == small_df.count()
    # bit-identity for every column, not just text
    assert roundtrip_mismatch_count(small_df, dec) == 0


def test_roundtrip_mismatch_count_compares_every_column(spark):
    """A row that differs only in ts, or only in tool (a value against
    NULL), counts as a mismatch; a named subset compares only its
    columns."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [("c0", 0, "user", "hi", None, t0),
            ("c0", 1, "tool", "ok", "grep", t0 + dt.timedelta(seconds=1)),
            ("c1", 0, "user", "yo", None, t0)]
    schema = "conv_id string, turn_idx int, role string, text string, " \
             "tool string, ts timestamp"
    src = spark.createDataFrame(rows, schema)
    ts_off = spark.createDataFrame(
        rows[:2] + [rows[2][:5] + (t0 + dt.timedelta(microseconds=1),)],
        schema)
    tool_off = spark.createDataFrame(
        [rows[0][:4] + ("",) + rows[0][5:]] + rows[1:], schema)
    assert roundtrip_mismatch_count(src, src) == 0
    assert roundtrip_mismatch_count(src, ts_off) == 1
    assert roundtrip_mismatch_count(src, tool_off) == 1
    assert roundtrip_mismatch_count(src, ts_off, columns=("text",)) == 0


def test_manifest_lineage(spark, small_df, tmp_path):
    out = str(tmp_path / "enc2")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man = encode_table(spark, small_df, out, cfg, fingerprint="t2")
    rows = man.collect()
    cols = {r.column for r in rows}
    assert cols == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    assert all(r.bytes_out > 0 and r.n_rows > 0 for r in rows)
    total_in = sum(r.bytes_in for r in rows)
    total_out = sum(r.bytes_out for r in rows)
    assert total_out < total_in, "compressed must beat reference layout"
    # lineage: every partition has one manifest fragment, and the
    # fragments holding rows are those of the non-empty partitions
    mdir = os.path.join(out, "manifest")
    frags = sorted(os.listdir(mdir))
    assert [int(f[5:10]) for f in frags] == list(range(cfg.n_partitions))
    assert {int(f[5:10]) for f in frags
            if pq.read_metadata(os.path.join(mdir, f)).num_rows} == {
        r.partition_id for r in rows}
    assert not os.path.exists(os.path.join(out, "checkpoints"))


def test_checkpoint_resume(spark, small_df, tmp_path):
    out = str(tmp_path / "enc3")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man1 = encode_table(spark, small_df, out, cfg, fingerprint="t3")
    blocks_before = sorted(os.listdir(os.path.join(out, "blocks")))
    mtimes = {p: os.path.getmtime(os.path.join(out, "blocks", p))
              for p in blocks_before}
    man2 = encode_table(spark, small_df, out, cfg, fingerprint="t3")
    assert man2.filter(~F.col("resumed")).count() == 0
    blocks_after = sorted(os.listdir(os.path.join(out, "blocks")))
    assert blocks_before == blocks_after
    for p in blocks_after:  # no re-encode happened
        assert os.path.getmtime(os.path.join(out, "blocks", p)) == mtimes[p]
    # changed config hash -> full re-encode
    man3 = encode_table(spark, small_df, out, cfg, fingerprint="t3-changed")
    assert man3.filter(F.col("resumed")).count() == 0
    dec = decode_table(spark, out)
    assert roundtrip_mismatch_count(small_df, dec) == 0


def test_partial_resume_after_simulated_kill(spark, small_df, tmp_path):
    """Delete some manifest fragments (simulating a killed job) -> only
    those partitions re-encode; result still bit-identical."""
    out = str(tmp_path / "enc4")
    cfg = EncodeConfig(n_partitions=6, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    encode_table(spark, small_df, out, cfg, fingerprint="t4")
    frags = sorted(os.listdir(os.path.join(out, "manifest")))
    for victim in frags[:2]:
        os.remove(os.path.join(out, "manifest", victim))
    man = encode_table(spark, small_df, out, cfg, fingerprint="t4")
    fresh = man.filter(~F.col("resumed")).select("partition_id").distinct().count()
    resumed = man.filter(F.col("resumed")).select("partition_id").distinct().count()
    assert fresh == 2 and resumed == 4
    dec = decode_table(spark, out)
    assert roundtrip_mismatch_count(small_df, dec) == 0


def test_skew_salting_splits_mega_conversation(spark, small_df):
    cfg = EncodeConfig(n_partitions=8, salt_threshold=1000, salt_block=512)
    arranged = salted_repartition(small_df, cfg)
    with_pid = arranged.withColumn("pid", F.spark_partition_id())
    mega = (with_pid.groupBy("conv_id")
            .agg(F.count("*").alias("n"), F.countDistinct("pid").alias("nparts"))
            .filter(F.col("n") > cfg.salt_threshold).collect())
    assert len(mega) >= 1
    for r in mega:
        assert r.nparts > 1, f"mega conv {r['conv_id']} not split across partitions"


def test_empty_input(spark, tmp_path):
    out = str(tmp_path / "enc5")
    empty = generate_transcripts(spark, n_convs=0)
    cfg = EncodeConfig(n_partitions=2)
    man = encode_table(spark, empty, out, cfg, fingerprint="t5")
    assert man.count() == 0
    dec = decode_table(spark, out)
    assert dec.count() == 0


def test_validate_blocks_detects_corruption(spark, small_df, tmp_path):
    from supersonic_spark.pipeline import validate_blocks
    out = str(tmp_path / "enc6")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    encode_table(spark, small_df, out, cfg, fingerprint="t6")
    audit = validate_blocks(spark, out)
    assert audit.filter(~F.col("ok")).count() == 0
    # flip one byte mid-file -> that chunk (and likely the rest of the
    # file's frame walk) must be flagged
    blk = sorted(os.listdir(os.path.join(out, "blocks")))[0]
    p = os.path.join(out, "blocks", blk)
    data = bytearray(open(p, "rb").read())
    data[len(data) // 2] ^= 0xFF
    open(p, "wb").write(bytes(data))
    bad = validate_blocks(spark, out).filter(~F.col("ok")).count()
    assert bad >= 1


def test_truncated_block_file_fails_audit_and_decode(spark, tmp_path):
    """A block file cut inside a block header or inside a column payload
    is reported by validate_blocks (ok = false, not a failed job) and
    makes decode_table raise instead of returning rows."""
    from supersonic_spark.codecs import iter_block_spans
    from supersonic_spark.codecs.framing import _block_frames
    from supersonic_spark.pipeline import validate_blocks
    df = generate_transcripts(spark, n_convs=60, seed=5, mega_every=0)
    out = str(tmp_path / "enc")
    encode_table(spark, df, out, EncodeConfig(n_partitions=2,
                                              chunk_rows=256))
    blk = os.path.join(out, "blocks",
                       sorted(os.listdir(os.path.join(out, "blocks")))[0])
    whole = open(blk, "rb").read()
    spans = list(iter_block_spans(whole))
    last_off = spans[-1][0]
    frames, _ = _block_frames(whole, last_off)
    _name, foff, flen = frames[-1]
    for cut in (last_off + 16, foff + flen // 2):   # header, payload
        with open(blk, "wb") as f:
            f.write(whole[:cut])
        audit = {(r["partition_id"], r["chunk_id"]): r["ok"]
                 for r in validate_blocks(spark, out).collect()}
        pid = int(os.path.basename(blk)[5:10])
        assert audit[(pid, len(spans) - 1)] is False
        assert sum(not ok for ok in audit.values()) == 1
        with pytest.raises(Exception, match="truncated block"):
            decode_table(spark, out).collect()


def test_manifest_summary(spark, small_df, tmp_path):
    from supersonic_spark.pipeline import manifest_summary
    out = str(tmp_path / "enc7")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man = encode_table(spark, small_df, out, cfg, fingerprint="t7")
    s = manifest_summary(man)
    rows = s.collect()
    assert {r.column for r in rows} >= {"text", "conv_id", "ts"}
    assert all(r.ratio is not None and r.bytes_out > 0 for r in rows)
    text_rows = [r for r in rows if r.column == "text"]
    assert all(r.ratio < 1.0 for r in text_rows)
