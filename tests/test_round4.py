"""Round-4 additions: offset-map broadcast threshold + Spark-side group
keys, datetime zone-map predicates, predicate-column hygiene, safe
pairwise ANN default, Lloyd-refined IVF centroids, PIL decode branch,
Iceberg seam composition."""

from __future__ import annotations

import base64
import datetime as dt
from types import SimpleNamespace

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# --- offset map: broadcast branch + Spark-side key rendering ---------------

def _expected_prefix(df, group, order, value_col):
    w = (Window.partitionBy(group).orderBy(order)
         .rowsBetween(Window.unboundedPreceding, -1))
    return df.withColumn("_want", F.coalesce(F.sum(value_col).over(w),
                                             F.lit(0)))


def test_offset_map_broadcast_branch(spark, monkeypatch):
    """Above _OFFSET_MAP_MAX_ENTRIES the offsets ship as a broadcast-join
    table, not a create_map plan literal — same results either way."""
    from supersonic_spark.operators import core
    rows = [(f"g{i % 7}", i, i % 13) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, ord int, v int")
    want = {(r["g"], r["ord"]): r["_want"] for r in
            _expected_prefix(df, "g", "ord", "v").collect()}

    monkeypatch.setattr(core, "_OFFSET_MAP_MAX_ENTRIES", 0)
    out = core.with_prefix_sum(df, ["ord"], "v", group_cols=["g"],
                               n_partitions=4)
    got = {(r["g"], r["ord"]): r["_prefix_sum"] for r in out.collect()}
    assert got == want

    rid = core.with_rowid(df, ["g", "ord"], n_partitions=4)
    ids = [r["_rowid"] for r in rid.orderBy("g", "ord").collect()]
    assert ids == list(range(600))


def test_prefix_sum_double_group_key(spark):
    """Double-typed group columns: Spark renders 1.0E7, Python str gives
    10000000.0 — keys are now computed Spark-side on both legs, so large
    doubles group correctly instead of yielding NULL prefix sums."""
    from supersonic_spark.operators.core import with_prefix_sum
    rows = [(1.0e7, i, 2) for i in range(50)] + \
           [(2.5e-8, i, 3) for i in range(50)]
    df = spark.createDataFrame(rows, "g double, ord int, v int")
    out = with_prefix_sum(df, ["ord"], "v", group_cols=["g"],
                          n_partitions=3).collect()
    assert all(r["_prefix_sum"] is not None for r in out)
    got = {(r["g"], r["ord"]): r["_prefix_sum"] for r in out}
    for i in range(50):
        assert got[(1.0e7, i)] == 2 * i
        assert got[(2.5e-8, i)] == 3 * i


# --- decode_table predicates ------------------------------------------------

def test_decode_table_datetime_predicate(spark, tmp_path):
    """Timestamp bounds prune via the ns-normalized zone maps; before the
    fix a raw timestamp literal compared in epoch seconds and silently
    pruned EVERY chunk (missing rows, no error)."""
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    df = generate_transcripts(spark, n_convs=40, seed=11)
    out = str(tmp_path / "enc_ts")
    encode_table(spark, df, out, EncodeConfig(n_partitions=3, chunk_rows=128),
                 fingerprint="tspred")
    lo_hi = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    span = lo_hi["hi"] - lo_hi["lo"]
    lo = lo_hi["lo"] + span / 4
    hi = lo_hi["lo"] + span / 2
    dec = decode_table(spark, out, columns=["conv_id", "turn_idx", "ts"],
                       predicate=("ts", lo, hi))
    want = sorted((r["conv_id"], r["turn_idx"]) for r in
                  df.filter(F.col("ts").between(lo, hi))
                  .select("conv_id", "turn_idx").collect())
    got = sorted((r["conv_id"], r["turn_idx"]) for r in dec.collect())
    assert got == want and len(got) > 0


def test_decode_table_predicate_type_validation(spark, tmp_path):
    from supersonic_spark.store.read import _normalize_predicates
    with pytest.raises(TypeError):
        _normalize_predicates(("turn_idx", [1, 2], 5))
    with pytest.raises(TypeError):
        _normalize_predicates([("conv_id", "a", 5)])   # mixed str/int
    # datetime/date bounds are legal
    preds = _normalize_predicates(("ts", dt.datetime(1995, 1, 1),
                                   dt.datetime(1996, 1, 1)))
    assert len(preds) == 1


def test_bound_ns_widen_directions():
    from supersonic_spark.store.stats import _bound_ns
    d = dt.date(1970, 1, 2)
    assert _bound_ns(d, -1) == 0                       # one day outward
    assert _bound_ns(d, +1) == 3 * 86_400 * 10 ** 9    # end of day + 1 day
    t = dt.datetime(1970, 1, 1, 0, 0, 10, 500_000)
    ns = 10 * 10 ** 9 + 500_000 * 10 ** 3
    assert _bound_ns(t, -1) <= ns - 10 ** 9 + 1
    assert _bound_ns(t, +1) >= ns + 10 ** 9 - 1
    assert _bound_ns(42, -1) == 42 and _bound_ns("x", 1) == "x"


def test_decode_table_predicate_column_not_leaked(spark, tmp_path):
    """columns= plus a predicate on an unrequested column must not leak
    that column into the output schema."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    rows = [(f"c{i:03d}", j, f"txt {i} {j}")
            for i in range(10) for j in range(20)]
    df = spark.createDataFrame(rows,
                               "conv_id string, turn_idx int, text string")
    out = str(tmp_path / "enc_leak")
    encode_table(spark, df, out, EncodeConfig(n_partitions=2, chunk_rows=64),
                 fingerprint="leak")
    dec = decode_table(spark, out, columns=["text"],
                       predicate=("turn_idx", 3, 7))
    assert dec.columns == ["text"]
    assert dec.count() == 10 * 5


def test_bloom_point_lookup_prunes_beyond_zone_maps(spark, tmp_path):
    """Time-sorted encode means user_id min/max spans every chunk (zone
    maps prune nothing); the per-chunk bloom must prune chunks AND keep
    the result exact."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    from supersonic_spark.store.read import _pruned_chunks
    rows = [(i, i * 1000, i % 97, f"e{i % 5}") for i in range(4000)]
    df = spark.createDataFrame(
        rows, "event_id long, t long, user_id long, etype string")
    out = str(tmp_path / "enc_bloom")
    cfg = EncodeConfig(n_partitions=3, chunk_rows=128, conv_key="user_id",
                       order_key="event_id", sort_keys=("t", "event_id"),
                       bloom_cols=("user_id",))
    encode_table(spark, df, out, cfg, fingerprint="bloom")
    target = 7
    dec = decode_table(spark, out, columns=["event_id", "user_id"],
                       predicate=("user_id", target, target))
    got = sorted(r["event_id"] for r in dec.collect())
    want = sorted(r["event_id"] for r in
                  df.filter(F.col("user_id") == target).collect())
    assert got == want and len(got) > 0
    # bloom pruning strictly beats the (useless here) zone-range pruning
    keep = _pruned_chunks(spark, out, [("user_id", target, target)])
    kept = sum(len(s) for s in keep.values())
    total = (spark.read.parquet(out + "/manifest")
             .filter(F.col("column") == "user_id")
             .select("partition_id", "chunk_id").distinct().count())
    assert kept < total, f"bloom pruned nothing ({kept}/{total})"


def test_in_list_predicate_with_bloom(spark, tmp_path):
    """(col, [values]) membership: exact IN results, bloom-pruned, and
    bad member types / empty lists rejected."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    from supersonic_spark.store.read import _normalize_predicates
    rows = [(i, i * 1000, i % 97, f"e{i % 5}") for i in range(3000)]
    df = spark.createDataFrame(
        rows, "event_id long, t long, user_id long, etype string")
    out = str(tmp_path / "enc_in")
    cfg = EncodeConfig(n_partitions=3, chunk_rows=128, conv_key="user_id",
                       order_key="event_id", sort_keys=("t", "event_id"),
                       bloom_cols=("user_id",))
    encode_table(spark, df, out, cfg, fingerprint="inlist")
    targets = [5, 41, 96]
    dec = decode_table(spark, out, columns=["event_id"],
                       predicate=("user_id", targets))
    got = sorted(r["event_id"] for r in dec.collect())
    want = sorted(r["event_id"] for r in
                  df.filter(F.col("user_id").isin(targets)).collect())
    assert got == want and len(got) > 0
    assert dec.columns == ["event_id"]
    with pytest.raises(ValueError):
        _normalize_predicates(("user_id", []))
    with pytest.raises(TypeError):
        _normalize_predicates(("user_id", [1, "x"]))


def test_bloom_roundtrip_membership():
    from supersonic_spark.store.stats import _bloom_build, _bloom_member
    import base64
    import pyarrow as pa
    col = pa.chunked_array([pa.array([1, 5, 7, 900000, None], pa.int64())])
    blob = base64.b64decode(_bloom_build(col, 1024, 5))
    for v in (1, 5, 7, 900000):
        assert _bloom_member(v, blob)
    missing = sum(_bloom_member(v, blob) for v in range(1000, 1200))
    assert missing <= 4          # ~0 false positives at this load factor
    # float columns get no bloom (repr not canonical)
    fcol = pa.chunked_array([pa.array([1.5, 2.5])])
    assert _bloom_build(fcol, 1024, 5) is None


def test_prebucketed_encode_roundtrip_and_resume(spark, tmp_path):
    """Shuffle-free encode over a bucketize_table layout: bit-identical
    round-trip vs the source, and a second run resumes from the per-file
    manifest fragments instead of re-encoding."""
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                           decode_table,
                                           encode_table_prebucketed)
    df = generate_transcripts(spark, n_convs=120, seed=5)
    bdir = str(tmp_path / "buckets")
    bucketize_table(spark, df, bdir, n_buckets=6)
    out = str(tmp_path / "enc_pb")
    cfg = EncodeConfig(chunk_rows=512, bloom_cols=("role",))
    man = encode_table_prebucketed(spark, bdir, out, cfg, fingerprint="pb")
    assert man.filter(F.col("resumed")).count() == 0
    dec = decode_table(spark, out)
    a = df.orderBy("conv_id", "turn_idx").collect()
    b = dec.orderBy("conv_id", "turn_idx").collect()
    assert len(a) == len(b) and all(x == y for x, y in zip(a, b))
    # conversations never span block files (the bucketing invariant the
    # shuffle-free path relies on)
    per_conv = (man.sparkSession.read.parquet(out + "/manifest")
                .select("partition_id").distinct().count())
    assert per_conv <= 6
    # resume: identical config + fingerprint -> every row marked resumed
    man2 = encode_table_prebucketed(spark, bdir, out, cfg, fingerprint="pb")
    assert man2.filter(~F.col("resumed")).count() == 0
    # bloom + projection still work on the prebucketed output
    tools = decode_table(spark, out, columns=["conv_id", "turn_idx"],
                         predicate=("role", "tool", "tool"))
    n_tool = df.filter(F.col("role") == "tool").count()
    assert tools.count() == n_tool


# --- ANN: safe pairwise default + Lloyd refinement --------------------------

def test_pairwise_requires_block(spark):
    from supersonic_spark.ann import pairwise_cosine_pairs
    rows = [(i, [float(i), 1.0], i % 2) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, "
                                     "blk int")
    with pytest.raises(ValueError, match="cross join"):
        pairwise_cosine_pairs(df, 0.9)
    blocked = pairwise_cosine_pairs(df, 0.0, block_col="blk")
    allowed = pairwise_cosine_pairs(df, 0.0, allow_cross_join=True)
    # blocked pairs are a subset of the all-pairs sweep
    b = {(r["id_a"], r["id_b"]) for r in blocked.collect()}
    a = {(r["id_a"], r["id_b"]) for r in allowed.collect()}
    assert b <= a and len(a) == 8 * 7 // 2


def test_lloyd_refinement_improves_centroids(spark):
    """2 Lloyd iterations must not worsen — and on separated clusters
    strictly reduce — mean within-cell distance vs the hash seeds."""
    import numpy as np
    from supersonic_spark.ann import ivf_assign_arrow, train_centroids
    rng = np.random.RandomState(7)
    centers = np.array([[0.0, 0.0, 0.0], [10.0, 0.0, 0.0],
                        [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]])
    pts = np.concatenate([c + rng.normal(0, 0.5, size=(60, 3))
                          for c in centers])
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def mean_dist(cents):
        c = np.asarray(cents)
        a = ivf_assign_arrow(df, cents).collect()
        d = [float(np.linalg.norm(np.asarray(r["embedding"], dtype=float)
                                  - c[r["ivf_cell"]])) for r in a]
        return sum(d) / len(d)

    seeds = train_centroids(df, k=4, lloyd_iters=0)
    refined = train_centroids(df, k=4, lloyd_iters=2)
    assert mean_dist(refined) < mean_dist(seeds)
    # determinism: same input -> identical centroids
    assert refined == train_centroids(df, k=4, lloyd_iters=2)


# --- multimodal: PIL branch --------------------------------------------------

# 1x1 PNG (valid, public-domain trivial bytes)
_PNG_1PX = base64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8"
    "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")


def test_decode_image_stub_contract():
    from supersonic_spark.multimodal import decode_image_stub
    w, h, m = decode_image_stub(_PNG_1PX)
    assert isinstance(w, int) and isinstance(h, int) and isinstance(m, float)
    assert (w, h, m) == decode_image_stub(_PNG_1PX)   # deterministic
    with pytest.raises(ValueError):
        decode_image_stub(b"")


def test_decode_image_pil_branch():
    """Exercises the REAL decode branch when PIL is installed; skipped in
    containers without media libs. Both branches share the
    (width, height, mean) contract shape."""
    from supersonic_spark import multimodal
    if multimodal._PIL_Image is None:
        pytest.skip("PIL not installed in this container")
    w, h, m = multimodal.decode_image_pil(_PNG_1PX)
    assert (w, h) == (1, 1) and isinstance(m, float)
    assert multimodal.decode_image(_PNG_1PX) == (w, h, m)


def test_extract_media_meta_accepts_real_png(spark):
    """The Spark-side plumbing is identical for stub and PIL decoders —
    run the mapInArrow kernel over real PNG bytes with whichever decoder
    the environment dispatches to."""
    from supersonic_spark.multimodal import decode_image, extract_media_meta
    df = spark.createDataFrame([(1, bytearray(_PNG_1PX)), (2, None)],
                               "id long, payload binary")
    out = extract_media_meta(df, "id", "payload", decoder=decode_image)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == len(_PNG_1PX)
    assert rows[1]["width"] is not None
    assert rows[2]["width"] is None


# --- Iceberg seam (fake catalog) --------------------------------------------

def test_iceberg_seam_table_identifier_branch(monkeypatch):
    """With a (faked) Iceberg catalog present, non-path refs compose
    spark.read.table / df.writeTo — verified without real jars."""
    from supersonic_spark.sources import table_io
    monkeypatch.setattr(table_io, "_iceberg_available", lambda s: True)
    calls = {}

    def fake_read_table(ref):
        calls["read"] = ref
        return "DF"

    fake_spark = SimpleNamespace(read=SimpleNamespace(table=fake_read_table))
    assert table_io.load_table(fake_spark, "cat.db.transcripts") == "DF"
    assert calls["read"] == "cat.db.transcripts"

    class FakeWriteTo:
        def createOrReplace(self):
            calls["write"] = True

    def fake_write_to(ref):
        calls["wref"] = ref
        return FakeWriteTo()

    fake_df = SimpleNamespace(writeTo=fake_write_to, sparkSession=fake_spark)
    table_io.write_table(fake_df, "cat.db.out")
    assert calls["wref"] == "cat.db.out" and calls["write"] is True


def test_iceberg_seam_no_catalog_raises(monkeypatch):
    from supersonic_spark.sources import table_io
    monkeypatch.setattr(table_io, "_iceberg_available", lambda s: False)
    with pytest.raises(ValueError):
        table_io.load_table(SimpleNamespace(), "cat.db.transcripts")


def test_prebucketed_incremental_encode(spark, tmp_path):
    """Appending a new bucket file and re-running encodes ONLY the new
    file (per-file fingerprints); existing buckets resume from their
    markers and the merged table decodes the full union."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table_prebucketed)
    schema = "conv_id string, turn_idx int, text string"
    bdir = tmp_path / "grow_buckets"
    bdir.mkdir()
    rows_a = [(f"c{i:03d}", j, f"t {i} {j}")
              for i in range(40) for j in range(10)]
    spark.createDataFrame(rows_a, schema).coalesce(1).write \
         .mode("overwrite").parquet(str(bdir / "b0"))
    import shutil as _sh
    # flatten: one .parquet file per bucket at the top level
    for k, sub in enumerate(sorted(bdir.glob("b*/part-*.parquet"))):
        _sh.copy(sub, bdir / f"bucket-{k:03d}.parquet")
    _sh.rmtree(bdir / "b0")
    out = str(tmp_path / "grow_enc")
    cfg = EncodeConfig(chunk_rows=128, sort_keys=("conv_id", "turn_idx"))
    man1 = encode_table_prebucketed(spark, str(bdir), out, cfg,
                                    fingerprint="grow")
    assert man1.filter(F.col("resumed")).count() == 0

    rows_b = [(f"d{i:03d}", j, f"u {i} {j}")
              for i in range(20) for j in range(10)]
    spark.createDataFrame(rows_b, schema).coalesce(1).write \
         .mode("overwrite").parquet(str(bdir / "b1"))
    for sub in sorted(bdir.glob("b1/part-*.parquet")):
        _sh.copy(sub, bdir / "bucket-900.parquet")   # sorts last
    _sh.rmtree(bdir / "b1")

    man2 = encode_table_prebucketed(spark, str(bdir), out, cfg,
                                    fingerprint="grow")
    res = {bool(r["resumed"]) for r in
           man2.select("partition_id", "resumed").distinct().collect()}
    assert res == {True, False}                 # old resumed, new encoded
    fresh = (man2.filter(~F.col("resumed"))
             .select("partition_id").distinct().count())
    assert fresh == 1                           # exactly the new bucket
    dec = decode_table(spark, out)
    assert dec.count() == len(rows_a) + len(rows_b)
    assert dec.filter(F.col("conv_id").startswith("d")).count() == 200


def test_compact_blocks_preserves_rows_and_pruning(spark, tmp_path):
    """Byte-level compaction of two encoded tables (e.g. streaming
    epochs): decode equals the union, and chunk pruning (zone + bloom)
    still works against the merged, renumbered manifest."""
    from supersonic_spark.pipeline import (EncodeConfig, compact_blocks,
                                           decode_table, encode_table)
    cfg = EncodeConfig(n_partitions=3, chunk_rows=128, conv_key="user_id",
                       order_key="event_id", sort_keys=("t", "event_id"),
                       bloom_cols=("user_id",))
    rows_a = [(i, i * 10, i % 31, f"e{i % 3}") for i in range(1500)]
    rows_b = [(i, i * 10, i % 31, f"e{i % 3}") for i in range(1500, 2600)]
    schema = "event_id long, t long, user_id long, etype string"
    d_a, d_b = str(tmp_path / "ep0"), str(tmp_path / "ep1")
    df_a = spark.createDataFrame(rows_a, schema)
    df_b = spark.createDataFrame(rows_b, schema)
    encode_table(spark, df_a, d_a, cfg, fingerprint="ep0")
    encode_table(spark, df_b, d_b, cfg, fingerprint="ep1")
    out = str(tmp_path / "compacted")
    compact_blocks(spark, [d_a, d_b], out, group_size=4)

    import os as _os
    n_files = len([p for p in _os.listdir(out + "/blocks")
                   if p.endswith(".ssb")])
    n_src = len([p for p in _os.listdir(d_a + "/blocks")
                 if p.endswith(".ssb")]) + \
        len([p for p in _os.listdir(d_b + "/blocks") if p.endswith(".ssb")])
    assert n_files < n_src                      # actually compacted

    dec = decode_table(spark, out)
    got = sorted(r["event_id"] for r in dec.collect())
    assert got == list(range(2600))             # union, nothing lost

    # point lookup still prunes via the merged manifest's blooms
    from supersonic_spark.store.read import _pruned_chunks
    target = 7
    one = decode_table(spark, out, columns=["event_id"],
                       predicate=("user_id", target, target))
    want = sorted(i for i in range(2600) if i % 31 == target)
    assert sorted(r["event_id"] for r in one.collect()) == want
    keep = _pruned_chunks(spark, out, [("user_id", target, target)])
    kept = sum(len(s) for s in keep.values())
    total = (spark.read.parquet(out + "/manifest")
             .filter(F.col("column") == "user_id")
             .select("partition_id", "chunk_id").distinct().count())
    assert kept < total


# --- streaming stateful operators -------------------------------------------

def _write_time_sliced(spark, tmp_path, rows, schema, n_slices=4):
    """K parquet dirs written sequentially (increasing mtime) so a
    maxFilesPerTrigger=1 replay delivers them as K ordered micro-batches
    and cross-batch state is genuinely exercised."""
    import time as _time
    src = str(tmp_path / "sliced_src")
    per = (len(rows) + n_slices - 1) // n_slices
    for k in range(n_slices):
        chunk = rows[k * per:(k + 1) * per]
        if not chunk:
            continue
        spark.createDataFrame(chunk, schema).coalesce(1) \
             .write.mode("overwrite").parquet(f"{src}/slice={k}")
        _time.sleep(1.1)   # distinct mtimes -> deterministic batch order
    return src


def _drain(spark, stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


def test_running_sum_stream_equals_batch(spark, tmp_path):
    from pyspark.sql import Window
    from supersonic_spark.streaming import running_sum_stream
    rows = [(i % 7, i, (i * 13) % 50) for i in range(400)]
    schema = "k int, ord int, v long"
    src = _write_time_sliced(spark, tmp_path, rows, schema)
    sschema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(sschema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1)   # genuine multi-batch state
              .parquet(src))
    got = _drain(spark, running_sum_stream(stream, "k", "ord", "v"),
                 "rss_equiv")
    w = (Window.partitionBy("k").orderBy("ord")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    batch = (spark.read.option("recursiveFileLookup", "true").parquet(src)
             .withColumn("running_sum", F.sum("v").over(w)))
    want = {(r["k"], r["ord"]): r["running_sum"] for r in batch.collect()}
    out = {(r["k"], r["ord"]): r["running_sum"] for r in got.collect()}
    assert out == want and len(out) == 400


def test_dedup_stream_first_occurrence_only(spark, tmp_path):
    from supersonic_spark.streaming import dedup_stream
    # 60 distinct hashes, each appearing 1-4 times across the slices;
    # first occurrence has the smallest ord
    rows = []
    for i in range(200):
        h = f"h{i % 60:03d}"
        rows.append((h, i, f"payload-{i}"))
    schema = "h string, ord int, text string"
    src = _write_time_sliced(spark, tmp_path, rows, schema)
    sschema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(sschema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    got = _drain(spark, dedup_stream(stream, "h", ["h", "ord", "text"],
                                     order_col="ord"),
                 "dds_equiv").collect()
    assert len(got) == 60                       # one per distinct hash
    firsts = {r["h"]: r["ord"] for r in got}
    assert firsts == {f"h{i:03d}": i for i in range(60)}


def test_ivf_indexed_partition_pruning(spark, tmp_path):
    """build_ivf_index writes parquet partitioned by cell; a pruned
    probe reads only the probed cells (PartitionFilters in the scan)
    and full probing equals brute force exactly."""
    import numpy as np
    from supersonic_spark.ann import (build_ivf_index, cosine_topk_arrow,
                                      ivf_topk_indexed, train_centroids)
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(500)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_centroids(df, k=4)
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(spark, df, idx, cents)
    q = rows[0][1]
    exact = cosine_topk_arrow(df, q, 10).collect()
    full = ivf_topk_indexed(spark, idx, q, 10, cents, n_probe=4).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in full] == \
           [(r["vec_id"], r["cos_sim"]) for r in exact]
    # pruned probe: scan plan carries the cell predicate as a
    # partition filter (directory pruning, not a data filter)
    from pyspark.sql import functions as F
    pruned = (spark.read.parquet(idx)
              .filter(F.col("ivf_cell").isin([0, 1])))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split(
        "PartitionFilters", 1)[1][:200]
    # and the pruned read really excludes other cells
    assert set(r["ivf_cell"] for r in
               pruned.select("ivf_cell").distinct().collect()) <= {0, 1}


def test_manifest_stats_metadata_only(spark, tmp_path):
    """COUNT/COUNT(col)/MIN/MAX/SUM from the manifest alone equal the
    real aggregates, including NULL handling and all-NULL chunks."""
    from supersonic_spark.pipeline import (EncodeConfig, encode_table,
                                           manifest_stats)
    rows = [(i, None if i % 5 == 0 else (i * 3) % 1000,
             f"s{i % 9}") for i in range(3000)]
    df = spark.createDataFrame(rows, "rid long, v long, s string")
    out = str(tmp_path / "enc_stats")
    cfg = EncodeConfig(n_partitions=3, chunk_rows=256, conv_key="s",
                       order_key="rid", sort_keys=("s", "rid"))
    encode_table(spark, df, out, cfg, fingerprint="stats")
    stats = {r["column"]: r for r in manifest_stats(spark, out).collect()}
    real = df.agg(F.count("*").alias("n"), F.count("v").alias("nv"),
                  F.min("v").alias("mn"), F.max("v").alias("mx"),
                  F.sum("v").alias("sm")).first()
    s_v = stats["v"]
    assert s_v["n_rows"] == real["n"]
    assert s_v["n_values"] == real["nv"]
    assert int(s_v["min_num"]) == real["mn"]
    assert int(s_v["max_num"]) == real["mx"]
    assert s_v["sum_int"] == real["sm"]
    # string column: bounds exact, no int sum
    s_s = stats["s"]
    assert s_s["min_str"] == "s0" and s_s["max_str"] == "s8"
    assert s_s["sum_int"] is None


def test_schema_evolution_compact_and_decode(spark, tmp_path):
    """Additive evolution: epoch 1 lacks a column epoch 2 has; compaction
    merges to the union schema and old blocks decode the new column as
    NULL; predicates on the evolved column behave correctly."""
    from supersonic_spark.pipeline import (EncodeConfig, compact_blocks,
                                           decode_table, encode_table)
    d1, d2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    cfg = EncodeConfig(n_partitions=2, chunk_rows=128, conv_key="cid",
                       order_key="i", sort_keys=("cid", "i"))
    rows1 = [(f"c{i % 9}", i, f"t{i}") for i in range(600)]
    rows2 = [(f"c{i % 9}", i, f"t{i}", i % 40) for i in range(600, 1000)]
    encode_table(spark, spark.createDataFrame(
        rows1, "cid string, i int, text string"), d1, cfg, fingerprint="v1")
    encode_table(spark, spark.createDataFrame(
        rows2, "cid string, i int, text string, score int"), d2, cfg,
        fingerprint="v2")
    out = str(tmp_path / "evolved")
    compact_blocks(spark, [d1, d2], out, group_size=3)
    dec = decode_table(spark, out)
    assert dec.columns == ["cid", "i", "text", "score"]
    assert dec.count() == 1000
    assert dec.filter(F.col("score").isNull()).count() == 600  # old epoch
    got = {r["i"]: r["score"] for r in
           dec.filter(F.col("i") >= 600).collect()}
    assert got == {i: i % 40 for i in range(600, 1000)}
    # range predicate on the evolved column: nulls (old rows) drop out
    hi = decode_table(spark, out, columns=["i"], predicate=("score", 30, 39))
    want = sorted(i for i in range(600, 1000) if 30 <= i % 40 <= 39)
    assert sorted(r["i"] for r in hi.collect()) == want
    # type conflict is rejected
    d3 = str(tmp_path / "v3")
    encode_table(spark, spark.createDataFrame(
        [("x", 1, "t", 0.5)], "cid string, i int, text string, score double"),
        d3, cfg, fingerprint="v3")
    with pytest.raises(ValueError, match="type conflict"):
        compact_blocks(spark, [out, d3], str(tmp_path / "bad"))


def test_mixed_kernel_and_spark_predicates(spark, tmp_path):
    """Conjunction mixing a kernel-evaluated int predicate with a
    Spark-side datetime predicate: exact results either way."""
    import datetime as _dt
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    df = generate_transcripts(spark, n_convs=40, seed=21)
    out = str(tmp_path / "enc_mixed")
    encode_table(spark, df, out, EncodeConfig(n_partitions=3, chunk_rows=128),
                 fingerprint="mixed")
    lo_hi = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = lo_hi["lo"] + (lo_hi["hi"] - lo_hi["lo"]) / 2
    preds = [("turn_idx", 1, 4), ("ts", lo_hi["lo"], mid)]
    dec = decode_table(spark, out, columns=["conv_id", "turn_idx", "ts"],
                       predicate=preds)
    want = sorted((r["conv_id"], r["turn_idx"]) for r in
                  df.filter(F.col("turn_idx").between(1, 4)
                            & F.col("ts").between(lo_hi["lo"], mid))
                  .select("conv_id", "turn_idx").collect())
    got = sorted((r["conv_id"], r["turn_idx"]) for r in dec.collect())
    assert got == want and len(got) > 0


def test_vec_bss_codec_roundtrip_bitexact():
    """Native list<float32> vector codec: bit-exact incl. NaN/Inf/-0.0,
    whole-vector NULLs, varlen lists, empty chunks; null ELEMENTS
    rejected loudly; selector picks vec_bss for list<float32>."""
    import numpy as np
    import pyarrow as pa
    import supersonic_spark.codecs as C
    from supersonic_spark.selector import choose_codecs

    rng = np.random.RandomState(0)
    vecs = [list(map(float, rng.normal(0, 1, 16))) for _ in range(100)]
    vecs[3] = [float("nan"), float("inf"), -0.0] + [0.0] * 13
    vecs[50] = None
    emb = pa.array(vecs, pa.list_(pa.float32()))
    tbl = pa.table({"vec_id": pa.array(range(100), pa.int64()),
                    "embedding": emb})
    codecs = choose_codecs(tbl)
    assert codecs["embedding"] == "vec_bss"
    buf = C.encode_block(tbl, codecs, entropy="lz4")
    out, _ = C.decode_block(buf)
    b = out.column("embedding").combine_chunks()
    assert b[50].as_py() is None
    raw_a = np.asarray(emb.drop_null().flatten(), dtype="<f4").tobytes()
    raw_b = np.asarray(b.drop_null().flatten(), dtype="<f4").tobytes()
    assert raw_a == raw_b          # bit patterns, incl. NaN/-0.0
    assert len(buf) < C.reference_column_size(emb) + \
        C.reference_column_size(tbl.column("vec_id").combine_chunks())

    # varlen + empty list
    varr = pa.array([[1.5] * k for k in (3, 5, 0, 7)], pa.list_(pa.float32()))
    t2 = pa.table({"v": varr})
    o2, _ = C.decode_block(C.encode_block(t2, choose_codecs(t2)))
    assert o2.column("v").combine_chunks().to_pylist() == varr.to_pylist()

    # null elements inside a vector are rejected, not silently mangled
    bad = pa.table({"v": pa.array([[1.0, None]], pa.list_(pa.float32()))})
    with pytest.raises(ValueError, match="NULL elements"):
        C.encode_block(bad, choose_codecs(bad))

    # projection still skips the vector frame by length arithmetic
    proj, _ = C.decode_block(buf, columns=["vec_id"])
    assert proj.column_names == ["vec_id"]


def test_pipeline_encode_vector_column(spark, tmp_path):
    """A table with an embedding column goes through the full block
    pipeline (encode_table -> blocks -> decode_table) with vec_bss."""
    import numpy as np
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    rng = np.random.RandomState(5)
    rows = [(i, f"s{i % 4}", [float(x) for x in rng.normal(0, 1, 12)])
            for i in range(800)]
    df = spark.createDataFrame(
        rows, "vec_id long, src string, embedding array<float>")
    out = str(tmp_path / "enc_vec")
    cfg = EncodeConfig(n_partitions=3, chunk_rows=128, conv_key="src",
                       order_key="vec_id", sort_keys=("src", "vec_id"))
    man = encode_table(spark, df, out, cfg, fingerprint="vec")
    assert (man.filter(F.col("column") == "embedding")
            .select("codec").distinct().collect()[0][0]
            .startswith("vec_bss"))
    dec = decode_table(spark, out)
    got = {r["vec_id"]: r["embedding"] for r in dec.collect()}
    for i, _s, v in rows:
        assert got[i] == [np.float32(x) for x in v]
    # projection skips the heavy vector frames
    ids = decode_table(spark, out, columns=["vec_id"],
                       predicate=("src", "s1", "s1"))
    assert sorted(r["vec_id"] for r in ids.collect()) == \
        [i for i in range(800) if i % 4 == 1]


def test_decode_stream_projection(spark, tmp_path):
    """decode_stream(columns=...) projects at the block layer — the
    streaming reader only decodes the requested frames."""
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.streaming import (decode_stream,
                                            streaming_encode_sink)
    src_dir = str(tmp_path / "src_p")
    df = generate_transcripts(spark, n_convs=30, seed=4, mega_every=0)
    df.write.mode("overwrite").parquet(src_dir)
    enc_dir = str(tmp_path / "enc_p")
    stream = (spark.readStream.schema(spark.read.parquet(src_dir).schema)
              .parquet(src_dir))
    q = streaming_encode_sink(spark, stream, enc_dir,
                              str(tmp_path / "ck_p")).start()
    q.awaitTermination(120)

    sink = str(tmp_path / "out_p")
    q2 = (decode_stream(spark, enc_dir, columns=["conv_id", "turn_idx"])
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", str(tmp_path / "ck_p2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.columns == ["conv_id", "turn_idx"]
    assert out.count() == df.count()
    got = sorted((r["conv_id"], r["turn_idx"]) for r in out.collect())
    want = sorted((r["conv_id"], r["turn_idx"]) for r in
                  df.select("conv_id", "turn_idx").collect())
    assert got == want
    with pytest.raises(KeyError):
        decode_stream(spark, enc_dir, columns=["nope"])


def test_dedup_stream_bounded_horizon(spark, tmp_path):
    """With horizon_ms the dedup state is bounded by event time: a
    duplicate inside the horizon is dropped, one arriving after the
    watermark passes the horizon is re-emitted as new."""
    import datetime as _dt
    from supersonic_spark.streaming import dedup_stream
    base = _dt.datetime(2024, 5, 1, 12, 0, 0)
    hour = _dt.timedelta(hours=1)
    # slice 0: A,B at T0. slice 1: A again at T0+1h (inside the 2h
    # horizon -> dropped) + C. slice 2: D at T0+6h (watermark is still
    # T0+1h here — computed from the PREVIOUS batch). slice 3: E at
    # T0+6h30 — the watermark is now T0+6h, past A's T0+3h horizon, and
    # A has NO data in this batch, so its state times out and is
    # removed (timeouts only fire for keys without new data). slice 4:
    # A again at T0+7h -> fresh state -> re-emitted.
    slices = [
        [("A", base, 0), ("B", base, 1)],
        [("A", base + hour, 2), ("C", base + hour, 3)],
        [("D", base + 6 * hour, 4)],
        [("E", base + 6 * hour + hour / 2, 5)],
        [("A", base + 7 * hour, 6)],
    ]
    import time as _time
    src = str(tmp_path / "ttl_src")
    for k, rows in enumerate(slices):
        spark.createDataFrame(rows, "h string, ts timestamp, ord int") \
             .coalesce(1).write.mode("overwrite").parquet(f"{src}/s={k}")
        _time.sleep(1.1)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "0 seconds"))
    out = dedup_stream(stream, "h", ["h", "ord"], order_col="ord",
                       horizon_ms=2 * 3600 * 1000, event_time_col="ts")
    q = (out.writeStream.format("memory").queryName("ttl_dd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r["h"], r["ord"]) for r in
                 spark.sql("SELECT * FROM ttl_dd").collect())
    # A emitted twice (ord 0 fresh + ord 6 after expiry), B/C/D/E once
    assert got == [("A", 0), ("A", 6), ("B", 1), ("C", 3),
                   ("D", 4), ("E", 5)], got


def test_chunk_range_parallel_decode(spark, tmp_path):
    """Compacted (few, big) block files decode across chunk-range tasks
    instead of one task per file — same rows, more partitions."""
    from supersonic_spark.pipeline import (EncodeConfig, compact_blocks,
                                           decode_table, encode_table)
    rows = [(f"c{i % 50:03d}", i, f"txt {i}") for i in range(20000)]
    df = spark.createDataFrame(rows, "cid string, i int, text string")
    d1 = str(tmp_path / "src1")
    cfg = EncodeConfig(n_partitions=8, chunk_rows=256, conv_key="cid",
                       order_key="i", sort_keys=("cid", "i"))
    encode_table(spark, df, d1, cfg, fingerprint="rs")
    out = str(tmp_path / "one_file")
    compact_blocks(spark, [d1], out, group_size=64)   # -> 1 big file
    import os as _os
    n_files = len([p for p in _os.listdir(out + "/blocks")
                   if p.endswith(".ssb")])
    assert n_files == 1
    dec = decode_table(spark, out)
    assert dec.rdd.getNumPartitions() > n_files   # split into ranges
    got = sorted((r["cid"], r["i"]) for r in dec.collect())
    assert got == sorted((c, i) for c, i, _t in rows)
    # predicates still compose with range splitting
    sub = decode_table(spark, out, columns=["i"], predicate=("cid", "c007",
                                                             "c007"))
    assert sorted(r["i"] for r in sub.collect()) == \
        [i for i in range(20000) if i % 50 == 7]
