"""Round-5 regression tests: multi-chunk streaming state groups, the
join-path chunk pruner, pre-upgrade manifest datetime-stat safety, the
session-tz bound conversion, and nanosecond resume fingerprints."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F


def _drain(spark, stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture()
def tiny_arrow_batches(spark):
    """Force applyInPandasWithState to deliver each key's rows as MANY
    pandas chunks (the >10k-rows-per-key shape, shrunk to test size)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


def test_running_sum_stream_chunked_groups(spark, tmp_path,
                                           tiny_arrow_batches):
    """One key's micro-batch arrives as ~15 chunks of 7 rows, in an order
    where sorting per chunk would give wrong cumulative sums; the kernel
    must buffer + sort the whole batch per key."""
    from pyspark.sql import Window
    from supersonic_spark.streaming import running_sum_stream
    # single batch, single key, rows written in REVERSED ord so every
    # chunk's local sort differs from the global order
    rows = [(1, 99 - i, (i * 7) % 23) for i in range(100)]
    src = str(tmp_path / "rss_chunks")
    spark.createDataFrame(rows, "k int, ord int, v long") \
         .coalesce(1).write.mode("overwrite").parquet(src)
    sschema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(sschema).parquet(src)
    got = _drain(spark, running_sum_stream(stream, "k", "ord", "v"),
                 "rss_chunked")
    w = (Window.partitionBy("k").orderBy("ord")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {(r["k"], r["ord"]): r["running_sum"]
            for r in spark.read.parquet(src)
            .withColumn("running_sum", F.sum("v").over(w)).collect()}
    out = {(r["k"], r["ord"]): r["running_sum"] for r in got.collect()}
    assert out == want and len(out) == 100


def test_dedup_stream_chunked_representative(spark, tmp_path,
                                             tiny_arrow_batches):
    """The order_col-minimal representative lives in the LAST delivered
    chunk (rows written descending by ord): a first-non-empty-chunk
    representative would be wrong."""
    from supersonic_spark.streaming import dedup_stream
    rows = [("h0", 50 - i, f"p{50 - i}") for i in range(50)]  # ord 50..1
    src = str(tmp_path / "dds_chunks")
    spark.createDataFrame(rows, "h string, ord int, text string") \
         .coalesce(1).write.mode("overwrite").parquet(src)
    sschema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(sschema).parquet(src)
    got = _drain(spark, dedup_stream(stream, "h", ["h", "ord", "text"],
                                     order_col="ord"),
                 "dds_chunked").collect()
    assert len(got) == 1
    assert got[0]["ord"] == 1 and got[0]["text"] == "p1"


def _encode_fixture(spark, tmp_path, name, bloom=()):
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    src = generate_transcripts(spark, n_convs=300, seed=11)
    out = str(tmp_path / name)
    cfg = EncodeConfig(n_partitions=8, chunk_rows=512, bloom_cols=bloom)
    encode_table(spark, src, out, cfg, fingerprint=name)
    return src, out


def test_driver_prune_bloom_in_list_returns_source_rows(spark, tmp_path):
    """A bloom IN-list lookup returns exactly the source's rows."""
    from supersonic_spark.pipeline import decode_table
    src, out = _encode_fixture(spark, tmp_path, "driver_prune",
                               bloom=("conv_id",))
    some = [r["conv_id"] for r in
            src.select("conv_id").distinct().limit(3).collect()]
    pred = ("conv_id", some)
    a = decode_table(spark, out, predicate=pred)
    key = ["conv_id", "turn_idx"]
    rows_a = sorted(map(tuple, a.select(*key, "text").collect()))
    assert len(rows_a) > 0
    want = sorted(map(tuple, src.filter(F.col("conv_id").isin(some))
                      .select(*key, "text").collect()))
    assert rows_a == want


def test_driver_prune_range_predicate(spark, tmp_path):
    """A numeric range predicate (no blooms involved)."""
    from supersonic_spark.pipeline import decode_table
    src, out = _encode_fixture(spark, tmp_path, "driver_prune_rng")
    pred = ("turn_idx", 0, 2)
    b = decode_table(spark, out, predicate=pred)
    want = src.filter((F.col("turn_idx") >= 0) & (F.col("turn_idx") <= 2))
    assert b.count() == want.count() > 0


def _emulate_pre_upgrade_manifest(spark, out):
    """Rewrite an encoded table's manifest/meta to the pre-upgrade
    contract: no stats_version, no vsum_int/n_nulls/bloom_b64 columns,
    timestamp zone maps in raw µs (what old manifests actually stored)."""
    import json
    mdir = os.path.join(out, "manifest")
    man = spark.read.parquet(mdir).drop("vsum_int", "n_nulls", "bloom_b64")
    man = man.withColumn(
        "vmin_num", F.when(F.col("column") == "ts",
                           F.col("vmin_num") / 1000).otherwise(F.col("vmin_num"))
    ).withColumn(
        "vmax_num", F.when(F.col("column") == "ts",
                           F.col("vmax_num") / 1000).otherwise(F.col("vmax_num")))
    tmp = mdir + "_old"
    man.write.mode("overwrite").parquet(tmp)
    import shutil
    shutil.rmtree(mdir)
    os.replace(tmp, mdir)
    mpath = os.path.join(out, "meta.json")
    with open(mpath) as f:
        meta = json.load(f)
    meta.pop("stats_version", None)
    with open(mpath, "w") as f:
        json.dump(meta, f)


def test_datetime_predicate_on_pre_upgrade_manifest(spark, tmp_path):
    """A datetime predicate against a manifest whose ts zone maps are in
    µs (pre-upgrade) must NOT zone-prune (ns bounds vs µs stats would
    silently drop every chunk); the residual filter keeps results exact.
    Numeric predicates must still prune normally on the same manifest."""
    from supersonic_spark.pipeline import decode_table
    src, out = _encode_fixture(spark, tmp_path, "old_manifest")
    _emulate_pre_upgrade_manifest(spark, out)

    lo_hi = src.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")) \
               .collect()[0]
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    mid = lo + (hi - lo) / 2
    want = src.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(mid)))
    got = decode_table(spark, out, predicate=("ts", lo, mid))
    assert got.count() == want.count() > 0

    # numeric predicate still prunes + stays exact on the old manifest
    got2 = decode_table(spark, out, predicate=("turn_idx", 0, 1))
    want2 = src.filter(F.col("turn_idx") <= 1)
    assert got2.count() == want2.count() > 0

    # compaction writes every manifest column (null-filled here); the
    # stamped stats_version still keeps the µs zone maps unpruned
    from supersonic_spark.pipeline import compact_blocks
    merged = str(tmp_path / "old_manifest_compacted")
    compact_blocks(spark, [out], merged)
    got3 = decode_table(spark, merged, predicate=("ts", lo, mid))
    assert got3.count() == want.count()


def test_datetime_predicate_current_manifest_prunes(spark, tmp_path):
    """Sanity twin: on a CURRENT manifest the same datetime predicate
    both prunes (stats_version present) and returns exact rows."""
    from supersonic_spark.pipeline import decode_table
    src, out = _encode_fixture(spark, tmp_path, "new_manifest")
    lo = src.agg(F.min("ts")).collect()[0][0]
    want = src.filter(F.col("ts") <= F.lit(lo))
    got = decode_table(spark, out, predicate=("ts", lo, lo))
    assert got.count() == want.count() > 0


def test_bound_ns_session_tz():
    """Naive datetime bounds resolve in the given session tz; unknown tz
    widens by the full offset envelope (conservative, never over-prunes)."""
    from zoneinfo import ZoneInfo
    from supersonic_spark.store.stats import _bound_ns
    naive = dt.datetime(2024, 6, 1, 12, 0, 0)
    utc = ZoneInfo("UTC")
    ny = ZoneInfo("America/New_York")
    ns_utc = _bound_ns(naive, 0, utc)
    ns_ny = _bound_ns(naive, 0, ny)
    # New York is UTC-4 in June: the same wall time is 4h later as an instant
    assert ns_ny - ns_utc == 4 * 3600 * 10 ** 9
    # aware datetimes are exact regardless of tz argument
    aware = naive.replace(tzinfo=utc)
    assert _bound_ns(aware, 0, ny) == ns_utc
    # unknown tz: lower bound sits >= 26h below any session-tz resolution
    assert _bound_ns(naive, -1, None) <= ns_utc - 14 * 3600 * 10 ** 9
    assert _bound_ns(naive, +1, None) >= ns_utc + 14 * 3600 * 10 ** 9


def test_prebucketed_resume_detects_same_second_rewrite(spark, tmp_path):
    """A bucket file touched with a sub-second mtime bump (same size,
    same whole-second mtime) must re-encode, not resume stale blocks."""
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                           encode_table_prebucketed)
    src = generate_transcripts(spark, n_convs=120, seed=5)
    bdir = str(tmp_path / "buckets")
    bucketize_table(spark, src, bdir, n_buckets=4)
    out = str(tmp_path / "enc_pb")
    cfg = EncodeConfig(chunk_rows=2048)
    m1 = encode_table_prebucketed(spark, bdir, out, cfg, fingerprint="r5")
    assert m1.filter(F.col("resumed")).count() == 0
    m2 = encode_table_prebucketed(spark, bdir, out, cfg, fingerprint="r5")
    assert m2.filter(~F.col("resumed")).count() == 0     # clean resume

    # same-second rewrite: bump mtime by ONE nanosecond only
    f0 = sorted(p for p in os.listdir(bdir) if p.endswith(".parquet"))[0]
    p0 = os.path.join(bdir, f0)
    st = os.stat(p0)
    os.utime(p0, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    m3 = encode_table_prebucketed(spark, bdir, out, cfg, fingerprint="r5")
    fresh = m3.filter(~F.col("resumed")).select("partition_id").distinct()
    assert fresh.count() == 1                            # only that bucket


# ---------------------------------------------------------------------------
# round-5 uncommitted-feature tests: vectorized bloom probe, multi-probe
# LSH, clustered embedding datagen
# ---------------------------------------------------------------------------

def test_bloom_probe_b64_matches_scalar():
    """bloom_probe_b64 (base64-text gathers, short-circuit) must agree
    bit-for-bit with the scalar _bloom_member loop over every blob —
    including NULL blobs (kept), mixed bitset sizes (self-describing
    blobs), and sliced Arrow arrays."""
    import base64

    import numpy as np
    import pyarrow as pa

    from supersonic_spark.pipeline import bloom_probe_b64
    from supersonic_spark.store.stats import _bloom_build, _bloom_member

    blobs = []
    for i in range(300):
        if i % 11 == 3:
            blobs.append(None)                 # no stats = keep
            continue
        vals = pa.array([f"key_{i}_{j}" for j in range(1 + i % 37)])
        blobs.append(_bloom_build(vals, 64 << (i % 3), 4))
    probe_values = (["key_17_0", "key_250_5", "absent_a", "absent_b"]
                    + [f"key_{i}_0" for i in range(0, 300, 50)])

    arr = pa.array(blobs, pa.string())
    got = bloom_probe_b64(arr, probe_values)
    want = np.array([
        b is None or any(_bloom_member(v, base64.b64decode(b))
                         for v in probe_values)
        for b in blobs])
    assert got.dtype == bool and len(got) == len(blobs)
    assert (got == want).all()

    # sliced / offset array normalization
    sl = arr.slice(7, 123)
    got_sl = bloom_probe_b64(sl, probe_values)
    assert (got_sl == want[7:130]).all()

    # chunked array
    ch = pa.chunked_array([arr.slice(0, 100), arr.slice(100)])
    assert (bloom_probe_b64(ch, probe_values) == want).all()


def test_multiprobe_buckets_hamming_ball():
    from supersonic_spark.ann import multiprobe_buckets
    q = 0b10110010
    assert multiprobe_buckets(q, 8, 0) == [q]
    d1 = multiprobe_buckets(q, 8, 1)
    assert len(d1) == 9 and q in d1
    assert all(bin(b ^ q).count("1") <= 1 for b in d1)
    d2 = multiprobe_buckets(q, 8, 2)
    assert len(d2) == 1 + 8 + 28
    assert set(d1) <= set(d2)


def test_clustered_embeddings_partition_invariant(spark):
    """The mixture-of-Gaussians datagen derives every vector purely from
    vec_id: any parallelism must give identical rows."""
    from supersonic_spark.datagen import generate_clustered_embeddings

    a = generate_clustered_embeddings(spark, 400, dim=16, n_clusters=8,
                                      parallelism=2).collect()
    b = generate_clustered_embeddings(spark, 400, dim=16, n_clusters=8,
                                      parallelism=8).collect()
    da = {r.vec_id: (r.label, r.embedding) for r in a}
    db = {r.vec_id: (r.label, r.embedding) for r in b}
    assert len(da) == 400 and da == db
    assert all(lab == vid % 8 for vid, (lab, _) in da.items())


def test_lsh_assign_arrow_matches_expr(spark):
    """Write-time LSH bucket assignment (Arrow kernel) must agree with
    the expression-path lsh_bucket for every vector."""
    from supersonic_spark.ann import lsh_assign_arrow, lsh_bucket
    from supersonic_spark.datagen import generate_clustered_embeddings

    df = generate_clustered_embeddings(spark, 200, dim=16, n_clusters=4) \
        .select("vec_id", "embedding")
    kern = lsh_assign_arrow(df, dim=16, n_planes=8)
    expr = df.withColumn(
        "b_expr",
        lsh_bucket(F.col("embedding").cast("array<double>"), 16, 8))
    joined = kern.join(expr.select("vec_id", "b_expr"), "vec_id")
    assert joined.filter(F.col("lsh_bucket") != F.col("b_expr")).count() == 0
    assert joined.count() == 200


def test_lsh_multiprobe_recall_monotone(spark):
    """On clustered embeddings, widening the Hamming ball can only grow
    the candidate set: top-k at hamming=1 must dominate hamming=0 in
    cosine similarity (same scan, larger probe set)."""
    from supersonic_spark.ann import lsh_topk_arrow
    from supersonic_spark.datagen import generate_clustered_embeddings

    df = generate_clustered_embeddings(spark, 600, dim=16, n_clusters=4) \
        .select("vec_id", "embedding")
    q = df.filter(F.col("vec_id") == 0).collect()[0].embedding
    r0 = lsh_topk_arrow(df, q, 10, n_planes=6, hamming=0).collect()
    r1 = lsh_topk_arrow(df, q, 10, n_planes=6, hamming=1).collect()
    assert len(r1) >= len(r0)
    if r0 and len(r0) == len(r1):
        assert sum(r.cos_sim for r in r1) >= sum(r.cos_sim for r in r0) - 1e-9


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Morton-layout encode: zone maps must prune chunks for a range
    predicate on EITHER z key, where the single-sort layout only prunes
    its leading sort column; results stay exact."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table, encode_table_zordered)
    from supersonic_spark.store.read import _pruned_chunks

    n = 32768
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        ((F.col("id") * 7919) % 256).alias("user_id"),
        F.col("id").alias("t"))
    cfg = EncodeConfig(n_partitions=4, chunk_rows=512, conv_key="user_id",
                       order_key="event_id", sort_keys=("t", "event_id"))
    z_out = str(tmp_path / "enc_z")
    encode_table_zordered(spark, df, z_out, cfg,
                          zorder_keys=("user_id", "t"), fingerprint="z5")
    s_out = str(tmp_path / "enc_s")
    # the conv-clustered layout compared against below
    s_cfg = EncodeConfig(n_partitions=4, chunk_rows=512, conv_key="user_id",
                         order_key="event_id",
                         sort_keys=("user_id", "event_id"))
    encode_table(spark, df, s_out, s_cfg, fingerprint="s5")

    def kept(out, preds):
        keep = _pruned_chunks(spark, out, preds)
        return sum(len(s) for s in keep.values())

    def total(out):
        return (spark.read.parquet(out + "/manifest")
                .filter(F.col("column") == "user_id")
                .select("partition_id", "chunk_id").distinct().count())

    tz, ts_ = total(z_out), total(s_out)
    pred_u = [("user_id", 10, 25)]        # 1/16 of the user range
    pred_t = [("t", 1000, 3000)]          # ~1/16 of the time range
    assert kept(z_out, pred_u) < 0.5 * tz      # non-leading dim prunes
    assert kept(z_out, pred_t) < 0.5 * tz      # leading dim still prunes
    # the conv-clustered layout (hash(user) shuffle key, then event_id)
    # prunes user_id only at PARTITION grain and t not at all — z-order
    # must beat it on BOTH dimensions at chunk grain
    assert kept(z_out, pred_u) < kept(s_out, pred_u)
    assert kept(z_out, pred_t) < kept(s_out, pred_t)
    assert kept(s_out, pred_t) == ts_

    got = sorted(r.event_id for r in
                 decode_table(spark, z_out, columns=["event_id", "user_id"],
                              predicate=pred_u).collect())
    want = sorted(r.event_id for r in
                  df.filter(F.col("user_id").between(10, 25)).collect())
    assert got == want and len(got) > 0

    # conjunction across both dimensions
    both = pred_u + pred_t
    got2 = sorted(r.event_id for r in
                  decode_table(spark, z_out, columns=["event_id"],
                               predicate=both).collect())
    want2 = sorted(r.event_id for r in
                   df.filter(F.col("user_id").between(10, 25)
                             & F.col("t").between(1000, 3000)).collect())
    assert got2 == want2
    assert kept(z_out, both) <= min(kept(z_out, pred_u), kept(z_out, pred_t))


def test_zorder_key_validation(spark):
    from supersonic_spark.pipeline import (EncodeConfig,
                                           encode_table_zordered)
    df = spark.range(10).select(F.col("id"),
                                F.col("id").cast("string").alias("s"))
    with pytest.raises(ValueError, match="2 or 3"):
        encode_table_zordered(spark, df, "/tmp/x", EncodeConfig(),
                              zorder_keys=("id",))
    with pytest.raises(ValueError, match="unsupported type"):
        encode_table_zordered(spark, df, "/tmp/x", EncodeConfig(),
                              zorder_keys=("id", "s"))


def test_lsh_indexed_partition_pruning(spark, tmp_path):
    """build_lsh_index writes parquet partitioned by sign bucket; a
    Hamming-ball probe reads only probed buckets (PartitionFilters) and
    matches the scan-path multi-probe exactly; the full ball equals
    brute force."""
    from supersonic_spark.ann import (build_lsh_index, cosine_topk_arrow,
                                      lsh_topk_arrow, lsh_topk_indexed,
                                      multiprobe_buckets, _py_bucket)
    from supersonic_spark.datagen import generate_clustered_embeddings

    df = generate_clustered_embeddings(spark, 500, dim=16, n_clusters=4) \
        .select("vec_id", "embedding")
    idx = str(tmp_path / "lsh_idx")
    build_lsh_index(spark, df, idx, dim=16, n_planes=6)
    q = df.filter(F.col("vec_id") == 0).collect()[0].embedding

    got = lsh_topk_indexed(spark, idx, q, 10, n_planes=6, hamming=1) \
        .collect()
    want = lsh_topk_arrow(df, q, 10, n_planes=6, hamming=1).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == \
           [(r.vec_id, r.cos_sim) for r in want]

    full = lsh_topk_indexed(spark, idx, q, 10, n_planes=6, hamming=6) \
        .collect()
    exact = cosine_topk_arrow(df, q, 10).collect()
    assert [(r.vec_id, r.cos_sim) for r in full] == \
           [(r.vec_id, r.cos_sim) for r in exact]

    probes = multiprobe_buckets(_py_bucket(list(q), 6), 6, 1)
    pruned = (spark.read.parquet(idx)
              .filter(F.col("lsh_bucket").isin(probes)))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lsh_bucket" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert set(r.lsh_bucket for r in
               pruned.select("lsh_bucket").distinct().collect()) \
        <= set(probes)


def test_bloom_pruning_version_guard(spark, tmp_path):
    """Bloom blobs written before the hash-family change (stats_version
    < 3) false-negative under the current probe — the real-table bug
    found in round 5's point-lookup bench. Pruning must SKIP blooms on
    such manifests (exact results, zone-only pruning) and use them on
    current ones."""
    import json
    from supersonic_spark.pipeline import decode_table
    from supersonic_spark.store.read import _pruned_chunks
    src, out = _encode_fixture(spark, tmp_path, "bloomver",
                               bloom=("conv_id",))
    target = src.select("conv_id").distinct().limit(1).collect()[0][0]
    pred = [("conv_id", target, target)]
    want = sorted(map(tuple, src.filter(F.col("conv_id") == target)
                      .select("conv_id", "turn_idx").collect()))

    kept_v3 = sum(len(s) for s in _pruned_chunks(spark, out, pred).values())
    got = sorted(map(tuple,
                     decode_table(spark, out, predicate=pred[0])
                     .select("conv_id", "turn_idx").collect()))
    assert got == want and len(got) > 0

    # downgrade the manifest contract to v2: same blobs, declared older
    # hash family — pruning must stop trusting them
    mpath = os.path.join(out, "meta.json")
    meta = json.load(open(mpath))
    meta["stats_version"] = 2
    json.dump(meta, open(mpath, "w"))
    kept_v2 = sum(len(s) for s in _pruned_chunks(spark, out, pred).values())
    assert kept_v2 >= kept_v3     # no bloom -> equal or more chunks kept
    got2 = sorted(map(tuple,
                      decode_table(spark, out, predicate=pred[0])
                      .select("conv_id", "turn_idx").collect()))
    assert got2 == want

    # and on a conv-clustered layout the bloom genuinely prunes at v3:
    # the shuffle spreads the hash space, so a fake "wrong-hash" blob
    # situation is exactly what v2 declares; v3 must be < all chunks
    total = (spark.read.parquet(out + "/manifest")
             .filter(F.col("column") == "conv_id")
             .select("partition_id", "chunk_id").distinct().count())
    assert kept_v3 < total


def test_upsert_bucketized_incremental(spark, tmp_path):
    """Upsert replaces whole conversations at bucket-file grain; a
    following prebucketed encode re-encodes ONLY the touched buckets
    (per-file fingerprints), and the decoded table equals
    base-minus-updated plus updates exactly."""
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                           decode_table,
                                           encode_table_prebucketed,
                                           upsert_bucketized)
    src = generate_transcripts(spark, n_convs=200, seed=7)
    bdir = str(tmp_path / "b")
    bucketize_table(spark, src, bdir, n_buckets=8)
    out = str(tmp_path / "enc_ups")
    cfg = EncodeConfig(chunk_rows=2048)
    encode_table_prebucketed(spark, bdir, out, cfg, fingerprint="ups")

    some = [r.conv_id for r in
            src.select("conv_id").distinct().limit(3).collect()]
    upd = (src.filter(F.col("conv_id").isin(some))
           .withColumn("text", F.concat(F.lit("UPD:"), F.col("text"))))
    new = (generate_transcripts(spark, n_convs=2, seed=99)
           .withColumn("conv_id", F.concat(F.lit("new-"),
                                           F.col("conv_id"))))
    updates = upd.unionByName(new)

    affected = upsert_bucketized(spark, updates, bdir)
    assert affected and len(affected) <= 8

    m2 = encode_table_prebucketed(spark, bdir, out, cfg,
                                  fingerprint="ups")
    fresh = (m2.filter(~F.col("resumed"))
             .select("partition_id").distinct().count())
    assert fresh == len(affected)          # only touched buckets re-encode

    got = sorted(map(tuple, decode_table(spark, out).collect()))
    want = sorted(map(tuple,
                      src.filter(~F.col("conv_id").isin(some))
                      .unionByName(updates).collect()))
    assert got == want and len(got) > 0


def _find_iceberg_jar():
    import glob
    pats = [
        "/root/.ivy2/jars/*iceberg-spark-runtime*.jar",
        "/opt/spark/jars/*iceberg-spark-runtime*.jar",
        "/usr/local/lib/*iceberg-spark-runtime*.jar",
        os.path.expanduser("~/jars/*iceberg-spark-runtime*.jar"),
    ]
    for p in pats:
        hits = glob.glob(p)
        if hits:
            return hits[0]
    return None


@pytest.mark.skipif(_find_iceberg_jar() is None,
                    reason="no Iceberg Spark runtime jar available "
                           "offline in this sandbox (searched ivy2/"
                           "spark-jars/usr-local); the seam is covered "
                           "by the fake-catalog tests in test_round4")
def test_iceberg_real_catalog_roundtrip(tmp_path):
    """Real-catalog integration for the table_io seam: runs wherever an
    iceberg-spark-runtime jar exists; documents the sandbox gap
    otherwise."""
    from pyspark.sql import SparkSession
    from supersonic_spark.sources import table_io
    wh = str(tmp_path / "wh")
    spark = (SparkSession.builder.master("local[2]")
             .appName("iceberg-it")
             .config("spark.jars", _find_iceberg_jar())
             .config("spark.sql.extensions",
                     "org.apache.iceberg.spark.extensions."
                     "IcebergSparkSessionExtensions")
             .config("spark.sql.catalog.it",
                     "org.apache.iceberg.spark.SparkCatalog")
             .config("spark.sql.catalog.it.type", "hadoop")
             .config("spark.sql.catalog.it.warehouse", wh)
             .getOrCreate())
    try:
        df = spark.range(100).withColumnRenamed("id", "v")
        table_io.write_table(df, "it.db.t")
        back = table_io.load_table(spark, "it.db.t")
        assert back.count() == 100
    finally:
        spark.stop()


def test_pack_iter_frames_roundtrip():
    from supersonic_spark.multimodal import iter_frames, pack_frames
    frames = [b"abc", b"", b"x" * 1000, b"\x00\xff"]
    assert list(iter_frames(pack_frames(frames))) == frames
    with pytest.raises(ValueError):
        list(iter_frames(pack_frames(frames)[:-1]))
    with pytest.raises(ValueError):
        list(iter_frames(b"\x00\x00\x00\x05ab"))


def test_sample_frames_container_and_fixed(spark):
    from supersonic_spark.multimodal import pack_frames, sample_frames
    rows = [(1, pack_frames([b"aa", b"bbb", b"cccc", b"d"])),
            (2, pack_frames([b"zz"])),
            (3, None), (4, b"")]
    df = spark.createDataFrame(rows, "mid long, payload binary")
    got = sorted((r.id, r.frame_idx, bytes(r.frame)) for r in
                 sample_frames(df, "mid", "payload", every_n=2).collect())
    assert got == [(1, 0, b"aa"), (1, 2, b"cccc"), (2, 0, b"zz")]

    fixed = spark.createDataFrame([(9, b"abcdefgh_")],
                                  "mid long, payload binary")
    got2 = sorted((r.frame_idx, r.n_bytes, bytes(r.frame)) for r in
                  sample_frames(fixed, "mid", "payload",
                                frame_len=4).collect())
    assert got2 == [(0, 4, b"abcd"), (1, 4, b"efgh"), (2, 1, b"_")]


def test_resize_images_stub_deterministic(spark):
    from supersonic_spark.multimodal import resize_image_stub, resize_images
    rows = [(1, b"imagebytes-1"), (2, b"imagebytes-2"), (3, None)]
    df = spark.createDataFrame(rows, "mid long, payload binary")
    out = {r.id: r for r in
           resize_images(df, "mid", "payload", 32, 16).collect()}
    assert out[3].resized is None and out[3].n_bytes is None
    for i in (1, 2):
        want = resize_image_stub(rows[i - 1][1], 32, 16)
        assert bytes(out[i].resized) == want
        assert out[i].n_bytes == len(want) == 32 * 16 // 16 + 8
        assert (out[i].out_width, out[i].out_height) == (32, 16)


@pytest.mark.skipif("PIL" not in __import__("sys").modules
                    and not __import__("importlib.util", fromlist=["util"])
                    .find_spec("PIL"),
                    reason="PIL not installed in this sandbox")
def test_resize_images_pil_branch(spark):
    import io
    from PIL import Image
    from supersonic_spark.multimodal import resize_image_pil, resize_images
    buf = io.BytesIO()
    Image.new("RGB", (8, 8), (10, 20, 30)).save(buf, format="PNG")
    df = spark.createDataFrame([(1, buf.getvalue())],
                               "mid long, payload binary")
    out = resize_images(df, "mid", "payload", 4, 4,
                        resizer=resize_image_pil).collect()[0]
    img = Image.open(io.BytesIO(bytes(out.resized)))
    assert img.size == (4, 4)


def test_upsert_preserves_untouched_bucket_zero(spark, tmp_path):
    """Spark writes a part-00000 file even for an EMPTY partition 0;
    the upsert must never install it over bucket 0's real data when no
    update hashes there (reproduced data-loss bug: 200 -> 181 rows)."""
    from supersonic_spark.pipeline import bucketize_table, upsert_bucketized
    rows = [(f"u{i}", i) for i in range(200)]
    df = spark.createDataFrame(rows, "conv_id string, v long")
    bdir = str(tmp_path / "bz")
    bucketize_table(spark, df, bdir, n_buckets=8)
    n = 8
    bid = F.pmod(F.hash(F.col("conv_id")), F.lit(n))
    # pick a conv that does NOT hash to bucket 0
    some = [r.conv_id for r in
            df.withColumn("b", bid).filter(F.col("b") != 0)
            .limit(2).collect()]
    updates = (df.filter(F.col("conv_id").isin(some))
               .withColumn("v", F.col("v") + 1000))
    affected = upsert_bucketized(spark, updates, bdir)
    assert 0 not in affected
    back = spark.read.parquet(bdir)
    assert back.count() == 200                      # nothing lost
    got = {r.conv_id: r.v for r in back.collect()}
    for c in some:
        assert got[c] >= 1000
    assert sum(1 for v in got.values() if v >= 1000) == len(some)


def test_ntz_datetime_pruning_non_utc_session(spark, tmp_path):
    """TIMESTAMP_NTZ zone maps are wall-clock ns; naive predicate bounds
    must NOT be shifted by a non-UTC session timezone (they'd prune
    chunks the residual filter keeps). Exactness + pruning both hold
    under Asia/Tokyo."""
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    from supersonic_spark.store.read import _pruned_chunks
    rows = [(i, f"2024-01-{1 + i // 100:02d} {i % 24:02d}:00:00")
            for i in range(2000)]
    df = (spark.createDataFrame(rows, "event_id long, s string")
          .select("event_id",
                  F.col("s").cast("timestamp_ntz").alias("ts")))
    out = str(tmp_path / "enc_ntz")
    cfg = EncodeConfig(n_partitions=2, chunk_rows=128,
                       conv_key="event_id", order_key="event_id",
                       sort_keys=("ts", "event_id"))
    encode_table(spark, df, out, cfg, fingerprint="ntz")

    lo = dt.datetime(2024, 1, 5, 0, 0, 0)
    hi = dt.datetime(2024, 1, 7, 0, 0, 0)
    # wall-clock semantics: NTZ bounds as NTZ literals (a bare F.lit
    # builds an LTZ literal and the comparison would be session-tz
    # dependent — the very bug this test pins)
    want = sorted(r.event_id for r in
                  df.filter((F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
                            & (F.col("ts") <= F.lit(hi)
                               .cast("timestamp_ntz"))).collect())
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "Asia/Tokyo")
    try:
        got = sorted(r.event_id for r in
                     decode_table(spark, out, columns=["event_id"],
                                  predicate=("ts", lo, hi)).collect())
        keep = _pruned_chunks(spark, out, [("ts", lo, hi)])
        kept = sum(len(s) for s in keep.values())
    finally:
        spark.conf.set(key, old)
    assert got == want and len(got) > 0
    total = (spark.read.parquet(out + "/manifest")
             .filter(F.col("column") == "ts")
             .select("partition_id", "chunk_id").distinct().count())
    assert kept < total                     # still prunes, correctly
