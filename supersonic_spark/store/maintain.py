"""Table maintenance: the bucket layout the shuffle-free encode reads
(bucketize, upsert, delete, merge, rebucket), snapshots with
changed-data capture, and block-file compaction.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import uuid
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..runtime import pin_worker_threads, run_tasks
from .layout import (_block_pid, _bucket_layout, _fragment_name,
                     _link_table, _partition_files, _write_bucket_meta,
                     _write_fragment, bucket_arrow_schema, bucket_file,
                     bucket_tmp, complete_buckets, install_current,
                     list_blocks, manifest_table, parquet_files,
                     read_bucket, read_manifest, read_meta,
                     remove_bucket_tmps, snapshot_dir, write_bucket)
from .read import decode_table


def bucketize_table(spark: SparkSession, df: DataFrame, dest_dir: str,
                    n_buckets: int, conv_key: str = "conv_id") -> str:
    """One-time clustering write: hash-partition by conv_key into exactly
    n_buckets parquet files — plain-parquet emulation of an Iceberg
    bucket(conv_key) partition transform, the standard physical layout
    for conversation tables. Every conversation lands wholly inside one
    bucket file, which is the invariant encode_table_prebucketed needs.
    The write costs one shuffle, amortized over every subsequent
    shuffle-free encode and bucket-pruned read. Size n_buckets to >= 4x
    the executor-core count so mega-conversation skew evens out across
    tasks. An empty bucket gets an empty file (layout.complete_buckets),
    so a file's sorted position is its bucket id. _buckets.json records
    the bucket count, the key and the Spark schema, so maintenance and
    encodes need no inference job."""
    (df.repartition(n_buckets, F.col(conv_key))
       .write.mode("overwrite").parquet(dest_dir))
    complete_buckets(dest_dir, n_buckets, df.schema)
    _write_bucket_meta(dest_dir, n_buckets, conv_key, df.schema)
    return dest_dir


def upsert_bucketized(spark: SparkSession, updates: DataFrame,
                      bucket_dir: str) -> list[int]:
    """MERGE into a bucketize_table layout at bucket-file grain: every
    conversation present in `updates` is REPLACED wholesale (delete +
    insert), new conversations are inserted — and only the bucket files
    whose hash bucket is touched are rewritten. Returns the affected
    bucket ids.

    Routing reproduces Spark's repartition(n, col) assignment exactly:
    HashPartitioning's partition id is pmod(murmur3(col), n), which is
    pmod(F.hash(col), n) — so an update lands in the same bucket file
    bucketize_table put its conversation in, keeping the
    whole-conversation-per-file invariant encode_table_prebucketed
    needs. A following encode_table_prebucketed run then re-encodes
    ONLY the rewritten files (per-file fingerprints; untouched buckets
    resume) — the incremental-maintenance path for a 10^12-turn
    transcript table, where an upsert touching k conversations costs
    O(k bucket files), not a table rewrite. Runs as merge_bucketized
    with every row an upsert: only the update rows cross the JVM, and
    each touched bucket file is rewritten by a pyarrow task and
    installed by rename once every task succeeded."""
    return merge_bucketized(
        spark, updates.withColumn(_MERGE_OP, F.lit("upsert")), bucket_dir,
        op_col=_MERGE_OP)


def delete_bucketized(spark: SparkSession, keys: DataFrame,
                      bucket_dir: str) -> list[int]:
    """DELETE whole conversations at bucket-file grain: every conv_key in
    `keys` is removed from the bucketize_table layout, rewriting ONLY the
    bucket files those keys hash into (same pmod(hash, n) routing as
    upsert_bucketized). Returns the affected bucket ids.

    A bucket whose every conversation is deleted is replaced by an EMPTY
    parquet file (schema kept) rather than removed: every bucket id has
    exactly one file (layout.complete_buckets), because bucket ids are
    positional in encode_table_prebucketed's sorted path list, so
    dropping a file would shift every later bucket's partition id and
    invalidate their manifest fragments. The following
    encode_table_prebucketed run re-encodes only the rewritten files;
    an emptied bucket encodes to zero chunks and its stale block file is
    unlinked (hardlinked snapshots keep the old bytes — see
    snapshot_table). At 10^12-turn scale this is the GDPR-erasure /
    retention path: deleting k conversations costs O(k bucket files),
    not a table rewrite. Runs as merge_bucketized with every key a
    delete: only the keys cross the JVM, and each touched bucket file is
    streamed through one pyarrow task that drops their rows. A NULL key
    deletes nothing, as in a left_anti join."""
    bmeta, schema = _bucket_layout(spark, bucket_dir)
    # merge reads table-shaped rows: the key plus NULL for every column
    rows = keys.select(*[
        F.col(f.name) if f.name == bmeta["conv_key"]
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields])
    return merge_bucketized(
        spark, rows.withColumn(_MERGE_OP, F.lit("delete")), bucket_dir,
        op_col=_MERGE_OP)


_MERGE_OP, _MERGE_BUCKET = "__merge_op", "__merge_bucket"
# one row per rewritten bucket (bucket, tmp), or per unknown op (bad_op)
_MERGE_REPORT = "bucket int, tmp string, bad_op string"


def merge_bucketized(spark: SparkSession, changes: DataFrame,
                     bucket_dir: str, op_col: str = "_op") -> list[int]:
    """Full MERGE INTO at bucket-file grain: `changes` carries the table
    columns plus an op column with value 'upsert' (replace the whole
    conversation, or insert it if absent) or 'delete' (remove the whole
    conversation; its other columns are ignored). Returns the affected
    bucket ids: every bucket a change row routes to.

    Semantically MERGE WHEN MATCHED [UPDATE|DELETE] / WHEN NOT MATCHED
    INSERT, specialized to whole-conversation grain — the natural merge
    unit for a transcript table, where 'update' means 'the conversation
    continued / was redacted' and arrives as its full new row set.

    Copy-on-write over the bucket layout, as Iceberg's MERGE rewrites
    only the data files a change touches: every conversation sits in
    exactly one bucket file, so only the change rows cross the JVM and
    the table never does. Spark casts the change rows to the layout's
    types, routes each to its bucket with the shared pmod(murmur3, n)
    invariant (on the key type _buckets.json records: murmur3 differs
    by byte width) and shuffles them alone by bucket into
    min(n_buckets, defaultParallelism) tasks, so the rewrite is one wave
    at any table size (a task whose partition holds no bucket writes
    nothing). Each mapInArrow task, in pyarrow, checks its ops, streams
    each of its buckets' old file a row group at a time, drops every row
    whose key one of that bucket's change rows carries (left_anti
    semantics: a NULL key matches nothing), appends the upserts and
    writes the new file under a hidden temp name of its own task attempt
    with the layout's Arrow schema. The driver installs the new files by
    rename and unlinks the old ones only after every task succeeded; an
    unknown op or a failed task raises with every bucket file untouched
    and the temp files removed. A task Spark is still cancelling when
    the merge raises can leave its temp file behind: no reader lists
    it, and it is not part of the layout. Over change rows that need no
    shuffle of their own, a merge is 2 Spark jobs (the change shuffle,
    then the rewrite).

    upsert_bucketized and delete_bucketized are its one-op cases. A
    bucket receiving both ops is read once and written once. Emptied
    buckets keep an empty schema file so positional bucket ids stay
    stable; a k-conversation merge costs O(k bucket files) at
    10^12-turn scale, and the following encode_table_prebucketed run
    re-encodes only those files.
    """
    bmeta, schema = _bucket_layout(spark, bucket_dir)
    n, conv_key = bmeta["n_buckets"], bmeta["conv_key"]
    # every bucket id has a file; a layout written before that rule held
    # is completed here, which shifts its files' positions once
    by_num = complete_buckets(bucket_dir, n, schema)
    arrow_schema = bucket_arrow_schema(schema)
    stamp = uuid.uuid4().hex[:8]

    def rewrite(batches: Iterator[pa.RecordBatch]
                ) -> Iterator[pa.RecordBatch]:
        pin_worker_threads()
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        ops = tbl.column(_MERGE_OP)
        # a NULL op is unknown too: is_in gives false for it
        bad = pc.invert(pc.is_in(ops, pa.array(["upsert", "delete"])))
        if pc.any(bad).as_py():
            bad_ops = pc.unique(ops.filter(bad))
            yield pa.record_batch({
                "bucket": pa.nulls(len(bad_ops), pa.int32()),
                "tmp": pa.nulls(len(bad_ops), pa.string()),
                "bad_op": bad_ops})
            return
        buckets, tmps = [], []
        attempt = TaskContext.get().taskAttemptId()
        for b in pc.unique(tbl.column(_MERGE_BUCKET)).to_pylist():
            ch = tbl.filter(pc.equal(tbl.column(_MERGE_BUCKET), b))
            ups = ch.filter(pc.equal(ch.column(_MERGE_OP), "upsert"))
            keys = ch.column(conv_key).combine_chunks().cast(
                arrow_schema.field(conv_key).type)
            tmp = bucket_tmp(bucket_dir, b, stamp, attempt)
            kept = (part.filter(pc.invert(pc.is_in(
                        part.column(conv_key), value_set=keys,
                        skip_nulls=True)))
                    for part in read_bucket(by_num[b], arrow_schema))
            write_bucket(tmp, arrow_schema, itertools.chain(
                kept, [ups.select(arrow_schema.names).cast(arrow_schema)]))
            buckets.append(b)
            tmps.append(tmp)
        yield pa.record_batch({"bucket": pa.array(buckets, pa.int32()),
                               "tmp": pa.array(tmps, pa.string()),
                               "bad_op": pa.nulls(len(buckets), pa.string())})

    rows = changes.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name)
          for f in schema.fields],
        F.col(op_col).cast("string").alias(_MERGE_OP)).withColumn(
        _MERGE_BUCKET, F.pmod(F.hash(F.col(conv_key)), F.lit(n)))
    try:
        report = (rows.repartition(
                      min(n, spark.sparkContext.defaultParallelism),
                      F.col(_MERGE_BUCKET))
                  .mapInArrow(rewrite, _MERGE_REPORT).collect())
        bad = {r["bad_op"] for r in report if r["bucket"] is None}
        if bad:
            raise ValueError(f"unknown merge op(s) {sorted(bad, key=str)}; "
                             "expected 'upsert' or 'delete'")
    except BaseException:
        remove_bucket_tmps(bucket_dir, stamp)
        raise
    for r in report:
        os.replace(r["tmp"], bucket_file(bucket_dir, r["bucket"],
                                         f"mrg{stamp}"))
        os.remove(by_num[r["bucket"]])
    # what a losing speculative attempt wrote
    remove_bucket_tmps(bucket_dir, stamp)
    return sorted(r["bucket"] for r in report)


def rebucket_table(spark: SparkSession, bucket_dir: str, dest_dir: str,
                   factor: int = 2) -> str:
    """Partition evolution WITHOUT a shuffle: scale a bucketize_table
    layout from n to factor*n buckets (Iceberg's bucket(n) ->
    bucket(factor*n) partition-spec evolution).

    The trick is arithmetic, not data movement: bucket ids are
    pmod(murmur3(key), n), and pmod(h, factor*n) mod n == pmod(h, n) —
    so every row of old bucket b can only land in new buckets
    {b, b+n, ..., b+(factor-1)*n}. Each read task therefore splits its
    rows locally among files it writes itself: the plan is scan ->
    dynamic-partition write (a task-local sort on the new bucket id),
    with NO exchange. At 10^12-turn scale this is how a table outgrows
    its bucket count — a parallel file-grain rewrite at full scan
    bandwidth, vs. the wide repartition shuffle a naive re-bucketize
    pays. The source layout is left untouched (snapshot-friendly);
    every bucket's content changes, so a following
    encode_table_prebucketed of dest_dir is a fresh encode by design.

    Mirrors bucketize_table's layout contract: files named
    part-{id:05d}-*.parquet, one per bucket id, so ids are positional in
    sorted order; an empty new bucket gets an empty file, and one the
    write left in pieces is joined into one file with the layout's Arrow
    schema (layout.read_bucket, layout.write_bucket)."""
    if factor < 2 or int(factor) != factor:
        raise ValueError(f"factor must be an integer >= 2, got {factor}")
    bmeta, schema = _bucket_layout(spark, bucket_dir)
    n, conv_key = bmeta["n_buckets"], bmeta["conv_key"]
    m = n * int(factor)
    df = spark.read.schema(schema).parquet(bucket_dir)
    os.makedirs(dest_dir, exist_ok=True)
    tmp = os.path.join(dest_dir, f"_rebucket_tmp_{uuid.uuid4().hex[:8]}")
    (df.withColumn("__nb", F.pmod(F.hash(F.col(conv_key)), F.lit(m)))
       .write.partitionBy("__nb").parquet(tmp))
    stamp = uuid.uuid4().hex[:8]
    arrow_schema = bucket_arrow_schema(schema)
    for d in os.listdir(tmp):
        if not d.startswith("__nb="):
            continue
        files = parquet_files(os.path.join(tmp, d))
        dest = bucket_file(dest_dir, int(d[5:]), f"rbk{stamp}")
        if len(files) == 1:
            os.replace(files[0], dest)
        elif files:
            # arrived in pieces: an input file split across tasks, or
            # spark.sql.files.maxRecordsPerFile
            write_bucket(dest, arrow_schema, (
                t for p in files for t in read_bucket(p, arrow_schema)))
    shutil.rmtree(tmp, ignore_errors=True)
    complete_buckets(dest_dir, m, schema)
    _write_bucket_meta(dest_dir, m, conv_key, schema)
    return dest_dir


def snapshot_table(out_dir: str, tag: str) -> str:
    """Zero-copy snapshot of an encoded table (time travel): hardlink
    every block file and every manifest parquet file, copy meta.json,
    into out_dir/snapshots/<tag>/. Costs O(#files) directory entries and
    zero data bytes. Every mutating path installs NEW inodes — encode
    and compaction os.replace() block files, encodes install manifest
    fragments by rename and unlink superseded ones — so the snapshot's
    links keep the old bytes:
    filesystem-level copy-on-write, the same snapshot-isolation contract
    an Iceberg table gets from immutable data files + a versioned
    metadata tree. decode_table reads a snapshot dir like any table
    (blocks/ + manifest/ + meta.json).

    On filesystems without hardlinks the block files are copied (still
    correct, no longer zero-copy)."""
    snap = snapshot_dir(out_dir, tag)
    if os.path.exists(snap):
        raise ValueError(f"snapshot {tag!r} already exists at {snap}")
    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _link_table(out_dir, tmp)
    # publish atomically: a crashed snapshot leaves only a .tmp dir
    os.rename(tmp, snap)
    return snap


def list_snapshots(out_dir: str) -> list[str]:
    """Snapshot tags of an encoded table, sorted."""
    d = snapshot_dir(out_dir)
    if not os.path.isdir(d):
        return []
    return sorted(t for t in os.listdir(d)
                  if not t.endswith(".tmp")
                  and os.path.isdir(os.path.join(d, t)))


def expire_snapshots(out_dir: str, keep: list[str] | tuple = ()) -> list[str]:
    """Drop every snapshot not named in `keep` (retention). Removing a
    snapshot only unlinks its hardlink names; block bytes still referenced
    by the live table or another snapshot are untouched — bytes are freed
    exactly when their last referencing snapshot/live name goes (the same
    reachability contract as Iceberg's expire_snapshots + orphan-file
    removal, enforced here by the filesystem's link count). Returns the
    expired tags."""
    gone = []
    for tag in list_snapshots(out_dir):
        if tag not in keep:
            shutil.rmtree(snapshot_dir(out_dir, tag))
            gone.append(tag)
    return gone


def snapshot_diff(spark: SparkSession, out_dir: str, tag: str) -> DataFrame:
    """Changed-data capture between a snapshot and the live table:
    returns the row-level diff as the live rows not in the snapshot
    (change_type='insert') plus the snapshot rows no longer live
    ('delete') — an UPDATE appears as delete+insert, the standard CDC
    decomposition. Rows compare whole (exceptAll over every column), so
    a changed value in any column is a change; no key columns are
    involved.

    Scale path: the driver compares the two manifests' (partition_id,
    chunk_id, crc32) sets (layout.manifest_table, so the call runs no
    Spark job), and a partition whose every chunk CRC matches is skipped
    ENTIRELY — neither side's block file is read.
    Under bucketized upserts/deletes only the touched buckets re-encode
    (new CRCs), so CDC cost is O(changed buckets), not O(table):
    consuming the changes of a k-conversation merge into a 10^12-turn
    table reads k bucket files twice, no matter the table size. The
    row-level diff within changed partitions is two exceptAll shuffles
    over those partitions' rows only.

    Additive schema evolution: columns the snapshot predates are decoded
    as NULL (decode conforms each table to its own meta schema; the diff
    aligns on the LIVE schema), so rows whose new column is non-NULL
    correctly surface as updates."""
    snap = snapshot_dir(out_dir, tag)
    if not os.path.isdir(snap):
        raise ValueError(f"no snapshot {tag!r} under {out_dir}")
    keys = ["partition_id", "chunk_id", "crc32"]
    live_man, snap_man = (manifest_table(t, keys) for t in (out_dir, snap))
    # a partition changed where one side has a (chunk, crc) the other
    # lacks; one id per changed partition, bounded by #buckets
    changed = pa.concat_tables([
        live_man.join(snap_man, keys, join_type="left anti"),
        snap_man.join(live_man, keys, join_type="left anti")])
    parts = sorted(pc.unique(changed.column("partition_id")).to_pylist())
    live = decode_table(spark, out_dir, partitions=parts)
    old = decode_table(spark, snap, partitions=parts)
    for f in live.schema.fields:            # align evolved columns
        if f.name not in old.columns:
            old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
    old = old.select(*live.columns)
    ins = live.exceptAll(old).withColumn("change_type", F.lit("insert"))
    del_ = old.exceptAll(live).withColumn("change_type", F.lit("delete"))
    return ins.unionByName(del_)


def compact_blocks(spark: SparkSession, src_dirs: list[str], out_dir: str,
                   group_size: int = 8) -> DataFrame:
    """Small-file compaction for encoded block tables: byte-concatenate
    groups of .ssb files into larger ones and merge their manifests with
    renumbered (partition_id, chunk_id) — pure sequential I/O, no decode
    or re-encode. Block frames are self-contained, so chunk payloads,
    zone maps and blooms survive verbatim and chunk-level pruning
    fidelity is preserved in the merged manifest.

    This is the answer to the streaming encode sink's epoch=N/ small-file
    accretion (and to over-partitioned batch encodes) at 10^12-turn
    scale: periodic compaction keeps the file count O(data/target_size)
    while reads stay pruned. Src dirs may differ by ADDITIVE schema
    evolution (later epochs add columns; same-named fields must keep
    their type) — the merged meta carries the union schema and blocks
    from pre-evolution epochs decode the new columns as NULLs. The
    merged table reads through decode_table like any encode_table
    output. One Spark job: a task per output file concatenates its
    group's blocks and writes the group's manifest fragment from the
    sources' manifest rows (layout.manifest_table: the union schema, and
    only row groups that can hold the group's partitions); the driver
    handles O(#files) metadata only.
    Like every encode it ends in layout.install_current, so a
    re-compaction into the same out_dir leaves only its own files."""
    metas = [read_meta(d) for d in src_dirs]
    # ADDITIVE schema merge (Iceberg-style evolution): later epochs may
    # add columns; same-named fields must keep their type. Blocks from
    # epochs that predate a column decode it as NULL (the decode
    # kernel's conform), so such a column is nullable in the merge.
    src_names = [{fld["name"] for fld in m["spark_schema"]["fields"]}
                 for m in metas]
    merged_fields: list = []
    seen: dict[str, dict] = {}
    for d, m in zip(src_dirs, metas):
        for fld in m["spark_schema"]["fields"]:
            prev = seen.get(fld["name"])
            if prev is None:
                lacking = any(fld["name"] not in n for n in src_names)
                seen[fld["name"]] = dict(
                    fld, nullable=fld["nullable"] or lacking)
                merged_fields.append(seen[fld["name"]])
            elif prev["type"] != fld["type"]:
                raise ValueError(
                    f"type conflict for column {fld['name']!r}: "
                    f"{prev['type']} vs {fld['type']} ({d})")
            else:
                prev["nullable"] = prev["nullable"] or fld["nullable"]

    # deterministic (src file -> output group) assignment
    entries = [(d, _block_pid(p), p) for d in src_dirs
               for p in list_blocks(d)]
    if not entries:
        raise ValueError("no block files under src_dirs")
    groups: list[list] = [entries[i:i + group_size]
                          for i in range(0, len(entries), group_size)]
    meta = dict(metas[0])
    meta["spark_schema"] = dict(metas[0]["spark_schema"],
                                fields=merged_fields)
    meta["n_partitions"] = len(groups)
    meta["compacted_from"] = len(entries)
    # a compaction mixing any pre-upgrade source inherits the weakest
    # stats contract — datetime zone pruning then stays disabled for it
    meta["stats_version"] = min(m.get("stats_version", 0) for m in metas)
    fp = hashlib.md5(json.dumps([src_dirs, group_size]).encode()
                     ).hexdigest()[:12]

    def concat(task) -> Iterator[pa.RecordBatch]:
        gid, srcs = task
        dst, fragment = _partition_files(out_dir, gid, fp)
        tmp = dst + ".tmp"
        with open(tmp, "wb") as out:
            for _d, _pid, p in srcs:
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, out, 1 << 22)
        os.replace(tmp, dst)
        # this group's manifest rows, one read per source dir
        by_src: dict[tuple, list] = {}
        for d in dict.fromkeys(d for d, _pid, _p in srcs):
            pids = [pid for sd, pid, _p in srcs if sd == d]
            for r in manifest_table(d, partitions=pids).to_pylist():
                by_src.setdefault((d, r["partition_id"]), []).append(r)
        rows, off = [], 0
        for d, pid, _p in srcs:
            src_rows = by_src.get((d, pid), [])
            n_chunks = max((r["chunk_id"] for r in src_rows), default=-1) + 1
            for r in src_rows:
                r["partition_id"], r["chunk_id"] = gid, r["chunk_id"] + off
            rows += src_rows
            off += n_chunks
        _write_fragment(fragment, rows)
        return iter(())

    run_tasks(spark, list(enumerate(groups)), concat, "done int").collect()
    install_current(out_dir, meta,
                    [_fragment_name(gid, fp) for gid in range(len(groups))],
                    whole_chunks=False)
    return read_manifest(spark, out_dir)
