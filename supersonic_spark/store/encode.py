"""Encode: the shuffle path, the z-order path and the shuffle-free
prebucketed path, their shared partition kernel and their shared tail.

Shuffle encode: repartition by (conv_id, salt) — salting splits skewed
mega-conversations — sort within partitions by the sort keys, then a
mapInArrow kernel encodes 64k-row chunks per column (selector-chosen codec)
into block files and writes each partition's lineage/metrics manifest
rows as a manifest fragment. The fragment commits its partition, so a
killed job resumes without re-encoding completed partitions. Every
encode ends in _encode_tail, which installs what it wrote as the
table's live files and writes meta.json, the table's commit.

At 100 TB scale the only shuffle is the single repartition by
(xxhash64(conv_id), salt); the salt is row-local, so skew needs no
pre-count. Everything after is partition-local.
"""

from __future__ import annotations

import hashlib
import heapq
import json
import os
import queue
import threading
import time
import zlib
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..codecs import (block_codec_report, block_column_sizes, encode_block,
                      reference_column_size)
from ..runtime import pin_worker_threads, run_tasks
from ..selector import choose_codecs
from .layout import (_bucket_layout, _fragment_name, _partition_files,
                     _resumed, _write_fragment, bucket_arrow_schema,
                     install_current, parquet_files, read_bucket,
                     read_manifest)
from .stats import (STATS_VERSION, _BLOOM_BITS, _BLOOM_HASHES, _bloom_build,
                    _zone_stats)


# outer compression stage over codec payloads, kept per frame only where
# it shrinks >=10%; optional in the codecs, always lz4 in the encode
# pipeline: measured ~16% fewer bytes/turn at zero throughput cost (the
# saved block I/O pays for it), where zstd trades ~5% throughput for ~17.5%
_ENTROPY = "lz4"


@dataclass
class EncodeConfig:
    n_partitions: int = 32
    chunk_rows: int = 65536
    salt_threshold: int = 100_000   # conv turn count above which we salt
    salt_block: int = 65536         # turns per salted slice
    sort_keys: tuple[str, ...] = ("conv_id", "turn_idx")
    conv_key: str = "conv_id"
    order_key: str = "turn_idx"
    # bloom-filter chunk stats for point lookups on NON-sort columns.
    # Zone maps only prune on sorted/clustered columns (min/max of an
    # unsorted column spans everything); a small per-(chunk, column)
    # bloom prunes equality predicates anywhere — the "fetch one user's
    # turns out of 10^12" path. Cost: at least _BLOOM_BITS/8 bytes per
    # chunk per listed column in the manifest; the driver probes a
    # manifest file's blobs only for the chunks its zone maps kept.
    bloom_cols: tuple[str, ...] = ()

    def config_hash(self, fingerprint: str) -> str:
        blob = json.dumps({
            # retired knobs, pinned to their last defaults so the hash
            # (and every fragment named by it) stays byte-stable
            "sort_in_kernel": False,
            "fixed_width_shuffle_key": True,
            "skew_precount": False,
            "codec_overrides": [],
            "entropy": "lz4",
            "n_partitions": self.n_partitions, "chunk_rows": self.chunk_rows,
            "salt_threshold": self.salt_threshold, "salt_block": self.salt_block,
            "sort_keys": list(self.sort_keys),
            "bloom": [list(self.bloom_cols), 16384, 5],  # retired: bits, k
            # resumed fragments carry manifest rows (incl. bloom blobs);
            # a stats-contract bump must invalidate them or a resume
            # would restore old-format stats under a new-version meta
            "stats_version": STATS_VERSION,
            "fingerprint": fingerprint,
        }, sort_keys=True).encode()
        return hashlib.md5(blob).hexdigest()[:12]


# batches _prefetched queues ahead of the kernel; depths 0, 1 and 4
# each measured slower (BENCH/BASELINE.md round 3, OPTIMIZATION_r06.md)
_PREFETCH_DEPTH = 2


def _prefetched(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Drain `batches` through a bounded queue fed by a daemon thread so
    the JVM->Python Arrow transfer of batch N+1 overlaps the encode of
    batch N (socket reads release the GIL; without it the worker
    alternates read-then-encode). Worker memory grows by at most
    _PREFETCH_DEPTH transfer batches."""
    q: "queue.Queue" = queue.Queue(maxsize=_PREFETCH_DEPTH)
    _END = object()
    stop = threading.Event()  # set when the consumer abandons the generator

    def put(item) -> bool:
        # bounded put that gives up once the consumer is gone, so an
        # abandoned feeder never blocks forever on a full queue while
        # PySpark's post-UDF cleanup drains the same stream from the main
        # thread (concurrent iteration would turn a clean kernel error
        # into a confusing crash)
        while not stop.is_set():
            try:
                q.put(item, timeout=0.1)
                return True
            except queue.Full:
                continue
        return False

    def feed():
        try:
            for b in batches:
                if not put(b):
                    return
            put(_END)
        except BaseException as e:   # surface reader errors in the consumer
            put(e)

    threading.Thread(target=feed, daemon=True).start()
    try:
        while True:
            item = q.get()
            if item is _END:
                return
            if isinstance(item, BaseException):
                raise item
            yield item
    finally:
        stop.set()


def _encode_partition_stream(pid: int, batches: Iterator[pa.RecordBatch],
                             out_dir: str, cfg_hash: str, cfg: EncodeConfig,
                             sort: bool = False) -> bool:
    """Encode one partition's batch stream into one block file, then its
    manifest fragment (manifest/part-NNNNN.<cfg_hash>.parquet): the
    fragment commits the block file. Returns False when the fragment
    already existed (resumed, nothing encoded). Shared by the shuffle
    path (_encoder: pid = Spark partition, rows arrive sorted) and the
    pre-bucketed path (encode_table_prebucketed: pid = bucket-file
    index, sort=True: the whole file is sorted here by cfg.sort_keys,
    then chunked by the same loop)."""
    chunk_rows = cfg.chunk_rows
    blk_path, fragment = _partition_files(out_dir, pid, cfg_hash)
    if _resumed(fragment):
        return False
    tmp_path = blk_path + f".tmp.{cfg_hash}"

    manifest_rows: list[dict] = []
    pending: list[pa.RecordBatch] = []
    pending_rows = 0
    chunk_id = 0

    # sticky per-column codec choice: the first chunk's selection is
    # reused for later chunks of the same partition (sorted data is
    # homogeneous) EXCEPT data-dependent codecs (constant, fixedpoint)
    # which must re-validate per chunk
    sticky: dict[str, str] = {}
    _DATA_DEPENDENT = {"constant", "fixedpoint"}

    with open(tmp_path, "wb") as out:
        def flush(tbl: pa.Table):
            nonlocal chunk_id
            for off in range(0, tbl.num_rows, chunk_rows):
                chunk = tbl.slice(off, chunk_rows)
                t0 = time.perf_counter()
                codecs = choose_codecs(chunk, sticky, entropy=_ENTROPY)
                for name, codec in codecs.items():
                    if codec not in _DATA_DEPENDENT:
                        sticky[name] = codec
                buf = encode_block(chunk, codecs, entropy=_ENTROPY)
                dt = time.perf_counter() - t0
                out.write(buf)
                crc = zlib.crc32(buf) & 0xFFFFFFFF
                # actual per-frame codec incl. "+zstd" suffix where the
                # outer stage was kept (it self-disables per frame)
                applied = block_codec_report(buf)
                per_col_out = block_column_sizes(buf)
                for name in chunk.schema.names:
                    col = chunk.column(name).combine_chunks()
                    (zmin, zmax, zmin_s, zmax_s,
                     zsum, znulls) = _zone_stats(col)
                    manifest_rows.append({
                        "partition_id": pid, "chunk_id": chunk_id,
                        "column": name, "codec": applied[name],
                        "n_rows": chunk.num_rows,
                        "bytes_in": int(reference_column_size(col)),
                        "bytes_out": per_col_out[name],
                        "encode_sec": dt / len(chunk.schema.names),
                        "crc32": crc,
                        "resumed": False,
                        "vmin_num": zmin, "vmax_num": zmax,
                        "vmin_str": zmin_s, "vmax_str": zmax_s,
                        "vsum_int": zsum, "n_nulls": znulls,
                        # base64 string, as older resume markers hold it
                        "bloom_b64": (_bloom_build(col, _BLOOM_BITS,
                                                   _BLOOM_HASHES)
                                      if name in cfg.bloom_cols else None),
                    })
                chunk_id += 1

        if sort:   # buffer the whole bucket file for one C++ sort
            batches = list(batches)
            if batches:
                batches = (pa.Table.from_batches(batches).sort_by(
                    [(k, "ascending") for k in cfg.sort_keys]).to_batches())
        for batch in batches:
            pending.append(batch)
            pending_rows += batch.num_rows
            if pending_rows >= chunk_rows:
                tbl = pa.Table.from_batches(pending)
                full = (tbl.num_rows // chunk_rows) * chunk_rows
                flush(tbl.slice(0, full))
                rest = tbl.slice(full)
                pending = rest.to_batches() if rest.num_rows else []
                pending_rows = rest.num_rows
        if pending_rows:
            flush(pa.Table.from_batches(pending))

    if chunk_id == 0:
        os.remove(tmp_path)  # skip empty partitions (reference rejects
        # 0-row chunks: file_io.cc:398-403)
        if os.path.exists(blk_path):
            # a previous encode of this partition left a block file but
            # the partition is now empty (e.g. every conversation in a
            # bucket was deleted) — decode_table walks blocks/*.ssb, so a
            # stale file would resurrect deleted rows. Unlink only drops
            # this name; hardlinked snapshots keep the old bytes.
            os.remove(blk_path)
    else:
        os.replace(tmp_path, blk_path)
    _write_fragment(fragment, manifest_rows)
    return True


# what an encode task reports per partition: the name of its manifest
# fragment and whether this call encoded it (False: resumed)
_REPORT_SCHEMA = "partition_id int, fragment string, encoded boolean"


def _report(done: list[tuple[int, str, bool]]) -> pa.RecordBatch:
    pids, frags, flags = zip(*done) if done else ((), (), ())
    return pa.RecordBatch.from_pydict({
        "partition_id": pa.array(pids, pa.int32()),
        "fragment": pa.array(frags, pa.string()),
        "encoded": pa.array(flags, pa.bool_())})


def _encoder(out_dir: str, cfg_hash: str, cfg: EncodeConfig):
    """mapInArrow kernel: encode this partition's rows into one block file."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pin_worker_threads()
        pid = TaskContext.get().partitionId()
        # no sort: salted_repartition already sorted the rows
        encoded = _encode_partition_stream(
            pid, _prefetched(batches), out_dir, cfg_hash, cfg)
        yield _report([(pid, _fragment_name(pid, cfg_hash), encoded)])

    return run


def salted_repartition(df: DataFrame, cfg: EncodeConfig) -> DataFrame:
    """The shuffle-encode plan: one exchange, then a sort within each
    partition by cfg.sort_keys. Decode order is restored from the keys,
    never from partition order.

    Skew: the salt is row-local. Rows with order_key < salt_threshold
    keep salt 0, so every conversation shorter than the threshold stays
    in one partition; only the tail of a mega-conversation splits into
    salt_block slices. No pre-count scan, no join.

    The exchange and the sort run on xxhash64(conv_key), one 8-byte key,
    instead of the (string) key itself; conv_key in sort_keys sorts by
    that hash too. The Tungsten string-key sort was measured as the
    dominant non-scaling stage (BENCH/BASELINE.md round-2 profile); a
    long key sorts by its 8-byte prefix with no payload comparisons. A
    64-bit collision only interleaves two conversations' rows inside one
    partition, which costs RLE run length, never correctness. Expected
    collisions at 10^12 turns / ~10^10 convs: ~3 pairs."""
    conv, order = cfg.conv_key, cfg.order_key
    if order not in df.columns:
        # no secondary order column -> skew salting unavailable; single key
        return (df.repartition(cfg.n_partitions, F.col(conv))
                .sortWithinPartitions(*cfg.sort_keys))
    salt = (F.when(F.col(order) < F.lit(cfg.salt_threshold), F.lit(0))
             .otherwise((F.floor((F.col(order) - F.lit(cfg.salt_threshold))
                                 / F.lit(cfg.salt_block)) + 1).cast("int")))
    arranged = (df.withColumn("_salt", salt)
                  .withColumn("_ck", F.xxhash64(F.col(conv)))
                  .repartition(cfg.n_partitions, F.col("_ck"), F.col("_salt")))
    keys = [F.col("_ck") if k == conv else F.col(k) for k in cfg.sort_keys]
    return arranged.sortWithinPartitions(*keys).drop("_salt", "_ck")


def encode_table(spark: SparkSession, df: DataFrame, out_dir: str,
                 cfg: EncodeConfig | None = None,
                 fingerprint: str = "") -> DataFrame:
    """Encode df into block files under out_dir; returns the manifest DF
    (already persisted to out_dir/manifest as parquet)."""
    cfg = cfg or EncodeConfig()
    _check_keys(cfg, df.columns)
    return _encode_arranged(spark, df, salted_repartition(df, cfg), out_dir,
                            cfg, fingerprint)


def _check_keys(cfg: EncodeConfig, columns: list[str]) -> None:
    missing = [c for c in (cfg.conv_key, *cfg.sort_keys) if c not in columns]
    if missing:
        raise ValueError(
            f"encode keys {missing} not in input columns {columns}; "
            "set conv_key/sort_keys/order_key in EncodeConfig")


def _encode_arranged(spark: SparkSession, df: DataFrame,
                     arranged: DataFrame, out_dir: str, cfg: EncodeConfig,
                     fingerprint: str,
                     extra_meta: dict | None = None) -> DataFrame:
    """Shuffle-path encode: run the chunking/codec kernel over an
    already-arranged DataFrame (caller controls partitioning and
    within-partition order), then the shared encode tail, which writes
    the meta dict built here as meta.json."""
    cfg_hash = cfg.config_hash(fingerprint)
    meta = _encode_meta(df.schema, cfg, cfg_hash, fingerprint,
                        cfg.n_partitions, **(extra_meta or {}))
    tasks = arranged.mapInArrow(_encoder(out_dir, cfg_hash, cfg),
                                schema=_REPORT_SCHEMA)
    return _encode_tail(spark, out_dir, meta, tasks)


def _encode_meta(schema: StructType, cfg: EncodeConfig, cfg_hash: str,
                 fingerprint: str, n_partitions: int, **extra) -> dict:
    return {
        "spark_schema": schema.jsonValue(),
        "config_hash": cfg_hash,
        "fingerprint": fingerprint,
        "n_partitions": n_partitions,
        "chunk_rows": cfg.chunk_rows,
        "sort_keys": list(cfg.sort_keys),
        # zone-map unit contract: >=2 means timestamp zone maps are
        # ns-since-epoch (see _zone_stats / STATS_VERSION); absent means a
        # pre-upgrade manifest whose datetime stats are raw Arrow-unit
        # int64 (µs) — _pruned_chunks must not zone-prune datetime
        # predicates against those
        "stats_version": STATS_VERSION,
        **extra,
    }


def _encode_tail(spark: SparkSession, out_dir: str, meta: dict,
                 tasks: DataFrame | None,
                 resumed_fragments: tuple[str, ...] = ()) -> DataFrame:
    """Shared encode tail. Runs the encode tasks (each writes the
    manifest fragment of every partition it encodes, see
    _encode_partition_stream and _REPORT_SCHEMA), then installs the
    current fragments as the table's live set (layout.install_current):
    the ones the tasks reported plus `resumed_fragments`, the fragments
    of partitions the driver did not schedule. Every other fragment and
    block file goes, and meta.json, written once with the manifest's
    size stamped in, commits the table. The driver handles
    O(#partitions) names and footers and never manifest rows: at scale
    the manifest is a big table.

    Returns the manifest read with MANIFEST_SCHEMA (no inference job);
    `resumed` is true for every partition this call did not encode."""
    reports = tasks.collect() if tasks is not None else []
    current = set(resumed_fragments) | {r["fragment"] for r in reports}
    encoded = sorted(r["partition_id"] for r in reports if r["encoded"])
    install_current(out_dir, meta, current)
    resumed = (~F.col("partition_id").isin(encoded) if encoded
               else F.lit(True))
    return read_manifest(spark, out_dir).withColumn("resumed", resumed)


def _pack_by_bytes(items: list, sizes: list[int], n_slots: int) -> list:
    """Pack items into at most n_slots groups balanced by bytes (longest
    first onto the lightest group); each group keeps input order."""
    k = min(len(items), max(n_slots, 1))
    heap = [(0, g) for g in range(k)]
    members: list[list[int]] = [[] for _ in range(k)]
    for j in sorted(range(len(items)), key=lambda j: (-sizes[j], j)):
        load, g = heapq.heappop(heap)
        members[g].append(j)
        heapq.heappush(heap, (load + sizes[j], g))
    return [[items[j] for j in sorted(m)] for m in members]


def _zorder_long_expr(df: DataFrame, name: str):
    """An order-preserving int64 view of a z-order key column: integers
    cast, timestamps -> µs since epoch, dates -> days since epoch. Other
    types (notably strings/floats) are rejected — Morton interleave
    needs a total order with meaningful fixed-width bits."""
    t = df.schema[name].dataType.typeName()
    col = F.col(name)
    if t in ("byte", "short", "integer", "long"):
        return col.cast("long")
    if t in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(col.cast("timestamp"))
    if t == "date":
        return F.unix_date(col)
    raise ValueError(
        f"zorder key {name!r} has unsupported type {t}; use an "
        "integer/timestamp/date column")


def zorder_key_expr(norm_cols: list, mins: list[int], maxes: list[int]):
    """Morton (Z-curve) key over 2-3 pre-normalized int64 columns: each
    value is range-scaled to `bits` = 62//d bits (double-precision scale
    then clamp — layout only; zone maps stay exact), and bit i of
    dimension ci lands at position i*d + ci. Pure codegen bitwise
    expressions (~3 ops per bit), no UDF. NULL keys clamp to the low
    corner so they cluster instead of scattering."""
    d = len(norm_cols)
    bits = 62 // d
    maxv = (1 << bits) - 1
    terms = []
    for ci, (c, lo, hi) in enumerate(zip(norm_cols, mins, maxes)):
        span = float(max(hi - lo, 1))
        # subtract in DOUBLE: long (c - lo) overflows under ANSI when the
        # key spans more than int64 range (e.g. an xxhash64-derived key);
        # double precision loss only blurs the layout, never correctness
        scaled = (((F.coalesce(c, F.lit(lo)).cast("double")
                    - F.lit(float(lo)))
                   / F.lit(span)) * F.lit(float(maxv))).cast("long")
        norm = F.least(F.lit(maxv).cast("long"),
                       F.greatest(F.lit(0).cast("long"), scaled))
        for i in range(bits):
            terms.append(F.shiftleft(
                F.shiftrightunsigned(norm, i).bitwiseAND(F.lit(1)),
                i * d + ci))
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def encode_table_zordered(spark: SparkSession, df: DataFrame, out_dir: str,
                          cfg: EncodeConfig | None = None,
                          zorder_keys: tuple[str, ...] = (),
                          fingerprint: str = "") -> DataFrame:
    """Z-order layout encode (the Delta/Iceberg OPTIMIZE ZORDER analogue
    for the block store): arrange rows along the Morton curve of 2-3
    numeric/timestamp key columns before chunking, so each chunk covers
    a small hyper-rectangle of key space and the per-chunk zone maps are
    tight on EVERY z key simultaneously — range predicates on ANY of the
    keys prune chunks, where a single-key sort only serves its leading
    column. Costs one column-pruned min/max scan (or table stats, when a
    catalog carries them) + one range shuffle; at 100 TB this replaces
    per-query full scans on the non-leading dimensions, the classic
    multi-dimensional-clustering trade. Decode/pruning are unchanged —
    the layout is invisible to readers beyond tighter stats."""
    cfg = cfg or EncodeConfig()
    if not 2 <= len(zorder_keys) <= 3:
        raise ValueError("zorder_keys needs 2 or 3 columns, got "
                         f"{zorder_keys!r}")
    missing = [c for c in zorder_keys if c not in df.columns]
    if missing:
        raise ValueError(f"zorder keys {missing} not in {df.columns}")
    norm = [_zorder_long_expr(df, k) for k in zorder_keys]
    bounds = df.agg(*[f for i, c in enumerate(norm)
                      for f in (F.min(c).alias(f"mn{i}"),
                                F.max(c).alias(f"mx{i}"))]).collect()[0]
    mins = [bounds[f"mn{i}"] for i in range(len(norm))]
    maxes = [bounds[f"mx{i}"] for i in range(len(norm))]
    if any(v is None for v in mins + maxes):
        raise ValueError("zorder keys are all-NULL or the table is empty")
    z = zorder_key_expr(norm, mins, maxes)
    arranged = (df.withColumn("_z", z)
                  .repartitionByRange(cfg.n_partitions, F.col("_z"))
                  .sortWithinPartitions("_z")
                  .drop("_z"))
    # never resumed: the range cut comes from a sample seeded by the RDD
    # id, so a token of this call's own keeps a killed call's cut out
    return _encode_arranged(
        spark, df, arranged, out_dir, cfg,
        fingerprint=(f"{fingerprint}|zorder:{','.join(zorder_keys)}"
                     f"|call:{os.urandom(8).hex()}"),
        extra_meta={"zorder_keys": list(zorder_keys)})


def encode_table_prebucketed(spark: SparkSession, input_dir: str,
                             out_dir: str, cfg: EncodeConfig | None = None,
                             fingerprint: str = "") -> DataFrame:
    """Shuffle-free encode over a PRE-BUCKETED parquet layout: each task
    encodes a group of bucket files; the kernel reads each file
    in-process with pyarrow (layout.read_bucket, the layout's Arrow
    schema), sorts by sort_keys (Arrow C++ sort_indices),
    and encodes — no JVM scan, no repartition exchange, no JVM->Python
    row transfer at all.

    Rationale: stage profiling (BENCH/BASELINE.md rounds 2-4) shows the
    shuffle-path job's only non-scaling costs are the JVM shuffle/sort
    (~0.74) and a flat Arrow IPC stage; the codec kernel itself scales at
    the hardware ceiling. When the input table is already clustered by
    conversation — an Iceberg bucket(conv_id) transform, produced once by
    bucketize_table — the shuffle is redundant, and this path's scaling
    equals the kernel-only ceiling. At 10^12-turn scale the bucketed
    layout is also what makes incremental encodes and conversation
    point-reads cheap, so it is the layout a production transcript table
    would already have. Blocks, manifest, zone maps and blooms are
    byte-compatible with decode_table.

    The driver plans the tasks. Resume is per bucket file (the same
    commit as the shuffle path): a file whose manifest fragment exists
    is not scheduled at all, so a fully resumed call runs no Spark job
    for the encode. The remaining files are packed into at most
    defaultParallelism tasks, balanced by file bytes, which keeps the
    per-task fixed cost to one wave however many files there are. A
    task killed partway through its group leaves the files it finished
    committed; a re-run schedules only the rest.

    Each file's fragment is keyed by (config, file name, size, mtime) —
    INCREMENTAL ENCODE: when the bucketed table grows, re-running
    encodes only the new/changed bucket files and resumes every
    untouched one. Assumes an append-only layout (existing files
    keep their sorted position; new files sort after them, as Spark
    part-file naming does) — if files are renamed or reordered, use a
    fresh out_dir."""
    cfg = cfg or EncodeConfig()
    paths = parquet_files(input_dir)
    if not paths:
        raise ValueError(f"no .parquet bucket files under {input_dir}")
    _, schema = _bucket_layout(spark, input_dir)
    _check_keys(cfg, schema.names)
    arrow_schema = bucket_arrow_schema(schema)
    cfg_hash = cfg.config_hash(fingerprint)
    meta = _encode_meta(schema, cfg, cfg_hash, fingerprint, len(paths),
                        prebucketed=True)

    stats = [os.stat(p) for p in paths]
    # nanosecond mtime: a bucket file rewritten within the same second
    # with unchanged size (deterministic re-bucketize) must NOT resume
    # stale blocks
    fps = [hashlib.md5(f"{cfg_hash}:{os.path.basename(p)}:{st.st_size}:"
                       f"{st.st_mtime_ns}".encode()).hexdigest()[:12]
           for p, st in zip(paths, stats)]

    resumed, todo, todo_sizes = [], [], []
    for pid, (path, fp) in enumerate(zip(paths, fps)):
        if _resumed(_partition_files(out_dir, pid, fp)[1]):
            resumed.append(_fragment_name(pid, fp))
        else:
            todo.append((pid, path, fp))
            todo_sizes.append(stats[pid].st_size)
    groups = _pack_by_bytes(todo, todo_sizes,
                            spark.sparkContext.defaultParallelism)

    def encode_group(group) -> Iterator[pa.RecordBatch]:
        done = []
        for pid, path, fp in group:
            # lazy: the file is read only if the fragment check inside
            # _encode_partition_stream does NOT resume (a fragment can
            # appear after planning)
            batches = (b for t in read_bucket(path, arrow_schema)
                       for b in t.to_batches())
            encoded = _encode_partition_stream(
                pid, batches, out_dir, fp, cfg, sort=True)
            done.append((pid, _fragment_name(pid, fp), encoded))
        yield _report(done)

    tasks = (run_tasks(spark, groups, encode_group, _REPORT_SCHEMA)
             if groups else None)
    return _encode_tail(spark, out_dir, meta, tasks, tuple(resumed))
