"""Distributed encode/decode pipeline.

Encode: repartition by (conv_id, salt) — salting splits skewed
mega-conversations — sort within partitions by (conv_id, turn_idx), then a
mapInArrow kernel encodes 64k-row chunks per column (selector-chosen codec)
into block files, emitting lineage/metrics manifest rows and per-partition
checkpoint markers so a killed job resumes without re-encoding completed
partitions.

Design lineage: BestEffortGroupAggregate -> shuffle -> final aggregation is
the reference's own partial/shuffle/final pattern (reference:
supersonic/cursor/core/aggregate.h:230-250); restartable spill files in its
external sort are the checkpoint precedent (reference:
supersonic/cursor/core/sort.cc:324-366); Spy/benchmark listeners are the
per-operator metrics precedent (reference: supersonic/cursor/core/spy.h:36-57).

At 100 TB scale the only shuffles are (1) the per-conversation count used
for skew detection (map-side partial agg, tiny output) and (2) the single
repartition by (conv_id, salt). Everything after is partition-local.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import zlib
from dataclasses import dataclass, field
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .codecs import (block_codec_report, decode_block, encode_block,
                     reference_column_size)
from .selector import choose_codecs

MANIFEST_SCHEMA = StructType([
    StructField("partition_id", IntegerType(), False),
    StructField("chunk_id", IntegerType(), False),
    StructField("column", StringType(), False),
    StructField("codec", StringType(), False),
    StructField("n_rows", LongType(), False),
    StructField("bytes_in", LongType(), False),
    StructField("bytes_out", LongType(), False),
    StructField("encode_sec", DoubleType(), False),
    StructField("crc32", LongType(), False),
    StructField("resumed", BooleanType(), False),
    # zone maps: per-chunk min/max, numeric (ints/floats/timestamp-as-ns)
    # or string — what lets decode_table prune whole chunks by predicate
    # without touching their payloads (Parquet row-group stats analogue)
    StructField("vmin_num", DoubleType(), True),
    StructField("vmax_num", DoubleType(), True),
    StructField("vmin_str", StringType(), True),
    StructField("vmax_str", StringType(), True),
    # exact int64 chunk sum (integer/boolean columns only) + null count:
    # lets COUNT/MIN/MAX/SUM be answered from the manifest alone
    StructField("vsum_int", LongType(), True),
    StructField("n_nulls", LongType(), True),
    # per-chunk bloom filter (base64: 1 byte hash-count k + bitset) for
    # point-lookup pruning on non-sort columns; NULL = no bloom recorded
    StructField("bloom_b64", StringType(), True),
])


# Manifest-stats contract version. 2 = timestamp zone maps normalized to
# ns-since-epoch + vsum_int/n_nulls columns present; manifests without
# the marker AND without those columns predate the ns normalization, so
# their datetime zone maps are raw Arrow-unit int64 (µs from Spark's
# transfer) and must not be zone-pruned with ns bounds. 3 = bloom blobs
# built with the crc32+adler32+splitmix hash family — blobs from older
# manifests used a different hash and probing them with the current one
# yields FALSE NEGATIVES (silently missing rows), so bloom pruning is
# skipped entirely below version 3 (zone maps + residual filters remain
# exact; only the bloom speedup is lost on pre-upgrade tables).
STATS_VERSION = 3

_SPLITMIX_C1, _SPLITMIX_C2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
_GOLDEN64 = 0x9E3779B97F4A7C15
_MASK64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    x = (x + _GOLDEN64) & _MASK64
    x = ((x ^ (x >> 30)) * _SPLITMIX_C1) & _MASK64
    x = ((x ^ (x >> 27)) * _SPLITMIX_C2) & _MASK64
    return x ^ (x >> 31)


def _bloom_hash2(v) -> tuple[int, int]:
    """Two 64-bit hashes of a value's canonical string form (double
    hashing generates the k probe positions). crc32 + adler32 (both C
    speed) mixed through splitmix64 — ~25x faster per value than a
    cryptographic hash, and bloom quality only affects FALSE POSITIVES
    (extra chunk decodes), never correctness. Build (worker) and probe
    (driver/executor) share this exact function."""
    b = str(v).encode()
    x = (zlib.crc32(b) << 32) | zlib.adler32(b)
    h1 = _splitmix64(x)
    h2 = _splitmix64(h1 ^ ((len(b) * _GOLDEN64) & _MASK64))
    return h1, h2


_BLOOM_MAX_BITS = 1 << 20           # 128 KiB/chunk-column hard cap
_BLOOM_BITS_PER_KEY = 12            # ~0.3% FPR at the sized load


def _splitmix64_np(x):
    import numpy as np
    x = x + np.uint64(_GOLDEN64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(_SPLITMIX_C1)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(_SPLITMIX_C2)
    return x ^ (x >> np.uint64(31))


def _bloom_build(col, n_bits: int, k: int) -> str | None:
    """Base64 bloom (k byte + bitset) over a chunk's distinct values;
    string/int columns only (float repr is not canonical across engines).

    n_bits is a MINIMUM: the bitset auto-grows (powers of two, capped at
    _BLOOM_MAX_BITS) to ~12 bits per distinct value, because a
    fixed-size bloom silently saturates into a keep-everything filter on
    high-cardinality chunks (a 64k-row chunk can carry 64k distinct
    keys). The blob is self-describing (size = len), so mixed sizes
    coexist in one manifest. Bit positions are computed vectorized in
    uint64 numpy; _bloom_member's scalar math agrees because the size is
    a power of two (mod 2^64 then mask == exact mod)."""
    import base64
    import numpy as np
    import pyarrow.compute as pc
    t = col.type
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_integer(t)):
        return None
    vals = [v for v in pc.unique(col).to_pylist() if v is not None]
    if not vals:
        return None
    n_bits_eff = 1 << max((n_bits - 1).bit_length(), 3)
    while (n_bits_eff < _BLOOM_BITS_PER_KEY * len(vals)
           and n_bits_eff < _BLOOM_MAX_BITS):
        n_bits_eff <<= 1

    enc = [str(v).encode() for v in vals]
    x = np.fromiter(((zlib.crc32(b) << 32) | zlib.adler32(b) for b in enc),
                    dtype=np.uint64, count=len(enc))
    ln = np.fromiter((len(b) for b in enc), dtype=np.uint64, count=len(enc))
    h1 = _splitmix64_np(x)
    h2 = _splitmix64_np(h1 ^ (ln * np.uint64(_GOLDEN64)))
    kk = np.arange(k, dtype=np.uint64)
    pos = ((h1[:, None] + kk[None, :] * h2[:, None])
           & np.uint64(n_bits_eff - 1)).astype(np.int64).ravel()
    bits = np.zeros(n_bits_eff >> 3, dtype=np.uint8)
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return base64.b64encode(bytes([k]) + bits.tobytes()).decode()


def _bloom_member(value, blob: bytes) -> bool:
    k = blob[0]
    n_bits = (len(blob) - 1) * 8
    h1, h2 = _bloom_hash2(value)
    return all(blob[1 + (p >> 3)] & (1 << (p & 7))
               for p in ((h1 + i * h2) % n_bits for i in range(k)))


def _zone_stats(col) -> tuple:
    """(vmin_num, vmax_num, vmin_str, vmax_str, vsum_int, n_nulls) for
    one column chunk. Numeric bounds are widened outward when they exceed
    float53 precision (int64/ns values) so a rounded bound can never
    wrongly exclude a chunk — zone maps must be conservative. vsum_int is
    the EXACT int64 sum for integer/boolean columns (None elsewhere or on
    overflow), which together with n_rows/n_nulls lets COUNT/MIN/MAX/SUM
    be answered from the manifest alone (metadata-only aggregation)."""
    import numpy as np
    import pyarrow.compute as pc
    t = col.type
    scale = 1
    n_nulls = int(col.null_count)
    try:
        if pa.types.is_timestamp(t):
            # normalize every source unit to ns-since-epoch so driver-side
            # datetime predicate bounds have ONE fixed unit to convert to
            scale = {"s": 10 ** 9, "ms": 10 ** 6, "us": 10 ** 3, "ns": 1}[t.unit]
            col, t = col.cast(pa.int64()), pa.int64()
        if (pa.types.is_integer(t) or pa.types.is_floating(t)
                or pa.types.is_boolean(t)):
            mm = pc.min_max(col)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if lo is None:     # all-NULL chunk: SUM contributes 0 exactly
                z = 0 if ((pa.types.is_integer(t) or pa.types.is_boolean(t))
                          and scale == 1) else None
                return None, None, None, None, z, n_nulls
            vsum = None
            if (pa.types.is_integer(t) or pa.types.is_boolean(t)) \
                    and scale == 1:
                try:
                    vsum = int(pc.sum(col).as_py())
                    if abs(vsum) >= 2 ** 63 - 1:
                        vsum = None
                except (OverflowError, pa.lib.ArrowInvalid):
                    vsum = None
            lo, hi = lo * scale, hi * scale
            lo_f, hi_f = float(lo), float(hi)
            if abs(lo) > 2 ** 53:
                lo_f = float(np.nextafter(lo_f, -np.inf))
            if abs(hi) > 2 ** 53:
                hi_f = float(np.nextafter(hi_f, np.inf))
            return lo_f, hi_f, None, None, vsum, n_nulls
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            mm = pc.min_max(col)
            return (None, None, mm["min"].as_py(), mm["max"].as_py(),
                    None, n_nulls)
    except pa.lib.ArrowNotImplementedError:
        pass
    return None, None, None, None, None, n_nulls


@dataclass
class EncodeConfig:
    n_partitions: int = 32
    chunk_rows: int = 65536
    salt_threshold: int = 100_000   # conv turn count above which we salt
    salt_block: int = 65536         # turns per salted slice
    sort_keys: tuple[str, ...] = ("conv_id", "turn_idx")
    conv_key: str = "conv_id"
    order_key: str = "turn_idx"
    codec_overrides: dict[str, str] = field(default_factory=dict)
    # general-compression outer stage over codec payloads (Parquet-style
    # encoding+compression layering), kept per frame only where it shrinks
    # >=10%. Default lz4: measured ~16% fewer bytes/turn at zero throughput
    # cost (the saved block I/O pays for the compressor); "zstd" trades ~5%
    # throughput for ~17.5%; None = lightweight codecs only.
    entropy: str | None = "lz4"
    # sort partitions inside the Arrow kernel (C++ sort_indices, overlaps
    # the shuffle read and scales with workers) instead of a JVM
    # sortWithinPartitions — measured: the Tungsten string-key sort is the
    # dominant non-scaling CPU stage on many-core single-box runs. Costs
    # one whole-partition buffer in the worker (size partitions to memory).
    sort_in_kernel: bool = False
    # overlap Arrow IPC with codec compute inside each Python worker: a
    # bounded feeder thread drains the JVM socket into a small queue
    # while the kernel encodes the previous batch. Without it the worker
    # alternates read-then-encode, serializing the two (the JVM->Python
    # transfer was profiled as the largest non-overlapped stage). Value =
    # max queued batches; 0 disables.
    prefetch_batches: int = 2
    # derive the skew salt row-locally from turn_idx instead of a
    # pre-count scan: rows with turn_idx < salt_threshold keep salt 0, so
    # every conversation shorter than the threshold stays contiguous, and
    # only the TAIL of a mega-conversation splits into salt_block slices —
    # the same partition-size bound as the pre-count design with zero
    # extra jobs. The pre-count path (groupBy count + broadcast join) was
    # profiled as a ~3.5 s job whose cost is FLAT in core count (driver/
    # scheduling bound), i.e. pure scaling-efficiency loss; it remains
    # available for A/B as skew_precount=True.
    skew_precount: bool = False
    # shuffle + sort on xxhash64(conv_id) (one fixed-width 8-byte key)
    # instead of the string conv_id itself. The Tungsten string-key sort
    # was measured as the dominant non-scaling stage (BENCH/BASELINE.md
    # round-2 profile: 0.74 at 2v8, memory-bus-bound); a long key sorts
    # via the 8-byte prefix with no record-payload comparisons. A 64-bit
    # hash collision only interleaves two conversations' rows inside one
    # partition — decode order is restored from (conv_id, turn_idx) keys,
    # never from block order, so collisions degrade RLE run lengths for
    # those two conversations (a few bytes), NEVER correctness. Expected
    # collisions at 10^12 turns / ~10^10 convs: ~3 pairs.
    fixed_width_shuffle_key: bool = True
    # bloom-filter chunk stats for point lookups on NON-sort columns.
    # Zone maps only prune on sorted/clustered columns (min/max of an
    # unsorted column spans everything); a small per-(chunk, column)
    # bloom prunes equality predicates anywhere — the "fetch one user's
    # turns out of 10^12" path. Cost: bloom_bits/8 bytes per chunk per
    # listed column in the manifest; membership is probed distributed
    # (mapInArrow over the manifest), never driver-side blob collection.
    bloom_cols: tuple[str, ...] = ()
    bloom_bits: int = 16384          # 2 KiB per chunk-column
    bloom_hashes: int = 5

    def __post_init__(self) -> None:
        from .codecs.framing import validate_entropy
        validate_entropy(self.entropy)  # fail at config time, not in tasks

    def config_hash(self, fingerprint: str) -> str:
        blob = json.dumps({
            "sort_in_kernel": self.sort_in_kernel,
            "fixed_width_shuffle_key": self.fixed_width_shuffle_key,
            "skew_precount": self.skew_precount,
            "n_partitions": self.n_partitions, "chunk_rows": self.chunk_rows,
            "salt_threshold": self.salt_threshold, "salt_block": self.salt_block,
            "sort_keys": list(self.sort_keys),
            "codec_overrides": sorted(self.codec_overrides.items()),
            "entropy": self.entropy,
            "bloom": [list(self.bloom_cols), self.bloom_bits,
                      self.bloom_hashes],
            # resume markers carry manifest rows (incl. bloom blobs);
            # a stats-contract bump must invalidate them or a resume
            # would restore old-format stats under a new-version meta
            "stats_version": STATS_VERSION,
            "fingerprint": fingerprint,
        }, sort_keys=True).encode()
        return hashlib.md5(blob).hexdigest()[:12]


def _prefetched(batches: Iterator[pa.RecordBatch],
                depth: int) -> Iterator[pa.RecordBatch]:
    """Drain `batches` through a bounded queue fed by a daemon thread so
    the JVM->Python Arrow transfer of batch N+1 overlaps the encode of
    batch N (socket reads release the GIL). depth bounds worker memory to
    depth extra transfer batches."""
    if depth <= 0:
        yield from batches
        return
    import queue
    import threading
    q: "queue.Queue" = queue.Queue(maxsize=depth)
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


def _block_pid(path: str) -> int:
    """Partition id of a block file (blocks/part-NNNNN.ssb)."""
    return int(os.path.basename(path)[5:10])


def _marker_name(pid: int, fp: str) -> str:
    return f"part-{pid:05d}.{fp}.json"


def _fragment_name(pid: int, fp: str) -> str:
    return f"part-{pid:05d}.{fp}.parquet"


def _write_fragment(path: str, rows: list[dict]) -> None:
    """One partition's manifest rows as one parquet file, installed by
    rename from a hidden temp name (Spark's reader skips dot-files)."""
    import pyarrow.parquet as pq
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(pa.Table.from_batches([_manifest_batch(rows)]), tmp)
    os.replace(tmp, path)


def _encode_partition_stream(pid: int, batches: Iterator[pa.RecordBatch],
                             out_dir: str, cfg_hash: str,
                             overrides: dict[str, str], chunk_rows: int,
                             entropy: str | None,
                             sort_keys: tuple[str, ...] | None,
                             bloom_cols: tuple[str, ...] = (),
                             bloom_bits: int = 16384,
                             bloom_hashes: int = 5) -> bool:
    """Encode one partition's batch stream into one block file, its
    manifest fragment (manifest/part-NNNNN.<cfg_hash>.parquet) and its
    resume marker, in that order: the marker commits the other two.
    Returns False when the marker already existed (resumed, nothing
    encoded). Shared by the shuffle path (_encoder: pid = Spark
    partition) and the pre-bucketed path (encode_table_prebucketed:
    pid = bucket-file index)."""
    ckpt_dir = os.path.join(out_dir, "checkpoints")
    blk_dir = os.path.join(out_dir, "blocks")
    man_dir = os.path.join(out_dir, "manifest")
    marker = os.path.join(ckpt_dir, _marker_name(pid, cfg_hash))
    fragment = os.path.join(man_dir, _fragment_name(pid, cfg_hash))

    if os.path.exists(marker):
        if not os.path.exists(fragment):
            # the marker predates manifest fragments (an older encoder
            # wrote the manifest as one Spark job): rebuild it from the
            # rows the marker carries
            with open(marker) as f:
                rows = json.load(f)
            for r in rows:
                r["resumed"] = True
            os.makedirs(man_dir, exist_ok=True)
            _write_fragment(fragment, rows)
        return False

    os.makedirs(ckpt_dir, exist_ok=True)
    os.makedirs(blk_dir, exist_ok=True)
    os.makedirs(man_dir, exist_ok=True)
    blk_path = os.path.join(blk_dir, f"part-{pid:05d}.ssb")
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
                if chunk.num_rows == 0:
                    continue
                t0 = time.perf_counter()
                eff_overrides = dict(overrides)
                for name, codec in sticky.items():
                    if name not in eff_overrides:
                        eff_overrides[name] = codec
                codecs = choose_codecs(chunk, eff_overrides, entropy=entropy)
                for name, codec in codecs.items():
                    if codec not in _DATA_DEPENDENT:
                        sticky[name] = codec
                buf = encode_block(chunk, codecs, entropy=entropy)
                dt = time.perf_counter() - t0
                out.write(buf)
                # actual per-frame codec incl. "+zstd" suffix where the
                # outer stage was kept (it self-disables per frame)
                applied = block_codec_report(buf)
                per_col_out = _per_column_sizes(buf, chunk.schema.names)
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
                        "crc32": zlib.crc32(buf) & 0xFFFFFFFF,
                        "resumed": False,
                        "vmin_num": zmin, "vmax_num": zmax,
                        "vmin_str": zmin_s, "vmax_str": zmax_s,
                        "vsum_int": zsum, "n_nulls": znulls,
                        # base64 string: JSON-safe in resume markers
                        "bloom_b64": (_bloom_build(col, bloom_bits,
                                                   bloom_hashes)
                                      if name in bloom_cols else None),
                    })
                chunk_id += 1

        if sort_keys:
            # buffer the whole partition, one C++ sort, then chunk —
            # replaces the JVM sortWithinPartitions
            buffered = list(batches)
            if buffered:
                tbl = pa.Table.from_batches(buffered)
                del buffered
                tbl = tbl.sort_by([(k, "ascending") for k in sort_keys])
                flush(tbl)
        else:
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
    mtmp = marker + ".tmp"
    with open(mtmp, "w") as f:
        json.dump(manifest_rows, f)
    os.replace(mtmp, marker)
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


def _encoder(out_dir: str, cfg_hash: str, overrides: dict[str, str],
             chunk_rows: int, entropy: str | None = None,
             sort_keys: tuple[str, ...] | None = None,
             prefetch: int = 2,
             bloom_cols: tuple[str, ...] = (),
             bloom_bits: int = 16384, bloom_hashes: int = 5):
    """mapInArrow kernel: encode this partition's rows into one block file."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .runtime import pin_worker_threads
        pin_worker_threads()
        batches = _prefetched(batches, prefetch)
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        encoded = _encode_partition_stream(
            pid, batches, out_dir, cfg_hash, overrides, chunk_rows,
            entropy, sort_keys, bloom_cols, bloom_bits, bloom_hashes)
        yield _report([(pid, _fragment_name(pid, cfg_hash), encoded)])

    return run


def _per_column_sizes(block_buf: bytes, names: list[str]) -> dict[str, int]:
    """Encoded byte size per column inside one block frame."""
    import struct
    n_cols = struct.unpack_from("<H", block_buf, 4)[0]
    off = 14
    out = {}
    for _ in range(n_cols):
        nlen = struct.unpack_from("<H", block_buf, off)[0]
        off += 2
        name = block_buf[off:off + nlen].decode("utf-8")
        off += nlen
        clen = struct.unpack_from("<Q", block_buf, off)[0]
        off += 8 + clen
        out[name] = clen
    return out


def _manifest_batch(rows: list[dict]) -> pa.RecordBatch:
    arrays = {
        "partition_id": pa.array([r["partition_id"] for r in rows], pa.int32()),
        "chunk_id": pa.array([r["chunk_id"] for r in rows], pa.int32()),
        "column": pa.array([r["column"] for r in rows], pa.string()),
        "codec": pa.array([r["codec"] for r in rows], pa.string()),
        "n_rows": pa.array([r["n_rows"] for r in rows], pa.int64()),
        "bytes_in": pa.array([r["bytes_in"] for r in rows], pa.int64()),
        "bytes_out": pa.array([r["bytes_out"] for r in rows], pa.int64()),
        "encode_sec": pa.array([r["encode_sec"] for r in rows], pa.float64()),
        "crc32": pa.array([r["crc32"] for r in rows], pa.int64()),
        "resumed": pa.array([r["resumed"] for r in rows], pa.bool_()),
        # .get(): resume markers written before zone maps existed stay
        # readable (their chunks simply can't be pruned)
        "vmin_num": pa.array([r.get("vmin_num") for r in rows], pa.float64()),
        "vmax_num": pa.array([r.get("vmax_num") for r in rows], pa.float64()),
        "vmin_str": pa.array([r.get("vmin_str") for r in rows], pa.string()),
        "vmax_str": pa.array([r.get("vmax_str") for r in rows], pa.string()),
        "vsum_int": pa.array([r.get("vsum_int") for r in rows], pa.int64()),
        "n_nulls": pa.array([r.get("n_nulls") for r in rows], pa.int64()),
        "bloom_b64": pa.array([r.get("bloom_b64") for r in rows],
                              pa.string()),
    }
    return pa.RecordBatch.from_pydict(arrays)


def salted_repartition(df: DataFrame, cfg: EncodeConfig,
                       sort_within: bool = True) -> DataFrame:
    """Explicit skew handling: conversations larger than salt_threshold get
    a secondary split key so one mega-conversation spreads over multiple
    partitions; everyone else keeps salt 0. Decode order is restored from
    (conv_id, turn_idx), never from partition order."""
    conv, order = cfg.conv_key, cfg.order_key
    if order not in df.columns:
        # no secondary order column -> skew salting unavailable; single key
        out = df.repartition(cfg.n_partitions, F.col(conv))
        return out.sortWithinPartitions(*cfg.sort_keys) if sort_within else out
    if cfg.skew_precount:
        counts = df.groupBy(conv).count()
        skewed = counts.filter(F.col("count") > cfg.salt_threshold).select(conv)
        df2 = df.join(F.broadcast(skewed.withColumn("_skew", F.lit(True))),
                      on=conv, how="left")
        df2 = df2.withColumn(
            "_salt",
            F.when(F.col("_skew").isNotNull(),
                   (F.col(order) / F.lit(cfg.salt_block)).cast("int"))
             .otherwise(F.lit(0)))
    else:
        # row-local salt (see EncodeConfig.skew_precount): head of every
        # conversation -> salt 0; tail beyond the threshold -> one salt
        # per salt_block slice. No pre-count scan, no broadcast join.
        df2 = df.withColumn(
            "_salt",
            F.when(F.col(order) < F.lit(cfg.salt_threshold), F.lit(0))
             .otherwise(
                 (F.floor((F.col(order) - F.lit(cfg.salt_threshold))
                          / F.lit(cfg.salt_block)) + 1).cast("int")))
    if cfg.fixed_width_shuffle_key and sort_within:
        # exchange + Tungsten sort on an 8-byte key: the sort prefix IS
        # the whole primary key, so ordering never touches the string
        # payload (see EncodeConfig.fixed_width_shuffle_key). Conversations
        # stay contiguous (64-bit hash); decode order comes from the keys.
        df2 = df2.withColumn("_ck", F.xxhash64(F.col(conv)))
        out = df2.repartition(cfg.n_partitions, F.col("_ck"), F.col("_salt"))
        out = out.sortWithinPartitions(F.col("_ck"), F.col(order))
        return out.drop("_skew", "_salt", "_ck")
    out = df2.repartition(cfg.n_partitions, F.col(conv), F.col("_salt"))
    if sort_within:
        out = out.sortWithinPartitions(*cfg.sort_keys)
    return out.drop("_skew", "_salt")


def encode_table(spark: SparkSession, df: DataFrame, out_dir: str,
                 cfg: EncodeConfig | None = None,
                 fingerprint: str = "") -> DataFrame:
    """Encode df into block files under out_dir; returns the manifest DF
    (already persisted to out_dir/manifest as parquet)."""
    cfg = cfg or EncodeConfig()
    missing = [c for c in (cfg.conv_key, *cfg.sort_keys)
               if c not in df.columns]
    if missing:
        raise ValueError(
            f"encode keys {missing} not in input columns {df.columns}; "
            "set conv_key/sort_keys/order_key in EncodeConfig")
    arranged = salted_repartition(df, cfg,
                                  sort_within=not cfg.sort_in_kernel)
    return _encode_arranged(
        spark, df, arranged, out_dir, cfg, fingerprint,
        kernel_sort_keys=cfg.sort_keys if cfg.sort_in_kernel else None)


def _encode_arranged(spark: SparkSession, df: DataFrame,
                     arranged: DataFrame, out_dir: str, cfg: EncodeConfig,
                     fingerprint: str,
                     kernel_sort_keys: tuple[str, ...] | None = None,
                     extra_meta: dict | None = None) -> DataFrame:
    """Shuffle-path encode: write meta.json, run the chunking/codec kernel
    over an already-arranged DataFrame (caller controls partitioning and
    within-partition order), then the shared encode tail."""
    cfg_hash = cfg.config_hash(fingerprint)
    meta = _write_meta(out_dir, _encode_meta(
        df.schema, cfg, cfg_hash, fingerprint, cfg.n_partitions,
        **(extra_meta or {})))
    tasks = arranged.mapInArrow(
        _encoder(out_dir, cfg_hash, cfg.codec_overrides, cfg.chunk_rows,
                 entropy=cfg.entropy,
                 sort_keys=kernel_sort_keys,
                 prefetch=cfg.prefetch_batches,
                 bloom_cols=cfg.bloom_cols, bloom_bits=cfg.bloom_bits,
                 bloom_hashes=cfg.bloom_hashes),
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


def _write_meta(out_dir: str, meta: dict) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def _encode_tail(spark: SparkSession, out_dir: str, meta: dict,
                 tasks: DataFrame | None,
                 resumed_fragments: tuple[str, ...] = ()) -> DataFrame:
    """Shared encode tail. Runs the encode tasks (each writes the
    manifest fragment of every partition it encodes, see
    _encode_partition_stream and _REPORT_SCHEMA), then makes
    out_dir/manifest hold the current fragments only: the ones the tasks
    reported plus `resumed_fragments`, the fragments of partitions the
    driver did not schedule. Everything else there (superseded
    fragments, a manifest an older encoder wrote) is removed; unlinking
    leaves hardlinked snapshots their bytes.

    The manifest's row and column counts are stamped into meta.json, so
    a predicated decode picks the set-path vs join-path pruning branch
    without a manifest job. Rows come from the fragment footers; every
    chunk emits one row per encoded column, so a fragment whose rows do
    not divide by the column count means a kernel skipped a column and
    raises. The driver handles O(#partitions) names and footers and
    never manifest rows: at scale the manifest is a big table.

    Returns the manifest read with MANIFEST_SCHEMA (no inference job);
    `resumed` is true for every partition this call did not encode."""
    import pyarrow.parquet as pq
    import shutil
    reports = tasks.collect() if tasks is not None else []
    current = set(resumed_fragments) | {r["fragment"] for r in reports}
    encoded = sorted(r["partition_id"] for r in reports if r["encoded"])
    mdir = os.path.join(out_dir, "manifest")
    os.makedirs(mdir, exist_ok=True)
    for name in os.listdir(mdir):
        if name not in current:
            p = os.path.join(mdir, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    n_cols = len(meta["spark_schema"].get("fields", [])) or 1
    n = 0
    for name in sorted(current):
        rows = pq.read_metadata(os.path.join(mdir, name)).num_rows
        if rows % n_cols:
            raise RuntimeError(
                f"manifest fragment {name} holds {rows} rows, not a "
                f"multiple of the {n_cols} encoded columns")
        n += rows
    meta["manifest_rows"] = n
    meta["manifest_columns"] = n_cols
    _write_meta(out_dir, meta)
    resumed = (~F.col("partition_id").isin(encoded) if encoded
               else F.lit(True))
    return (spark.read.schema(MANIFEST_SCHEMA).parquet(mdir)
            .withColumn("resumed", resumed))


def _run_tasks(spark: SparkSession, groups: list, fn, schema: str,
               arrange=None) -> DataFrame:
    """The one way to build a task list: one Spark task per entry of
    `groups`, from spark.range(len(groups)) with the groups closed over
    (a task list built as an RDD of rows measured about twice the
    scheduling cost). fn(group, *extra) yields the task's record
    batches, where `extra` are the columns after `id` that
    arrange(range_df) may add (decode's join-path pruning joins the
    surviving chunk ids on). Every task pins the worker's Arrow threads
    first. `groups` must not be empty."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .runtime import pin_worker_threads
        pin_worker_threads()
        for batch in batches:
            for i, *extra in zip(*(c.to_pylist() for c in batch.columns)):
                yield from fn(groups[i], *extra)

    frame = spark.range(len(groups), numPartitions=len(groups))
    if arrange is not None:
        frame = arrange(frame)
    return frame.mapInArrow(run, schema=schema)


def _pack_by_bytes(items: list, sizes: list[int], n_slots: int) -> list:
    """Pack items into at most n_slots groups balanced by bytes (longest
    first onto the lightest group); each group keeps input order."""
    import heapq
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
    return _encode_arranged(
        spark, df, arranged, out_dir, cfg,
        fingerprint=f"{fingerprint}|zorder:{','.join(zorder_keys)}",
        extra_meta={"zorder_keys": list(zorder_keys)})


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
    tasks. _buckets.json records the bucket count, the key and the
    Spark schema, so maintenance and encodes need no inference job."""
    (df.repartition(n_buckets, F.col(conv_key))
       .write.mode("overwrite").parquet(dest_dir))
    _write_bucket_meta(dest_dir, n_buckets, conv_key, df.schema)
    return dest_dir


def _write_bucket_meta(bucket_dir: str, n_buckets: int, conv_key: str,
                       schema: StructType) -> None:
    with open(os.path.join(bucket_dir, "_buckets.json"), "w") as f:
        json.dump({"n_buckets": n_buckets, "conv_key": conv_key,
                   "spark_schema": _file_schema(schema)}, f)


def _file_schema(schema: StructType) -> dict:
    """`schema` as Spark reads it back from parquet files (jsonValue
    form): every field, array element and map value nullable."""
    def walk(t):
        if not isinstance(t, dict):
            return t
        t = dict(t)
        if t["type"] == "struct":
            t["fields"] = [dict(f, nullable=True, type=walk(f["type"]))
                           for f in t["fields"]]
        elif t["type"] == "array":
            t.update(containsNull=True, elementType=walk(t["elementType"]))
        elif t["type"] == "map":
            t.update(valueContainsNull=True, keyType=walk(t["keyType"]),
                     valueType=walk(t["valueType"]))
        return t
    return walk(schema.jsonValue())


def _bucket_layout(spark: SparkSession,
                   bucket_dir: str) -> tuple[dict, StructType]:
    """(_buckets.json, Spark schema) of a bucket layout. The schema is
    the recorded one; a layout without it (written before it was
    recorded, or by hand without _buckets.json) falls back to inference,
    which costs one Spark job."""
    try:
        with open(os.path.join(bucket_dir, "_buckets.json")) as f:
            bmeta = json.load(f)
    except FileNotFoundError:
        bmeta = {}
    if "spark_schema" in bmeta:
        return bmeta, StructType.fromJson(bmeta["spark_schema"])
    return bmeta, spark.read.parquet(bucket_dir).schema


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
    O(k bucket files), not a table rewrite. File replacement is
    per-bucket atomic (tmp + rename), same semantics as compaction.
    Runs as merge_bucketized with every row an upsert."""
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
    parquet file (schema kept) rather than removed: bucket ids are
    positional in encode_table_prebucketed's sorted path list, so
    dropping a file would shift every later bucket's partition id and
    invalidate their resume markers. The following
    encode_table_prebucketed run re-encodes only the rewritten files;
    an emptied bucket encodes to zero chunks and its stale block file is
    unlinked (hardlinked snapshots keep the old bytes — see
    snapshot_table). At 10^12-turn scale this is the GDPR-erasure /
    retention path: deleting k conversations costs O(k bucket files),
    not a table rewrite. Runs as merge_bucketized with every key a
    delete."""
    bmeta, schema = _bucket_layout(spark, bucket_dir)
    # merge reads table-shaped rows: the key plus NULL for every column
    rows = keys.select(*[
        F.col(f.name) if f.name == bmeta["conv_key"]
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields])
    return merge_bucketized(
        spark, rows.withColumn(_MERGE_OP, F.lit("delete")), bucket_dir,
        op_col=_MERGE_OP)


_MERGE_OP = "__merge_op"


def merge_bucketized(spark: SparkSession, changes: DataFrame,
                     bucket_dir: str, op_col: str = "_op") -> list[int]:
    """Full MERGE INTO at bucket-file grain, one rewrite pass: `changes`
    carries the table columns plus an op column with value 'upsert'
    (replace the whole conversation, or insert it if absent) or
    'delete' (remove the whole conversation; its other columns are
    ignored). Returns the affected bucket ids.

    Semantically MERGE WHEN MATCHED [UPDATE|DELETE] / WHEN NOT MATCHED
    INSERT, specialized to whole-conversation grain — the natural merge
    unit for a transcript table, where 'update' means 'the conversation
    continued / was redacted' and arrives as its full new row set.

    upsert_bucketized and delete_bucketized are its one-op cases. One
    pass: a bucket receiving both ops is read once, merged once,
    installed once (tmp + rename, same atomicity as compaction), and the
    plan is one small collect of the (op, bucket) pairs. Routing is the
    shared pmod(murmur3, n) invariant, on the key type _buckets.json
    records; emptied buckets keep an empty schema file so positional
    bucket ids stay stable; only affected buckets are touched so a
    k-conversation merge costs O(k bucket files) at 10^12-turn scale,
    and the following encode_table_prebucketed run re-encodes only
    those files.
    """
    import re as _re
    import uuid as _uuid
    import pyarrow.parquet as pq
    bmeta, schema = _bucket_layout(spark, bucket_dir)
    n, conv_key = bmeta["n_buckets"], bmeta["conv_key"]
    changes = changes.withColumn(
        conv_key, F.col(conv_key).cast(schema[conv_key].dataType))
    bid = F.pmod(F.hash(F.col(conv_key)), F.lit(n))
    # the whole plan in one job: every (op, bucket) pair
    plan = changes.select(op_col, bid.alias("b")).distinct().collect()
    bad = {r[0] for r in plan} - {"upsert", "delete"}
    if bad:
        raise ValueError(f"unknown merge op(s) {sorted(bad, key=str)}; "
                         "expected 'upsert' or 'delete'")
    upserts = changes.filter(F.col(op_col) == "upsert").drop(op_col)
    by_num: dict[int, str] = {}
    for p in os.listdir(bucket_dir):
        m = _re.match(r"part-(\d{5})-.*\.parquet$", p)
        if m:
            by_num[int(m.group(1))] = os.path.join(bucket_dir, p)
    # delete-only buckets matter only if they exist on disk
    affected = sorted({r["b"] for r in plan
                       if r[0] == "upsert" or r["b"] in by_num})
    if not affected:
        return []
    old_files = [by_num[b] for b in affected if b in by_num]
    # every key of either op leaves the old file; upserts re-enter below
    touched_keys = changes.select(conv_key).distinct()
    base = (spark.read.schema(schema).parquet(*old_files)
            if old_files else upserts.limit(0))
    merged = (base.join(F.broadcast(touched_keys), conv_key, "left_anti")
                  .unionByName(upserts.select(*base.columns)))
    tmp = os.path.join(bucket_dir, f"_merge_tmp_{_uuid.uuid4().hex[:8]}")
    # same repartition -> partition i == bucket i == tmp part-{i:05d}
    merged.repartition(n, F.col(conv_key)).write.parquet(tmp)
    by_tmp: dict[int, str] = {}
    for p in os.listdir(tmp):
        m = _re.match(r"part-(\d{5})-.*\.parquet$", p)
        if m:
            by_tmp[int(m.group(1))] = os.path.join(tmp, p)
    stamp = _uuid.uuid4().hex[:8]
    for b in affected:
        new = os.path.join(bucket_dir, f"part-{b:05d}-mrg{stamp}.parquet")
        tf = by_tmp.get(b)
        has_rows = (tf is not None
                    and pq.ParquetFile(tf).metadata.num_rows > 0)
        if has_rows:
            os.replace(tf, new)
        elif b in by_num:
            # bucket fully deleted: keep an empty schema file so
            # positional bucket ids stay stable
            pq.write_table(pq.read_schema(by_num[b]).empty_table(), new)
        else:
            # never existed and ends empty (delete of an absent key
            # routed here alongside an upsert elsewhere): nothing to do
            continue
        old = by_num.get(b)
        if old and os.path.exists(old):
            os.remove(old)
    import shutil
    shutil.rmtree(tmp, ignore_errors=True)
    return affected


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
    part-{id:05d}-*.parquet, ids positional in sorted order, empty new
    buckets simply absent (same as a repartition write)."""
    import re as _re
    import shutil
    import uuid as _uuid
    import pyarrow.parquet as _pq
    if factor < 2 or int(factor) != factor:
        raise ValueError(f"factor must be an integer >= 2, got {factor}")
    bmeta, schema = _bucket_layout(spark, bucket_dir)
    n, conv_key = bmeta["n_buckets"], bmeta["conv_key"]
    m = n * int(factor)
    df = spark.read.schema(schema).parquet(bucket_dir)
    os.makedirs(dest_dir, exist_ok=True)
    tmp = os.path.join(dest_dir, f"_rebucket_tmp_{_uuid.uuid4().hex[:8]}")
    (df.withColumn("__nb", F.pmod(F.hash(F.col(conv_key)), F.lit(m)))
       .write.partitionBy("__nb").parquet(tmp))
    stamp = _uuid.uuid4().hex[:8]
    for d in os.listdir(tmp):
        mt = _re.match(r"__nb=(\d+)$", d)
        if not mt:
            continue
        b = int(mt.group(1))
        files = sorted(p for p in os.listdir(os.path.join(tmp, d))
                       if p.endswith(".parquet"))
        dest = os.path.join(dest_dir, f"part-{b:05d}-rbk{stamp}.parquet")
        if len(files) == 1:
            os.replace(os.path.join(tmp, d, files[0]), dest)
        elif files:
            # an input file larger than maxPartitionBytes was split
            # across tasks, so this new bucket arrived in pieces —
            # concatenate row groups (no decode of column data)
            tabs = [_pq.read_table(os.path.join(tmp, d, p)) for p in files]
            _pq.write_table(pa.concat_tables(tabs), dest)
    shutil.rmtree(tmp, ignore_errors=True)
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
    import shutil
    snap = os.path.join(out_dir, "snapshots", tag)
    if os.path.exists(snap):
        raise ValueError(f"snapshot {tag!r} already exists at {snap}")
    src_blk = os.path.join(out_dir, "blocks")
    src_man = os.path.join(out_dir, "manifest")
    if not (os.path.isdir(src_man)
            and os.path.exists(os.path.join(out_dir, "meta.json"))):
        raise ValueError(f"{out_dir} is not an encoded table "
                         "(missing manifest/ or meta.json)")

    def _link_tree(src: str, dst: str):
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            s = os.path.join(src, name)
            if not os.path.isfile(s):
                continue
            d = os.path.join(dst, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)

    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if os.path.isdir(src_blk):
        _link_tree(src_blk, os.path.join(tmp, "blocks"))
    _link_tree(src_man, os.path.join(tmp, "manifest"))
    shutil.copy2(os.path.join(out_dir, "meta.json"),
                 os.path.join(tmp, "meta.json"))
    # publish atomically: a crashed snapshot leaves only a .tmp dir
    os.rename(tmp, snap)
    return snap


def list_snapshots(out_dir: str) -> list[str]:
    """Snapshot tags of an encoded table, sorted."""
    d = os.path.join(out_dir, "snapshots")
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
    import shutil
    gone = []
    for tag in list_snapshots(out_dir):
        if tag not in keep:
            shutil.rmtree(os.path.join(out_dir, "snapshots", tag))
            gone.append(tag)
    return gone


def snapshot_diff(spark: SparkSession, out_dir: str, tag: str,
                  key_cols: list[str] | None = None) -> DataFrame:
    """Changed-data capture between a snapshot and the live table:
    returns the row-level diff as the live rows not in the snapshot
    (change_type='insert') plus the snapshot rows no longer live
    ('delete') — an UPDATE appears as delete+insert, the standard CDC
    decomposition.

    Scale path: the two manifests are joined chunk-by-chunk on
    (partition_id, chunk_id) and a partition whose every chunk CRC
    matches is skipped ENTIRELY — neither side's block file is read.
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
    snap = os.path.join(out_dir, "snapshots", tag)
    if not os.path.isdir(snap):
        raise ValueError(f"no snapshot {tag!r} under {out_dir}")
    live_man = (spark.read.parquet(os.path.join(out_dir, "manifest"))
                .select("partition_id", "chunk_id", "crc32").distinct())
    snap_man = (spark.read.parquet(os.path.join(snap, "manifest"))
                .select("partition_id", "chunk_id",
                        F.col("crc32").alias("crc32_s")).distinct())
    joined = live_man.join(snap_man, ["partition_id", "chunk_id"], "full")
    changed = (joined.filter(F.col("crc32").isNull()
                             | F.col("crc32_s").isNull()
                             | (F.col("crc32") != F.col("crc32_s")))
               .select("partition_id").distinct())
    # one id per changed partition: bounded by #buckets, tiny collect
    parts = sorted(r["partition_id"] for r in changed.collect())
    live = decode_table(spark, out_dir, partitions=parts)
    old = decode_table(spark, snap, partitions=parts)
    for f in live.schema.fields:            # align evolved columns
        if f.name not in old.columns:
            old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
    old = old.select(*live.columns)
    ins = live.exceptAll(old).withColumn("change_type", F.lit("insert"))
    del_ = old.exceptAll(live).withColumn("change_type", F.lit("delete"))
    return ins.unionByName(del_)


def _normalize_arrow_units(tbl: pa.Table) -> pa.Table:
    """Cast non-µs timestamp columns (e.g. ns from INT96 parquet) to µs —
    the unit Spark's Arrow transfer uses — so blocks encoded from a direct
    pyarrow read are byte-compatible with the shuffle path's."""
    fields, changed = [], False
    for f in tbl.schema:
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            fields.append(pa.field(f.name, pa.timestamp("us", f.type.tz)))
            changed = True
        else:
            fields.append(f)
    return tbl.cast(pa.schema(fields)) if changed else tbl


def encode_table_prebucketed(spark: SparkSession, input_dir: str,
                             out_dir: str, cfg: EncodeConfig | None = None,
                             fingerprint: str = "",
                             per_file_fingerprint: bool = True) -> DataFrame:
    """Shuffle-free encode over a PRE-BUCKETED parquet layout: each task
    encodes a group of bucket files; the kernel reads each file
    in-process with pyarrow, sorts by sort_keys (Arrow C++ sort_indices),
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

    The driver plans the tasks. Checkpoint/resume is per bucket file (the
    same markers as the shuffle path): a file whose marker and manifest
    fragment both exist is not scheduled at all, so a fully resumed call
    runs no Spark job for the encode. The remaining files are packed into
    at most defaultParallelism tasks, balanced by file bytes, which keeps
    the per-task fixed cost to one wave however many files there are. A
    task killed partway through its group leaves the files it finished
    committed; a re-run schedules only the rest.

    per_file_fingerprint=True (default) keys each file's resume marker by
    (config, file name, size, mtime) instead of one whole-input
    fingerprint — INCREMENTAL ENCODE: when the bucketed table grows,
    re-running encodes only the new/changed bucket files and resumes
    every untouched one. Assumes an append-only layout (existing files
    keep their sorted position; new files sort after them, as Spark
    part-file naming does) — if files are renamed or reordered, use a
    fresh out_dir."""
    cfg = cfg or EncodeConfig()
    paths = sorted(os.path.join(input_dir, p) for p in os.listdir(input_dir)
                   if p.endswith(".parquet"))
    if not paths:
        raise ValueError(f"no .parquet bucket files under {input_dir}")
    _, schema = _bucket_layout(spark, input_dir)
    missing = [c for c in (cfg.conv_key, *cfg.sort_keys)
               if c not in schema.names]
    if missing:
        raise ValueError(f"encode keys {missing} not in input columns "
                         f"{schema.names}")
    cfg_hash = cfg.config_hash(fingerprint)
    meta = _write_meta(out_dir, _encode_meta(
        schema, cfg, cfg_hash, fingerprint, len(paths), prebucketed=True))

    stats = [os.stat(p) for p in paths]
    if per_file_fingerprint:
        # nanosecond mtime: a bucket file rewritten within the same
        # second with unchanged size (deterministic re-bucketize) must
        # NOT resume stale blocks
        fps = [hashlib.md5(f"{cfg_hash}:{os.path.basename(p)}:{st.st_size}:"
                           f"{st.st_mtime_ns}".encode()).hexdigest()[:12]
               for p, st in zip(paths, stats)]
    else:
        fps = [cfg_hash] * len(paths)

    def _listing(sub):
        d = os.path.join(out_dir, sub)
        return set(os.listdir(d)) if os.path.isdir(d) else set()
    markers, fragments = _listing("checkpoints"), _listing("manifest")
    resumed, todo, todo_sizes = [], [], []
    for pid, (path, fp) in enumerate(zip(paths, fps)):
        if (_marker_name(pid, fp) in markers
                and _fragment_name(pid, fp) in fragments):
            resumed.append(_fragment_name(pid, fp))
        else:
            todo.append((pid, path, fp))
            todo_sizes.append(stats[pid].st_size)
    groups = _pack_by_bytes(todo, todo_sizes,
                            spark.sparkContext.defaultParallelism)

    overrides, chunk_rows = cfg.codec_overrides, cfg.chunk_rows
    entropy, sort_keys = cfg.entropy, cfg.sort_keys
    bloom_cols, bloom_bits = cfg.bloom_cols, cfg.bloom_bits
    bloom_hashes = cfg.bloom_hashes

    def encode_group(group) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        def lazy_batches(path):
            # generator: the parquet read happens only if the marker
            # check inside _encode_partition_stream does NOT resume (a
            # marker can appear after planning). Spark writes INT96
            # timestamps that pyarrow reads as ns; normalize to the µs
            # unit Spark's own Arrow bridge uses so decoded blocks
            # round-trip through mapInArrow unchanged.
            tbl = _normalize_arrow_units(pq.read_table(path))
            yield from tbl.to_batches()

        done = []
        for pid, path, fp in group:
            encoded = _encode_partition_stream(
                pid, lazy_batches(path), out_dir, fp, overrides,
                chunk_rows, entropy, sort_keys, bloom_cols, bloom_bits,
                bloom_hashes)
            done.append((pid, _fragment_name(pid, fp), encoded))
        yield _report(done)

    tasks = (_run_tasks(spark, groups, encode_group, _REPORT_SCHEMA)
             if groups else None)
    return _encode_tail(spark, out_dir, meta, tasks, tuple(resumed))


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
    output. Distributed: one task per output file; the driver only
    handles the O(#files) grouping metadata."""
    import glob
    metas = []
    for d in src_dirs:
        with open(os.path.join(d, "meta.json")) as f:
            metas.append(json.load(f))
    # ADDITIVE schema merge (Iceberg-style evolution): later epochs may
    # add columns; same-named fields must keep their type. Blocks from
    # epochs that predate a column decode it as NULL (decode_table's
    # missing_ok + conform path).
    merged_fields: list = []
    seen: dict[str, dict] = {}
    for d, m in zip(src_dirs, metas):
        for fld in m["spark_schema"]["fields"]:
            prev = seen.get(fld["name"])
            if prev is None:
                seen[fld["name"]] = fld
                merged_fields.append(fld)
            elif prev["type"] != fld["type"]:
                raise ValueError(
                    f"type conflict for column {fld['name']!r}: "
                    f"{prev['type']} vs {fld['type']} ({d})")
    merged_schema = dict(metas[0]["spark_schema"], fields=merged_fields)

    # deterministic (src file -> output group) assignment + chunk offsets
    entries = []  # (path, chunk_count)
    for d in src_dirs:
        man = spark.read.parquet(os.path.join(d, "manifest"))
        counts = {int(r["partition_id"]): int(r["n"]) for r in
                  (man.groupBy("partition_id")
                      .agg((F.max("chunk_id") + 1).alias("n")).collect())}
        for p in sorted(glob.glob(os.path.join(d, "blocks", "*.ssb"))):
            pid = _block_pid(p)
            entries.append((d, pid, p, counts.get(pid, 0)))
    if not entries:
        raise ValueError("no block files under src_dirs")

    groups: list[list] = [entries[i:i + group_size]
                          for i in range(0, len(entries), group_size)]
    os.makedirs(os.path.join(out_dir, "blocks"), exist_ok=True)
    meta = dict(metas[0])
    meta["spark_schema"] = merged_schema
    meta["n_partitions"] = len(groups)
    meta["compacted_from"] = len(entries)
    # a compaction mixing any pre-upgrade source inherits the weakest
    # stats contract — datetime zone pruning then stays disabled for it
    meta["stats_version"] = min(m.get("stats_version", 0) for m in metas)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)

    blk_dir = os.path.join(out_dir, "blocks")

    def concat(task) -> Iterator[pa.RecordBatch]:
        gid, srcs = task
        dst = os.path.join(blk_dir, f"part-{gid:05d}.ssb")
        tmp = dst + ".tmp"
        with open(tmp, "wb") as out:
            for p in srcs:
                with open(p, "rb") as src:
                    while True:
                        buf = src.read(1 << 22)
                        if not buf:
                            break
                        out.write(buf)
        os.replace(tmp, dst)
        return iter(())

    _run_tasks(spark, [(gid, [p for _d, _p, p, _n in grp])
                       for gid, grp in enumerate(groups)],
               concat, "done int").collect()

    # merged manifest: rewrite (partition_id, chunk_id) via a tiny
    # broadcast mapping (O(#src files) rows)
    map_rows = []
    for gid, grp in enumerate(groups):
        off = 0
        for d, pid, _p, n_chunks in grp:
            map_rows.append((d, pid, gid, off))
            off += n_chunks
    mdf = F.broadcast(spark.createDataFrame(
        map_rows, "src_dir string, partition_id int, new_pid int, "
                  "chunk_off int"))
    merged = None
    for d in src_dirs:
        man = (spark.read.parquet(os.path.join(d, "manifest"))
               .withColumn("src_dir", F.lit(d)))
        merged = (man if merged is None
                  else merged.unionByName(man, allowMissingColumns=True))
    out_man = (merged.join(mdf, ["src_dir", "partition_id"], "inner")
               .withColumn("partition_id", F.col("new_pid"))
               .withColumn("chunk_id", F.col("chunk_id")
                           + F.col("chunk_off"))
               .drop("src_dir", "new_pid", "chunk_off"))
    out_man.write.mode("overwrite").parquet(os.path.join(out_dir, "manifest"))
    return spark.read.parquet(os.path.join(out_dir, "manifest"))


def _normalize_predicates(predicate) -> list[tuple]:
    """Predicates, ANDed: each is a range (col, lo, hi) or a membership
    (col, [v1, v2, ...]) — the 2-tuple form prunes like the union of
    point lookups (zone range over min/max of the set, bloom OR over the
    members) and filters with IN. Bounds/members must be
    int/float/str/datetime/date — anything else raises instead of
    silently mispruning (zone-map comparison against an unexpected
    literal type could drop chunks the residual filter can never
    restore)."""
    import datetime as _dt

    def check(pcol, v):
        if not isinstance(v, (int, float, str, _dt.date, _dt.datetime)):
            raise TypeError(
                f"predicate bound for {pcol!r} must be int/float/str/"
                f"datetime/date, got {type(v).__name__}")

    if predicate is None:
        return []
    preds = [predicate] if isinstance(predicate, tuple) else list(predicate)
    out = []
    for p in preds:
        if len(p) == 2:
            pcol, values = p
            values = sorted(set(values))
            if not values:
                raise ValueError(f"empty IN-list for {pcol!r}")
            for v in values:
                check(pcol, v)
            if len({isinstance(v, str) for v in values}) > 1:
                raise TypeError(f"IN-list for {pcol!r} mixes string and "
                                f"non-string types")
            out.append((pcol, values))
            continue
        pcol, lo, hi = p
        check(pcol, lo)
        check(pcol, hi)
        if isinstance(lo, str) != isinstance(hi, str):
            raise TypeError(f"predicate bounds for {pcol!r} mix string and "
                            f"non-string types")
        out.append((pcol, lo, hi))
    return out


def _bound_ns(v, widen: int, tz=None):
    """Datetime/date bound -> ns-since-epoch (the unit _zone_stats
    normalizes timestamp zone maps to), widened OUTWARD by one second in
    the `widen` direction (-1 for lower bounds, +1 for upper) so timezone
    /float rounding in the conversion can only ever keep extra chunks —
    the residual filter re-applies the exact predicate after decode.
    Numbers/strings pass through unchanged.

    NAIVE datetimes are wall times in the SPARK SESSION timezone (that is
    what the exact residual filter compares under), so the caller passes
    the session tz as a tzinfo; with tz=None a naive bound is widened by
    the full ±26h tz-offset envelope instead — pruning weakens but can
    never drop a chunk the residual filter would keep. Aware datetimes
    are exact instants either way."""
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            if tz is not None:
                v = v.replace(tzinfo=tz)
            else:
                # unknown session tz: cover every real-world offset
                widen = widen * 26 * 3600
        ns = int(v.timestamp()) * 10 ** 9 + v.microsecond * 10 ** 3
        return ns + widen * 10 ** 9
    if isinstance(v, _dt.date):
        epoch_days = (v - _dt.date(1970, 1, 1)).days
        # cover the bound's whole day, then one day outward — a full day
        # of widening already covers any session-tz offset (max ±14h)
        return (epoch_days + (1 if widen > 0 else 0) + widen) * 86_400 * 10 ** 9
    return v


def _session_tz(spark: SparkSession):
    """The Spark session timezone as a tzinfo, or None if unresolvable
    (callers then widen naive bounds by the full offset envelope)."""
    try:
        from zoneinfo import ZoneInfo
        name = spark.conf.get("spark.sql.session.timeZone")
        return ZoneInfo(name) if name else None
    except Exception:
        return None


def _b64_lut():
    import numpy as np
    t = np.zeros(256, dtype=np.uint32)
    alphabet = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                "abcdefghijklmnopqrstuvwxyz0123456789+/")
    for i, c in enumerate(alphabet):
        t[ord(c)] = i
    return t


_B64_LUT = _b64_lut()


def _b64_byte_gather(data, starts, group_idx, byte_in_group):
    """Decoded byte extraction straight out of base64 TEXT: decoded byte
    j lives in 4-char group j//3 at offset j%3; one vectorized LUT gather
    per char. Lets the bloom probe read only the handful of bytes each
    probe position touches — probe cost independent of blob size."""
    import numpy as np
    base = starts + np.int64(4) * group_idx
    word = ((_B64_LUT[data[base]] << np.uint32(18))
            | (_B64_LUT[data[base + 1]] << np.uint32(12))
            | (_B64_LUT[data[base + 2]] << np.uint32(6))
            | _B64_LUT[data[base + 3]])
    shift = (np.uint32(16) - np.uint32(8) * byte_in_group.astype(np.uint32))
    return ((word >> shift) & np.uint32(0xFF)).astype(np.uint8)


def bloom_probe_b64(arr: "pa.Array | pa.ChunkedArray",
                    values: list) -> "object":
    """Vectorized membership probe over a base64 bloom column: bool numpy
    mask, True where the chunk MAY contain any of `values` (NULL blob =
    no stats = True). Never materializes the decoded blobs — per probe
    position it gathers the single 4-char base64 group holding the target
    byte (LUT decode), so cost is O(rows x values x k) gathers regardless
    of bitset size. Bit math matches _bloom_member exactly (power-of-two
    sizes: mod-2^64 wraparound + mask == exact mod)."""
    import numpy as np
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.offset != 0:                    # normalize sliced arrays
        arr = pa.concat_arrays([arr])
    n = len(arr)
    keep_mask = np.zeros(n, dtype=bool)
    if n == 0:
        return keep_mask
    validity = np.asarray(arr.is_valid())
    keep_mask[~validity] = True            # no bloom recorded = keep
    rows = np.nonzero(validity)[0]
    if not len(rows):
        return keep_mask
    off_dtype = (np.int64 if pa.types.is_large_string(arr.type)
                 else np.int32)
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype,
                            count=n + 1).astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    starts = offsets[rows]
    ends = offsets[rows + 1]
    lens = ends - starts                   # base64 chars, always 4-aligned
    pad = ((data[ends - 1] == ord("=")).astype(np.int64)
           + (data[ends - 2] == ord("=")).astype(np.int64))
    dec_len = (lens // 4) * 3 - pad        # bytes: 1 header + bitset
    nbits_mask = ((dec_len - 1).astype(np.uint64) << np.uint64(3)) \
        - np.uint64(1)                     # n_bits is a power of two
    k_arr = _b64_byte_gather(data, starts, np.int64(0),
                             np.zeros(len(rows), dtype=np.int64)) \
        .astype(np.uint64)
    kmax = int(k_arr.max())
    sub_keep = np.zeros(len(rows), dtype=bool)
    for v in values:
        h1, h2 = _bloom_hash2(v)
        # progressive short-circuit: probe bit i for all still-alive rows
        # only — a non-member usually fails on the first probe, so the
        # expected gathers/row is ~1.4, not k (same trick the scalar
        # all() uses, kept vectorized)
        alive = np.nonzero(~sub_keep)[0]
        for i in range(kmax):
            if not len(alive):
                break
            done = k_arr[alive] <= np.uint64(i)   # all their probes passed
            if done.any():
                sub_keep[alive[done]] = True
                alive = alive[~done]
                if not len(alive):
                    break
            # scalar wraparound in Python ints (numpy warns on scalar
            # uint64 overflow even though the wrap is the point)
            hh = np.uint64((h1 + i * h2) & _MASK64)
            p = hh & nbits_mask[alive]
            j = np.int64(1) + (p >> np.uint64(3)).astype(np.int64)
            byte = _b64_byte_gather(data, starts[alive], j // 3, j % 3)
            hit = (byte & (np.uint8(1)
                           << (p & np.uint64(7)).astype(np.uint8))) != 0
            alive = alive[hit]
        sub_keep[alive] = True                    # survived every probe
    keep_mask[rows[sub_keep]] = True
    return keep_mask


def _bloom_filter_chunks(man_sel: DataFrame, values: list) -> DataFrame:
    """Keep manifest rows whose chunk bloom may contain ANY of `values`
    (NULL bloom = no stats = always kept). Runs as mapInArrow over the
    manifest so blobs are probed executor-side — at 10^12-turn scale the
    manifest is itself a big table and the blobs must never be
    collected. The probe itself is bloom_probe_b64: batched base64-text
    gathers, no per-row Python, no blob materialization."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .runtime import pin_worker_threads
        pin_worker_threads()
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            keep_mask = bloom_probe_b64(tbl.column("bloom_b64"), values)
            sel = pa.array(keep_mask)
            yield pa.RecordBatch.from_arrays(
                [tbl.column("partition_id").filter(sel).combine_chunks()
                 .cast(pa.int32()),
                 tbl.column("chunk_id").filter(sel).combine_chunks()
                 .cast(pa.int32())],
                ["partition_id", "chunk_id"])

    return (man_sel.select("partition_id", "chunk_id", "bloom_b64")
            .mapInArrow(run, schema="partition_id int, chunk_id int"))


def _pruned_chunks(spark: SparkSession, out_dir: str,
                   predicates: list[tuple]) -> dict[int, set] | None:
    """Chunks whose zone maps can satisfy EVERY (col, lo, hi) range
    (inclusive bounds, conjunction): {partition_id: set(chunk_id)}.
    Chunks without stats (old manifests, unsupported types) are always
    kept — pruning is only ever an optimization, never a correctness
    gate. Returns None when no manifest exists. Driver-side: O(#chunks)
    tiny rows; for extreme chunk counts push the same overlap filter
    into a join against the block scan instead."""
    sels = _pred_survivor_dfs(spark, out_dir, predicates)
    if sels is None:
        return None
    keep: dict[int, set] | None = None
    for sel in sels:
        rows = sel.select("partition_id", "chunk_id").distinct().collect()
        this: dict[int, set] = {}
        for r in rows:
            this.setdefault(r["partition_id"], set()).add(r["chunk_id"])
        if keep is None:
            keep = this
        else:  # conjunction: a chunk survives only if every range allows it
            keep = {pid: keep[pid] & cs for pid, cs in this.items()
                    if pid in keep}
            keep = {pid: cs for pid, cs in keep.items() if cs}
    # None = no predicate could use stats (e.g. datetime predicates on a
    # pre-upgrade manifest): decode everything. {} = stats genuinely rule
    # out every chunk.
    return keep


def _pred_survivor_dfs(spark: SparkSession, out_dir: str,
                       predicates: list[tuple]) -> list[DataFrame] | None:
    """One (partition_id, chunk_id) survivor DataFrame per usable
    predicate — shared by the driver-side set path (_pruned_chunks) and
    the join path (_pruned_chunks_df). None when there is no manifest or
    no predicate can use the stats."""
    mpath = os.path.join(out_dir, "manifest")
    if not os.path.isdir(mpath):
        return None
    man = spark.read.parquet(mpath)
    tz = _session_tz(spark)
    # pre-upgrade manifests (no stats_version marker and none of the
    # columns that shipped with the ns normalization) store datetime zone
    # maps in raw Arrow units (µs) — comparing ns bounds against them
    # would prune EVERY chunk and silently return zero rows, so datetime
    # predicates simply don't prune there (residual filter stays exact)
    try:
        with open(os.path.join(out_dir, "meta.json")) as f:
            _meta = json.load(f)
    except OSError:
        _meta = {}
    ns_stats = (_meta.get("stats_version", 0) >= 2
                or "vsum_int" in man.columns or "n_nulls" in man.columns)
    # bloom blobs are only probeable if they were built with the CURRENT
    # hash family (stats_version >= 3): probing an older blob with a
    # different hash produces false NEGATIVES — silently dropped rows —
    # the one failure mode pruning must never have
    blooms_ok = _meta.get("stats_version", 0) >= 3
    # TIMESTAMP_NTZ zone maps hold WALL-CLOCK ns (no instant semantics):
    # naive bounds must convert as-if-UTC — resolving them in a non-UTC
    # session tz would shift bounds by the offset and prune chunks the
    # residual filter keeps. Aware bounds against NTZ can't prune safely.
    ntz_cols: set = set()
    try:
        sch = StructType.fromJson(_meta["spark_schema"])
        ntz_cols = {f.name for f in sch.fields
                    if f.dataType.typeName() == "timestamp_ntz"}
    except Exception:
        pass
    import datetime as _dt
    sels: list[DataFrame] = []
    for pred in predicates:
        bound0 = pred[1][0] if len(pred) == 2 else pred[1]
        if isinstance(bound0, (_dt.date, _dt.datetime)) and not ns_stats:
            continue
        pred_tz = tz
        if pred[0] in ntz_cols and isinstance(bound0, _dt.datetime):
            if bound0.tzinfo is not None:
                continue          # aware bound vs wall-clock stats: skip
            pred_tz = _dt.timezone.utc      # naive == wall-clock ns
        if len(pred) == 2:      # membership: union of point lookups
            pcol, values = pred
            lo, hi = values[0], values[-1]          # sorted by normalize
            bloom_values = [v for v in values
                            if isinstance(v, (int, str))
                            and not isinstance(v, bool)]
            bloomable = len(bloom_values) == len(values)
        else:
            pcol, lo, hi = pred
            bloom_values = [lo]
            bloomable = (lo == hi and isinstance(lo, (int, str))
                         and not isinstance(lo, bool))
        is_str = isinstance(lo, str)
        # datetime/date bounds -> the ns-since-epoch unit _zone_stats
        # normalizes timestamp zone maps to, widened outward (a raw
        # timestamp literal would compare in epoch SECONDS and silently
        # prune every chunk); naive bounds resolve in the SESSION tz —
        # the same clock the residual filter compares under
        lo, hi = _bound_ns(lo, -1, pred_tz), _bound_ns(hi, +1, pred_tz)
        vmin = F.col("vmin_str") if is_str else F.col("vmin_num")
        vmax = F.col("vmax_str") if is_str else F.col("vmax_num")
        keep_cond = (vmin.isNull() | vmax.isNull()
                     | ((vmax >= F.lit(lo)) & (vmin <= F.lit(hi))))
        sel = man.filter(F.col("column") == pcol).filter(keep_cond)
        if bloomable and blooms_ok and "bloom_b64" in man.columns:
            # point lookup(s): probe the per-chunk blooms DISTRIBUTED (the
            # blobs never reach the driver — only surviving ids do); a
            # chunk survives if ANY member may be present
            sel = _bloom_filter_chunks(sel, bloom_values)
        sels.append(sel.select("partition_id", "chunk_id").distinct())
    return sels or None


def _pruned_chunks_df(spark: SparkSession, out_dir: str,
                      predicates: list[tuple]) -> DataFrame | None:
    """JOIN-path twin of _pruned_chunks for EXTREME chunk counts: the
    surviving (partition_id, chunk_id) ids never reach the driver.
    Per-predicate survivor sets intersect via inner joins (conjunction),
    then collapse to one row per partition carrying its surviving chunk
    ids as an array — the decode task list joins against this on
    partition_id, so a partition pruned to zero chunks never even
    schedules a task. Returns (partition_id int, wanted array<int>), or
    None when stats are unusable (decode everything)."""
    from functools import reduce
    sels = _pred_survivor_dfs(spark, out_dir, predicates)
    if sels is None:
        return None
    surv = reduce(lambda a, b: a.join(b, ["partition_id", "chunk_id"]), sels)
    return (surv.groupBy("partition_id")
            .agg(F.collect_set("chunk_id").alias("wanted")))


def _decode_ranges(spark: SparkSession, out_dir: str, paths: list[str],
                   keep: dict[int, set] | None) -> list[tuple]:
    """Decode tasks as (block path, first chunk id, end chunk id). Fewer
    files than task slots (few big files after compaction, or a pruned
    read that survives in one file) would serialize decode on one task
    each, so their chunks split into ranges and every core gets work.
    Range tasks walk headers to their start (cheap) and whole-file reads
    dedup through the OS page cache. With set-path pruning the ranges
    cover only the surviving chunk ids; otherwise the per-file chunk
    counts come from one manifest job."""
    par = spark.sparkContext.defaultParallelism
    whole = [(p, 0, 1 << 30) for p in paths]
    if len(paths) >= par:
        return whole
    if keep is not None:
        chunk_ids = {pid: sorted(cs) for pid, cs in keep.items()}
    else:
        mdir = os.path.join(out_dir, "manifest")
        if not os.path.isdir(mdir):
            return whole
        chunk_ids = {int(r["partition_id"]): range(int(r["n"])) for r in
                     spark.read.parquet(mdir).groupBy("partition_id")
                     .agg((F.max("chunk_id") + 1).alias("n")).collect()}
    total = sum(len(chunk_ids.get(_block_pid(p), ())) for p in paths)
    if not total:
        return whole
    step = max(1, total // max(2 * par, len(paths)))
    ranges = []
    for p in paths:
        ids = chunk_ids.get(_block_pid(p))
        if not ids:
            ranges.append((p, 0, 1 << 30))
            continue
        for s in range(0, len(ids), step):
            seg = ids[s:s + step]
            ranges.append((p, seg[0], seg[-1] + 1))
    return ranges


def decode_table(spark: SparkSession, out_dir: str,
                 columns: list[str] | None = None,
                 predicate: tuple | None = None,
                 join_prune_threshold: int = 200_000,
                 partitions: list[int] | None = None) -> DataFrame:
    """Stream block files back into a DataFrame (schema from meta.json).

    columns: project at the BLOCK layer — unneeded column frames are
    skipped by length arithmetic, their payloads never touched (the
    engine-side analogue of parquet column pruning).
    predicate: one (col, lo, hi) inclusive range or (col, [v1, v2, ...])
    membership, or a list of them (conjunction) — whole chunks whose
    zone maps can't overlap every predicate are skipped without decoding
    (manifest min/max, the row-group-stats analogue), then the exact
    filters (range / IN) are re-applied to decoded rows so results are
    precise regardless of stats. Bounds may be numeric, string, or
    datetime/date (converted to the zone maps' ns-since-epoch unit,
    widened outward). An equality lookup is the (col, v, v) range; when
    the table was encoded with that column in EncodeConfig.bloom_cols,
    per-chunk bloom filters additionally prune chunks whose min/max span
    the value(s) — the point/IN-lookup path for non-sort columns.
    Int/string predicates are additionally evaluated INSIDE the decode
    kernel (late materialization): predicate columns decode first, a
    chunk with zero matches never decodes its remaining columns, and
    non-matching rows never cross the Python->JVM boundary; float/
    datetime predicates rely on the Spark residual filter only.
    partitions: decode only these partition ids' block files (the
    snapshot_diff CDC path reads only changed partitions)."""
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    schema = StructType.fromJson(meta["spark_schema"])
    predicates = _normalize_predicates(predicate)
    extra_pred_cols: list[str] = []  # decoded only to evaluate predicates
    if columns is not None:
        for pred in predicates:
            pcol = pred[0]
            if pcol not in columns:
                columns = list(columns) + [pcol]
                extra_pred_cols.append(pcol)
    if columns is not None:
        missing = [c for c in columns if c not in schema.names]
        if missing:
            raise KeyError(f"columns {missing} not in encoded schema "
                           f"{schema.names}")
        schema = StructType([f for f in schema.fields
                             if f.name in set(columns)])
    # chunk pruning: below join_prune_threshold estimated chunks the
    # surviving ids collect to the driver as tiny sets (one closure, no
    # extra join); above it they stay distributed — the survivor DF joins
    # against the decode task list so the driver never materializes
    # O(#chunks) state (at 10^12-turn scale the manifest itself is big)
    keep: dict[int, set] | None = None
    wanted_df = None
    if predicates:
        mdir = os.path.join(out_dir, "manifest")
        big = False
        if os.path.isdir(mdir):
            if "manifest_rows" in meta:
                # stamped at encode time: no Spark job on the hot path
                big = (meta["manifest_rows"]
                       // max(meta.get("manifest_columns", 1), 1)
                       ) > join_prune_threshold
            else:  # pre-stamp manifest: measure once per decode
                r = (spark.read.parquet(mdir)
                     .agg(F.count("*").alias("n"),
                          F.countDistinct("column").alias("c"))
                     .collect()[0])
                big = (r["n"] // max(r["c"], 1)) > join_prune_threshold
        if big:
            wanted_df = _pruned_chunks_df(spark, out_dir, predicates)
        else:
            keep = _pruned_chunks(spark, out_dir, predicates)
    blk_dir = os.path.join(out_dir, "blocks")
    paths = (sorted(os.path.join(blk_dir, p) for p in os.listdir(blk_dir)
                    if p.endswith(".ssb"))
             if os.path.isdir(blk_dir) else [])
    if partitions is not None:
        # partition-subset decode (snapshot_diff's CDC path): only the
        # named partitions' block files are read at all
        want_p = set(partitions)
        paths = [p for p in paths if _block_pid(p) in want_p]
    if keep is not None:
        # set-path pruning: a block file with no surviving chunk is not
        # scheduled at all
        paths = [p for p in paths if keep.get(_block_pid(p))]

    # kernel-safe predicates: int/string bounds are exact in Arrow (same
    # binary/UTF-8 order as Spark), so they can be evaluated INSIDE the
    # decode kernel — late materialization: the cheap predicate columns
    # decode first, chunks with zero matches never decode their text, and
    # non-matching rows never cross the Python->JVM boundary. Float and
    # datetime predicates stay Spark-side only (residual filter), so
    # semantics are always Spark's.
    def _kernel_safe(p):
        vals = p[1] if len(p) == 2 else p[1:]
        return all(isinstance(v, (int, str)) and not isinstance(v, bool)
                   for v in vals)
    ksafe = [p for p in predicates if _kernel_safe(p)]
    pred_cols = sorted({p[0] for p in ksafe})

    def decode(task, wanted_ids=None) -> Iterator[pa.RecordBatch]:
        # task: (block path, first chunk id, end chunk id); join-path
        # pruning passes the partition's surviving chunk ids, the set
        # path closes over `keep`
        import pyarrow.compute as pc
        from .codecs import block_span
        from pyspark.sql.pandas.types import to_arrow_type
        target = [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]

        def conform(tbl: pa.Table) -> pa.Table:
            # additive schema evolution + stable column order: blocks
            # encoded before a column existed fill it with NULLs; output
            # always matches the declared schema order
            if tbl.column_names == [n for n, _t in target]:
                return tbl
            cols = [tbl.column(n) if n in tbl.column_names
                    else pa.nulls(tbl.num_rows, t) for n, t in target]
            return pa.table(dict(zip([n for n, _t in target], cols)))

        def kmask(ptbl: pa.Table):
            m = None
            for p in ksafe:
                col = ptbl.column(p[0])
                if len(p) == 2:
                    c = pc.is_in(col, value_set=pa.array(p[1])
                                 .cast(col.type))
                else:
                    c = pc.and_kleene(
                        pc.greater_equal(col, pa.scalar(p[1])
                                         .cast(col.type)),
                        pc.less_equal(col, pa.scalar(p[2]).cast(col.type)))
                m = c if m is None else pc.and_kleene(m, c)
            return pc.fill_null(m, False)

        path, lo_c, hi_c = task
        if wanted_ids is not None:
            wanted = set(wanted_ids)
        else:
            wanted = None if keep is None else keep.get(_block_pid(path),
                                                        set())
        with open(path, "rb") as f:
            buf = f.read()
        off, chunk_id = 0, 0
        while off < len(buf):
            if chunk_id >= hi_c:
                break                   # past this task's range
            if chunk_id < lo_c or (wanted is not None
                                   and chunk_id not in wanted):
                off += block_span(buf, off)   # pruned: header walk
                chunk_id += 1
                continue
            if ksafe:
                try:
                    # phase 1: predicate columns only
                    ptbl, span = decode_block(buf, off, columns=pred_cols)
                    mask = kmask(ptbl)
                    if not pc.any(mask).as_py():
                        off += span        # chunk has no matches:
                        chunk_id += 1      # text never decoded
                        continue
                    full, _ = decode_block(buf, off, columns=columns,
                                           missing_ok=True)
                    off += span
                    chunk_id += 1
                    yield from conform(full).filter(mask).to_batches()
                    continue
                except (KeyError, pa.lib.ArrowInvalid,
                        pa.lib.ArrowNotImplementedError):
                    pass   # e.g. evolved block lacking the pred
                    # column, or an uncastable literal: fall back
                    # to full decode + Spark residual filter
            tbl, used = decode_block(buf, off, columns=columns,
                                     missing_ok=True)
            off += used
            chunk_id += 1
            yield from conform(tbl).to_batches()

    if not paths:
        out = spark.createDataFrame([], schema)
    else:
        ranges = _decode_ranges(spark, out_dir, paths, keep)
        arrange = None
        if wanted_df is not None:
            # distributed pruning: inner-join the task list against the
            # surviving-chunk arrays on each task's partition id —
            # fully-pruned partitions drop out of the task list here,
            # before any task is scheduled. No forced broadcast: AQE
            # picks one when the survivor side is small; at extreme
            # chunk counts the arrays stay executor-side.
            pids = ",".join(str(_block_pid(p)) for p, _lo, _hi in ranges)

            def arrange(frame):
                return (frame.withColumn("partition_id", F.expr(
                            f"element_at(array({pids}), int(id) + 1)"))
                        .join(wanted_df, "partition_id")
                        .select("id", "wanted"))
        out = _run_tasks(spark, ranges, decode, schema, arrange)
    import datetime as _dt
    ntz = {f.name for f in schema.fields
           if f.dataType.typeName() == "timestamp_ntz"}

    def _plit(pcol, v):
        # a naive datetime bound against a TIMESTAMP_NTZ column must
        # compare WALL-CLOCK (F.lit alone builds an LTZ literal, making
        # the comparison session-tz-dependent — and the zone-map pruning
        # already resolved the same bound as wall-clock ns)
        if (pcol in ntz and isinstance(v, _dt.datetime)
                and v.tzinfo is None):
            # via the wall-clock STRING: string->NTZ parsing is
            # session-independent, while lit(datetime) builds its
            # instant under a tz the later LTZ->NTZ cast may not match
            return F.lit(v.isoformat(sep=" ")).cast("timestamp_ntz")
        return F.lit(v)

    for pred in predicates:
        if len(pred) == 2:
            out = out.filter(F.col(pred[0]).isin(*pred[1]))
        else:
            pcol, lo, hi = pred
            out = out.filter((F.col(pcol) >= _plit(pcol, lo))
                             & (F.col(pcol) <= _plit(pcol, hi)))
    if extra_pred_cols:   # callers asked for columns=, not the predicate col
        out = out.drop(*extra_pred_cols)
    return out


def manifest_summary(manifest: DataFrame) -> DataFrame:
    """Per-(partition, column) metrics rollup from the lineage manifest:
    codec histogram, bytes in/out, rows, and encode throughput — the
    engine's per-partition metrics surface (Spy/benchmark-listener
    analogue, spy.h:36-57)."""
    return (manifest.groupBy("partition_id", "column", "codec")
            .agg(F.sum("n_rows").alias("rows"),
                 F.sum("bytes_in").alias("bytes_in"),
                 F.sum("bytes_out").alias("bytes_out"),
                 F.sum("encode_sec").alias("encode_sec"))
            .withColumn("rows_per_sec",
                        F.when(F.col("encode_sec") > 0,
                               F.round(F.col("rows") / F.col("encode_sec"), 1)))
            .withColumn("ratio",
                        F.round(F.col("bytes_out") / F.col("bytes_in"), 4)))


def manifest_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """METADATA-ONLY aggregation: per-column COUNT / COUNT(col) / MIN /
    MAX / SUM computed purely from the manifest — zero block payloads
    touched. The Iceberg/Snowflake stats-only query path: at 10^12 turns
    a `SELECT count(*), min(ts), max(ts), sum(n_tokens)` costs one
    manifest scan, not a table decode.

    Exactness: counts are exact (n_rows/n_nulls per chunk); SUM is exact
    for integer/boolean columns (per-chunk int64 sums, NULL when any
    chunk lacked one — overflow, float column, or pre-upgrade manifest);
    MIN/MAX come from the zone maps, exact for numerics up to 2^53
    (conservatively widened beyond — consumers needing certainty beyond
    that must decode), string bounds exact. Timestamp bounds are in
    ns-since-epoch. Whole-table only: stats of a FILTERED read must go
    through decode_table (pruned chunk supersets would overcount)."""
    man = spark.read.parquet(os.path.join(out_dir, "manifest"))
    has_sum = "vsum_int" in man.columns
    vsum = (F.when(F.max(F.col("vsum_int").isNull().cast("int")) == 0,
                   F.sum("vsum_int"))
            if has_sum else F.lit(None).cast("long"))
    n_nulls = (F.sum("n_nulls") if "n_nulls" in man.columns
               else F.lit(None).cast("long"))
    return (man.groupBy("column")
            .agg(F.sum("n_rows").alias("n_rows"),
                 n_nulls.alias("n_nulls"),
                 F.min("vmin_num").alias("min_num"),
                 F.max("vmax_num").alias("max_num"),
                 F.min("vmin_str").alias("min_str"),
                 F.max("vmax_str").alias("max_str"),
                 vsum.alias("sum_int"))
            .withColumn("n_values", F.col("n_rows") - F.coalesce(
                F.col("n_nulls"), F.lit(0))))


def validate_blocks(spark: SparkSession, out_dir: str) -> DataFrame:
    """Integrity audit: recompute each chunk's crc32 from the block files
    and compare against the lineage manifest. Returns a DataFrame of
    (partition_id, chunk_id, ok, crc_actual, crc_expected); corrupt or
    missing chunks have ok = false. Distributed: one task per block file."""
    manifest = spark.read.parquet(os.path.join(out_dir, "manifest"))
    expected = (manifest.select("partition_id", "chunk_id", "crc32")
                .distinct())
    blk_dir = os.path.join(out_dir, "blocks")
    paths = (sorted(os.path.join(blk_dir, p) for p in os.listdir(blk_dir)
                    if p.endswith(".ssb")) if os.path.isdir(blk_dir) else [])

    def scan(path) -> Iterator[pa.RecordBatch]:
        from .codecs import block_span
        pid = _block_pid(path)
        with open(path, "rb") as f:
            buf = f.read()
        off, chunk_id = 0, 0
        pids, cids, crcs = [], [], []
        while off < len(buf):
            try:
                span = block_span(buf, off)
            except ValueError:   # corrupt magic: flag and stop
                pids.append(pid); cids.append(chunk_id); crcs.append(-1)
                break
            pids.append(pid)
            cids.append(chunk_id)
            crcs.append(zlib.crc32(buf[off:off + span]) & 0xFFFFFFFF)
            off += span
            chunk_id += 1
        yield pa.RecordBatch.from_pydict({
            "partition_id": pa.array(pids, pa.int32()),
            "chunk_id": pa.array(cids, pa.int32()),
            "crc_actual": pa.array(crcs, pa.int64()),
        })

    report = "partition_id int, chunk_id int, crc_actual long"
    actual = (_run_tasks(spark, paths, scan, report) if paths
              else spark.createDataFrame([], report))
    joined = expected.withColumnRenamed("crc32", "crc_expected") \
        .join(actual, ["partition_id", "chunk_id"], "full_outer")
    return joined.withColumn(
        "ok", F.col("crc_actual").eqNullSafe(F.col("crc_expected")))


def roundtrip_mismatch_count(src: DataFrame, decoded: DataFrame,
                             keys: tuple[str, ...] = ("conv_id", "turn_idx"),
                             value_col: str = "text") -> int:
    """Distributed bit-identity check under stable key ordering: full outer
    join on keys; count rows missing on either side or differing in value."""
    k = list(keys)
    a = src.select(*k, F.col(value_col).alias("_va"))
    b = decoded.select(*k, F.col(value_col).alias("_vb"))
    j = a.join(b, on=k, how="full_outer")
    bad = j.filter(~F.col("_va").eqNullSafe(F.col("_vb")))
    return bad.count()
