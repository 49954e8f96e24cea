"""The manifest-stats contract: the manifest schema and its version, the
per-chunk zone maps (min/max, exact int sum, null count) and bloom
filters the encode kernel records, and the one unit rule both sides use
(timestamp zone maps and datetime predicate bounds are ns since epoch).
Readers probe what writers built here; a change to any of it bumps
STATS_VERSION (CLAUDE.md).
"""

from __future__ import annotations

import base64
import datetime as _dt
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)


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


_BLOOM_BITS = 16384                 # minimum bitset: 2 KiB/chunk-column
_BLOOM_HASHES = 5
_BLOOM_MAX_BITS = 1 << 20           # 128 KiB/chunk-column hard cap
_BLOOM_BITS_PER_KEY = 12            # ~0.3% FPR at the sized load


def _splitmix64_np(x):
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


def _b64_lut():
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
