"""Self-describing encoded column / block framing.

A column chunk frames as:
    [b"SC"][u8 version=1][u8 typecode][u8 codec_id][u8 flags]
    [u64 row_count]
    [validity bitmap, ceil(n/8) bytes, iff flags&1]     (1 = valid, Arrow-style)
    [u64 payload_len][payload]

When flags&2 the payload passed through an optional general-compression
outer stage (Parquet-style encoding+compression layering) and reads as
    [u8 backend_id][u64 raw_len][compressed bytes]
The stage is only kept when it actually shrinks the payload (>=10%), so a
frame is never worse than the bare codec; decode is self-describing.

Nulls are compacted out before the codec runs (the codec sees only dense
values) and scattered back on decode — the analogue of Supersonic's separate
per-column is_null vectors (reference: supersonic/base/infrastructure/
block.h:117-127) combined with selection-vector late materialization
(reference: supersonic/cursor/core/filter.cc:170-199).

A block (all columns of a chunk of rows) frames as:
    [b"SSBK"][u16 n_cols][u64 row_count]
    per column: [u16 name_len][name utf8][u64 col_len][column frame]
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pyarrow as pa

from . import kernels
from .kernels import CODEC_NAMES, decode_values, encode_values, typecode_of

_U64 = struct.Struct("<Q")
_U16 = struct.Struct("<H")

_MAGIC_COL = b"SC"
_MAGIC_BLOCK = b"SSBK"
# v1: codec payloads only; v2 adds the optional entropy outer stage
# (flags&2). Writers emit v2; decoders accept both, so pre-entropy frames
# stay readable and a v1-only decoder rejects v2 frames cleanly instead of
# misreading a staged payload.
_VERSION = 2
_DECODABLE_VERSIONS = (1, 2)
_FLAG_HAS_NULLS = 1
_FLAG_ENTROPY = 2
_KNOWN_FLAGS = _FLAG_HAS_NULLS | _FLAG_ENTROPY

ENTROPY_IDS = {"lz4": 1, "zstd": 2, "gzip": 3}
ENTROPY_NAMES = {v: k for k, v in ENTROPY_IDS.items()}
_ENTROPY_MIN_BYTES = 256   # tiny payloads aren't worth a header + dict cost
_ENTROPY_KEEP = 0.90       # keep the stage only if it removes >=10%
_codec_cache: dict[str, "pa.Codec"] = {}


def _entropy_codec(name: str) -> "pa.Codec":
    c = _codec_cache.get(name)
    if c is None:
        c = _codec_cache[name] = pa.Codec(name)
    return c


def entropy_compress(payload: bytes, entropy: str) -> bytes | None:
    """Outer-stage compress; None when the stage doesn't pay for itself."""
    if len(payload) < _ENTROPY_MIN_BYTES:
        return None
    comp = _entropy_codec(entropy).compress(payload, asbytes=True)
    if len(comp) + 9 >= _ENTROPY_KEEP * len(payload):
        return None
    return bytes([ENTROPY_IDS[entropy]]) + _U64.pack(len(payload)) + comp


def validate_entropy(entropy: str | None) -> None:
    """Fail fast on unknown entropy backends (a typo like 'snappy' would
    otherwise only surface as a KeyError deep inside executor tasks)."""
    if entropy is not None and entropy not in ENTROPY_IDS:
        raise ValueError(f"unknown entropy backend {entropy!r}; "
                         f"expected one of {sorted(ENTROPY_IDS)} or None")


def encode_column(arr: pa.Array | pa.ChunkedArray, codec: str,
                  entropy: str | None = None) -> bytes:
    validate_entropy(entropy)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    typecode = typecode_of(arr.type)
    n = len(arr)
    has_nulls = arr.null_count > 0
    flags = _FLAG_HAS_NULLS if has_nulls else 0

    if has_nulls:
        valid = np.asarray(arr.is_valid())
        validity = np.packbits(valid).tobytes()
        dense = arr.drop_null()
    else:
        validity = b""
        dense = arr
    if codec == "constant" and len(dense) == 0:
        codec = "plain"
    payload = encode_values(dense, codec, typecode)
    if entropy is not None:
        staged = entropy_compress(payload, entropy)
        if staged is not None:
            flags |= _FLAG_ENTROPY
            payload = staged
    head = (_MAGIC_COL + bytes([_VERSION, typecode, kernels.CODEC_IDS[codec], flags])
            + _U64.pack(n))
    return head + validity + _U64.pack(len(payload)) + payload


def decode_column(buf: bytes, offset: int = 0) -> tuple[pa.Array, int]:
    """Returns (array, bytes consumed)."""
    if buf[offset:offset + 2] != _MAGIC_COL:
        raise ValueError("bad column magic")
    version, typecode, codec_id, flags = buf[offset + 2:offset + 6]
    if version not in _DECODABLE_VERSIONS:
        raise ValueError(f"unsupported column frame version {version}")
    if flags & ~_KNOWN_FLAGS:
        raise ValueError(f"unknown column frame flags 0x{flags:02x}")
    n = _U64.unpack_from(buf, offset + 6)[0]
    off = offset + 14
    valid = None
    if flags & _FLAG_HAS_NULLS:
        nbytes = (n + 7) // 8
        valid = np.unpackbits(
            np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=off),
            count=n).astype(bool)
        off += nbytes
    payload_len = _U64.unpack_from(buf, off)[0]
    off += 8
    payload = buf[off:off + payload_len]
    off += payload_len
    if flags & _FLAG_ENTROPY:
        raw_len = _U64.unpack_from(payload, 1)[0]
        payload = _entropy_codec(ENTROPY_NAMES[payload[0]]).decompress(
            payload[9:], raw_len, asbytes=True)
    n_dense = n if valid is None else int(valid.sum())
    dense = decode_values(payload, n_dense, codec_id, typecode)

    if valid is None:
        return dense, off - offset
    # scatter dense values back to full length; null take-index -> null value
    idx = np.zeros(n, dtype=np.int64)
    idx[valid] = np.arange(n_dense, dtype=np.int64)
    take_idx = pa.array(idx, type=pa.int64(), mask=~valid)
    scattered = dense.take(take_idx) if n_dense > 0 else pa.nulls(n, dense.type)
    return scattered, off - offset


def encode_block(batch: pa.RecordBatch | pa.Table, codecs: dict[str, str],
                 entropy: str | None = None) -> bytes:
    """Encode all columns of a row chunk; codecs maps column name -> codec."""
    names = batch.schema.names
    out = bytearray(_MAGIC_BLOCK)
    out += _U16.pack(len(names))
    out += _U64.pack(batch.num_rows)
    for name in names:
        col = batch.column(names.index(name)) if isinstance(batch, pa.RecordBatch) else batch.column(name)
        frame = encode_column(col, codecs[name], entropy=entropy)
        nb = name.encode("utf-8")
        out += _U16.pack(len(nb)) + nb + _U64.pack(len(frame)) + frame
    return bytes(out)


def _block_frames(buf: bytes, offset: int = 0
                  ) -> tuple[list[tuple[str, int, int]], int]:
    """The one header walk of the block frame at `offset`: each column's
    (name, frame offset, frame length) in block order, and the block's
    total byte span. Reads headers only, never a payload. Raises
    ValueError on bad magic or when a header or a column frame runs past
    the end of `buf` (a truncated block)."""
    end = len(buf)

    def need(at: int, n: int, what: str) -> None:
        if at + n > end:
            raise ValueError(f"truncated block: {what} at byte {at} runs "
                             f"past the end of the buffer ({end} bytes)")

    if buf[offset:offset + 4] != _MAGIC_BLOCK:
        raise ValueError("bad block magic")
    need(offset, 14, "block header")
    n_cols = _U16.unpack_from(buf, offset + 4)[0]
    off = offset + 14  # skip row_count (redundant with column frames)
    frames = []
    for _ in range(n_cols):
        need(off, 2, "column header")
        nlen = _U16.unpack_from(buf, off)[0]
        need(off, 2 + nlen + 8, "column header")
        name = buf[off + 2:off + 2 + nlen].decode("utf-8")
        clen = _U64.unpack_from(buf, off + 2 + nlen)[0]
        off += 2 + nlen + 8
        need(off, clen, f"column frame {name!r}")
        frames.append((name, off, clen))
        off += clen
    return frames, off - offset


def decode_block(buf: bytes, offset: int = 0,
                 columns: list[str] | None = None,
                 missing_ok: bool = False) -> tuple[pa.Table, int]:
    """Decode one block frame. With `columns`, only the named columns are
    decoded — other column frames are SKIPPED by length arithmetic
    without touching their payloads (projection pushdown into the block
    layout; the per-column [name, length, frame] framing exists exactly
    so a reader can seek past columns it doesn't need). The returned
    table preserves the block's column order restricted to `columns`.
    missing_ok=True returns only the columns present instead of raising —
    the additive-schema-evolution read path (blocks encoded before a
    column existed; the caller fills NULLs). Bytes consumed always
    covers the whole block."""
    frames, span = _block_frames(buf, offset)
    wanted = None if columns is None else set(columns)
    names, arrays = [], []
    for name, off, clen in frames:
        if wanted is None or name in wanted:
            arr, used = decode_column(buf, off)
            if used != clen:
                raise ValueError(f"column frame length mismatch for {name!r}: "
                                 f"header says {clen}, frame holds {used}")
            names.append(name)
            arrays.append(arr)
    if wanted is not None and len(names) < len(wanted) and not missing_ok:
        missing = sorted(wanted - set(names))
        raise KeyError(f"columns {missing} not present in block")
    return pa.table(dict(zip(names, arrays))), span


def block_span(buf: bytes, offset: int = 0) -> int:
    """Total byte length of the block frame at `offset`, found by walking
    the per-column length headers only — the cheap skip used by chunk
    pruning (zone maps) and the crc audit."""
    return _block_frames(buf, offset)[1]


def iter_block_spans(buf: bytes) -> Iterator[tuple[int, int]]:
    """(offset, span) of each block in a block file's bytes, in chunk
    order — the one walk over a file that decode and the crc audit
    share. Raises ValueError at the first bad or truncated block."""
    off = 0
    while off < len(buf):
        span = block_span(buf, off)
        yield off, span
        off += span


def block_column_sizes(buf: bytes, offset: int = 0) -> dict[str, int]:
    """Encoded byte size of each column frame in the block at `offset`."""
    return {name: clen for name, _off, clen in _block_frames(buf, offset)[0]}


def block_codec_report(buf: bytes, offset: int = 0) -> dict[str, str]:
    """Which codec each column of a block used (for lineage/manifest);
    entropy-staged frames report as e.g. "tokdict+zstd"."""
    report = {}
    for name, off, _clen in _block_frames(buf, offset)[0]:
        codec = CODEC_NAMES[buf[off + 4]]
        flags = buf[off + 5]
        if flags & _FLAG_ENTROPY:
            n = _U64.unpack_from(buf, off + 6)[0]
            pstart = off + 14 + ((n + 7) // 8 if flags & _FLAG_HAS_NULLS else 0) + 8
            codec = f"{codec}+{ENTROPY_NAMES[buf[pstart]]}"
        report[name] = codec
    return report
