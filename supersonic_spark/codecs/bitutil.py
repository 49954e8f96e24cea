"""Bit-packing primitives (vectorized numpy; no per-element Python).

The n-bit packed integer representation is the engine's analogue of
Supersonic's packed bit arrays (reference:
supersonic/base/infrastructure/bit_pointers.h:17-37), generalized from
1-bit bools to n-bit unsigned integers for frame-of-reference encoding.
"""

from __future__ import annotations

import struct

import numpy as np

_U64 = struct.Struct("<Q")
_I64 = struct.Struct("<q")


def bit_width(max_val: int) -> int:
    """Number of bits needed to represent max_val (0 -> 0 bits)."""
    return int(max_val).bit_length()


def _container_dtype(width: int) -> tuple[int, str]:
    if width <= 8:
        return 8, ">u1"
    if width <= 16:
        return 16, ">u2"
    if width <= 32:
        return 32, ">u4"
    return 64, ">u8"


# below this width the per-bit loop beats the container path (measured
# crossover ~7: the container always unpacks 8/16/32/64 bit columns, so
# at tiny widths it does more memory traffic than <=6 shift/and passes)
_PER_BIT_MAX_WIDTH = 6


def pack_uints(vals: np.ndarray, width: int) -> bytes:
    """Pack unsigned ints into `width` bits each (big-endian within value).

    vals must be uint64 and < 2**width. width == 0 encodes to b"".
    Hybrid kernel, bit-identical either way: narrow widths use an
    O(width)-pass shift/and fill; wider values cast to the smallest
    big-endian container, unpackbits once (C speed), keep the low
    `width` bit columns, packbits — measured 2.2-6.7x faster than the
    per-bit loop for width >= 10 (the former #2 encode hotspot).
    """
    if width == 0 or len(vals) == 0:
        return b""
    n = len(vals)
    if width <= _PER_BIT_MAX_WIDTH:
        v = np.ascontiguousarray(vals).astype(np.uint8, copy=False)
        bits = np.empty((n, width), dtype=np.uint8)
        for j in range(width):
            np.bitwise_and(v >> np.uint8(width - 1 - j), np.uint8(1),
                           out=bits[:, j])
        return np.packbits(bits.reshape(-1)).tobytes()
    cont, dt = _container_dtype(width)
    b = np.ascontiguousarray(np.asarray(vals).astype(dt, copy=False))
    bits = np.unpackbits(b.view(np.uint8)).reshape(n, cont)
    return np.packbits(bits[:, cont - width:]).tobytes()


def unpack_uints(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of pack_uints; returns uint64 array of length n."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    total_bits = n * width
    raw = np.frombuffer(buf, dtype=np.uint8, count=(total_bits + 7) // 8)
    cont, dt = _container_dtype(width)
    bits = np.zeros((n, cont), dtype=np.uint8)
    bits[:, cont - width:] = np.unpackbits(raw, count=total_bits) \
        .reshape(n, width)
    packed = np.packbits(bits.reshape(-1))
    return packed.view(dt).astype(np.uint64)


def _le_container(width: int) -> str:
    if width <= 8:
        return "<u1"
    if width <= 16:
        return "<u2"
    if width <= 32:
        return "<u4"
    return "<u8"


def pack_uints_sliced(vals: np.ndarray, width: int) -> bytes:
    """Byte-sliced packing for width >= 8: width = 8k + r stores k raw
    little-endian byte planes (pure memcpy) plus an r-bit packed top
    plane. Identical total size to pack_uints — n*width bits — but the
    memory traffic is ~n*(k+1) bytes instead of the container path's
    ~2*cont*n unpackbits/packbits round (measured ~7-10x faster at
    width 9, the tokdict index hot path)."""
    n = len(vals)
    if n == 0:
        return b""
    k, r = divmod(width, 8)
    b = (np.ascontiguousarray(np.asarray(vals).astype(_le_container(width),
                                                      copy=False))
         .view(np.uint8).reshape(n, -1))
    parts = [b[:, j].tobytes() for j in range(k)]
    if r:
        parts.append(pack_uints(b[:, k].astype(np.uint64, copy=False), r))
    return b"".join(parts)


def _unpack_u8(buf: bytes, n: int, width: int) -> np.ndarray:
    """width <= 8 unpack returning uint8 (skips the u64 widening)."""
    total_bits = n * width
    raw = np.frombuffer(buf, dtype=np.uint8, count=(total_bits + 7) // 8)
    bits = np.zeros((n, 8), dtype=np.uint8)
    bits[:, 8 - width:] = np.unpackbits(raw, count=total_bits).reshape(n, width)
    return np.packbits(bits.reshape(-1))


def unpack_uints_sliced(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of pack_uints_sliced; returns uint64 array of length n.
    Assembles the output's little-endian byte planes in place (one u8
    column write per plane — no widen/shift/or round trips); assumes a
    little-endian host, as the rest of the codec layer already does."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    k, r = divmod(width, 8)
    ob = np.zeros((n, 8), dtype=np.uint8)
    off = 0
    for j in range(k):
        ob[:, j] = np.frombuffer(buf, dtype=np.uint8, count=n, offset=off)
        off += n
    if r:
        ob[:, k] = _unpack_u8(buf[off:], n, r)
    return ob.view("<u8").ravel()


_SLICED = 0x80   # width-byte flag: the payload is byte-sliced


def pack_uints_tagged(vals: np.ndarray, width: int) -> tuple[int, bytes]:
    """(width byte, payload): the one packing decision of the integer
    codecs. Width >= 8 uses the byte-sliced layout (same size, far less
    memory traffic) and sets the width byte's high bit, so frames from
    before the sliced layout stay self-describing and decodable."""
    if width >= 8:
        return width | _SLICED, pack_uints_sliced(vals, width)
    return width, pack_uints(vals, width)


def unpack_uints_tagged(buf: bytes, n: int, wbyte: int) -> np.ndarray:
    """Inverse of pack_uints_tagged; returns uint64 array of length n.
    Both layouts hold n * width bits, ceil(n * width / 8) bytes."""
    un = unpack_uints_sliced if wbyte & _SLICED else unpack_uints
    return un(buf, n, wbyte & ~_SLICED)


def zigzag_encode(vals: np.ndarray) -> np.ndarray:
    """Map signed int64 -> uint64 so small-magnitude values stay small."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def zigzag_decode(vals: np.ndarray) -> np.ndarray:
    u = np.ascontiguousarray(vals, dtype=np.uint64)
    return ((u >> np.uint64(1)).view(np.int64)) ^ -((u & np.uint64(1)).view(np.int64))


def pack_ints_block(vals: np.ndarray) -> bytes:
    """Self-describing FOR + bit-pack block for an integer array.

    Layout: [i64 ref][u64 n][u8 width][packed bits]. Used internally by
    dict/rle/fsst/tokdict payloads for index and length arrays. Keeps the
    input's narrow dtype through the subtraction when the range allows —
    int64 promotion of multi-million-token index arrays was a top
    memory-bandwidth consumer. The width byte is pack_uints_tagged's.
    """
    v = np.ascontiguousarray(vals)
    n = len(v)
    if n == 0:
        return _I64.pack(0) + _U64.pack(0) + b"\x00"
    ref = int(v.min())
    value_range = int(v.max()) - ref
    width = bit_width(value_range)
    if v.dtype == np.int32 and value_range < 2**31:
        deltas = (v - np.int32(ref)).view(np.uint32)
    elif v.dtype == np.int64:
        deltas = (v - np.int64(ref)).view(np.uint64)
    else:
        deltas = (v.astype(np.int64) - ref).view(np.uint64)
    wbyte, payload = pack_uints_tagged(deltas, width)
    return _I64.pack(ref) + _U64.pack(n) + bytes([wbyte]) + payload


def unpack_ints_block(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """Inverse of pack_ints_block. Returns (int64 array, bytes consumed)."""
    ref = _I64.unpack_from(buf, offset)[0]
    n = _U64.unpack_from(buf, offset + 8)[0]
    wbyte = buf[offset + 16]
    nbytes = (n * (wbyte & ~_SLICED) + 7) // 8
    payload = buf[offset + 17 : offset + 17 + nbytes]
    vals = unpack_uints_tagged(payload, n, wbyte).view(np.int64) + ref
    return vals.astype(np.int64), 17 + nbytes
