"""Vectorized column codecs: plain, constant, dict, RLE, FOR+bitpack,
delta+bitpack, FSST-style symbol-table text compression.

All kernels are numpy/pyarrow-vectorized (no per-row Python) and operate on
*dense* (null-free) pyarrow arrays; null handling lives in framing.py.

Semantics lineage (what, not how — reference is C++, this is new code):
- dictionary codec  <- Supersonic ENUM attributes: int32 code + symbol table
  (reference: supersonic/base/infrastructure/tuple_schema.h:42-74).
- RLE run detection <- the `Changed` stateful expression (true at run
  boundaries; reference: supersonic/expression/core/stateful_expressions.h:30-39).
- bit-packing       <- packed bit arrays generalized to n bits
  (reference: supersonic/base/infrastructure/bit_pointers.h:17-37).
- plain layout      <- the chunked columnar file format
  (reference: supersonic/cursor/infrastructure/file_io.cc:16-29,122-172).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from .bitutil import (pack_ints_block, pack_uints_tagged, unpack_ints_block,
                      unpack_uints_tagged, zigzag_decode, zigzag_encode)
from .reference_layout import _concat_data, _varlen_lengths

_U64 = struct.Struct("<Q")
_I64 = struct.Struct("<q")

# --- type codes -------------------------------------------------------------

T_INT32, T_INT64, T_FLOAT32, T_FLOAT64, T_BOOL = 3, 4, 5, 6, 7
T_STRING, T_BINARY, T_TIMESTAMP_US, T_DATE32, T_TIMESTAMP_NS = 8, 9, 10, 11, 12
T_VECF32 = 13   # list<float32> — embedding columns

_NUMPY_OF = {
    T_INT32: np.dtype("<i4"), T_INT64: np.dtype("<i8"),
    T_FLOAT32: np.dtype("<f4"), T_FLOAT64: np.dtype("<f8"),
    T_BOOL: np.dtype("?"), T_TIMESTAMP_US: np.dtype("<i8"),
    T_DATE32: np.dtype("<i4"), T_TIMESTAMP_NS: np.dtype("<i8"),
}

_PA_OF = {
    T_INT32: pa.int32(), T_INT64: pa.int64(), T_FLOAT32: pa.float32(),
    T_FLOAT64: pa.float64(), T_BOOL: pa.bool_(), T_STRING: pa.string(),
    T_BINARY: pa.binary(), T_TIMESTAMP_US: pa.timestamp("us"),
    T_DATE32: pa.date32(), T_TIMESTAMP_NS: pa.timestamp("ns"),
}

INT_TYPECODES = {T_INT32, T_INT64, T_TIMESTAMP_US, T_DATE32, T_TIMESTAMP_NS}
VARLEN_TYPECODES = {T_STRING, T_BINARY}


def typecode_of(typ: pa.DataType) -> int:
    if pa.types.is_int32(typ):
        return T_INT32
    if pa.types.is_int64(typ):
        return T_INT64
    if pa.types.is_float32(typ):
        return T_FLOAT32
    if pa.types.is_float64(typ):
        return T_FLOAT64
    if pa.types.is_boolean(typ):
        return T_BOOL
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return T_STRING
    if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return T_BINARY
    if pa.types.is_timestamp(typ):
        if typ.unit == "us":
            return T_TIMESTAMP_US
        if typ.unit == "ns":
            return T_TIMESTAMP_NS
        raise ValueError(f"only timestamp[us]/[ns] supported, got {typ}")
    if pa.types.is_date32(typ):
        return T_DATE32
    if (pa.types.is_list(typ) or pa.types.is_large_list(typ)
            or pa.types.is_fixed_size_list(typ)):
        if pa.types.is_float32(typ.value_type):
            return T_VECF32
        raise ValueError(f"only list<float32> vector columns supported, "
                         f"got {typ}")
    raise ValueError(f"unsupported arrow type for codecs: {typ}")


def _as_numpy(arr: pa.Array, typecode: int) -> np.ndarray:
    """Dense fixed-width arrow array -> little-endian numpy view."""
    if typecode in (T_TIMESTAMP_US, T_TIMESTAMP_NS):
        arr = arr.cast(pa.int64())
    elif typecode == T_DATE32:
        arr = arr.cast(pa.int32())
    return np.ascontiguousarray(arr.to_numpy(zero_copy_only=False)).astype(
        _NUMPY_OF[typecode], copy=False)


def _from_numpy(vals: np.ndarray, typecode: int) -> pa.Array:
    if typecode in (T_TIMESTAMP_US, T_TIMESTAMP_NS):
        unit = "us" if typecode == T_TIMESTAMP_US else "ns"
        return pa.array(vals.astype("<i8"), type=pa.int64()).cast(pa.timestamp(unit))
    if typecode == T_DATE32:
        return pa.array(vals.astype("<i4"), type=pa.int32()).cast(pa.date32())
    return pa.array(vals.astype(_NUMPY_OF[typecode], copy=False), type=_PA_OF[typecode])


def _string_array(lengths: np.ndarray, data: bytes, typecode: int) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    cls = pa.string() if typecode == T_STRING else pa.binary()
    return pa.Array.from_buffers(cls, len(lengths),
                                 [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)])


# --- plain ------------------------------------------------------------------

def encode_plain(arr: pa.Array, typecode: int) -> bytes:
    """Reference chunk layout: varlen -> u64 lengths + concatenated bytes;
    fixed -> raw little-endian array (file_io.cc:122-172)."""
    if typecode in VARLEN_TYPECODES:
        lengths = _varlen_lengths(arr).astype("<u8")
        return lengths.tobytes() + _concat_data(arr)
    return _as_numpy(arr, typecode).tobytes()


def decode_plain(buf: bytes, n: int, typecode: int) -> pa.Array:
    if typecode in VARLEN_TYPECODES:
        lengths = np.frombuffer(buf, dtype="<u8", count=n).astype(np.int64)
        data = buf[8 * n: 8 * n + int(lengths.sum())]
        return _string_array(lengths, data, typecode)
    dt = _NUMPY_OF[typecode]
    return _from_numpy(np.frombuffer(buf, dtype=dt, count=n).copy(), typecode)


# --- constant ---------------------------------------------------------------

def encode_constant(arr: pa.Array, typecode: int) -> bytes:
    return encode_plain(arr.slice(0, 1), typecode)


def decode_constant(buf: bytes, n: int, typecode: int) -> pa.Array:
    one = decode_plain(buf, 1, typecode)
    if n == 0:
        return one.slice(0, 0)
    return one.take(np.zeros(n, dtype=np.int64))


# --- dictionary -------------------------------------------------------------

def encode_dict(arr: pa.Array, typecode: int) -> bytes:
    enc = arr.dictionary_encode()
    idx = enc.indices.to_numpy(zero_copy_only=False)
    dict_payload = encode_plain(enc.dictionary, typecode)
    out = pack_ints_block(idx)
    return (_U64.pack(len(enc.dictionary)) + _U64.pack(len(dict_payload))
            + dict_payload + out)


def decode_dict(buf: bytes, n: int, typecode: int) -> pa.Array:
    n_dict = _U64.unpack_from(buf, 0)[0]
    dlen = _U64.unpack_from(buf, 8)[0]
    dictionary = decode_plain(buf[16:16 + dlen], n_dict, typecode)
    idx, _ = unpack_ints_block(buf, 16 + dlen)
    return dictionary.take(idx)


# --- RLE (dict-backed run-length) --------------------------------------------

def encode_rle(arr: pa.Array, typecode: int) -> bytes:
    """Run-length encode: dictionary + run value indices + run lengths.
    Run boundaries found vectorized (the `Changed` analogue: idx != shift(idx))."""
    enc = arr.dictionary_encode()
    idx = enc.indices.to_numpy(zero_copy_only=False)
    n = len(idx)
    if n == 0:
        starts = np.zeros(0, dtype=np.int64)
    else:
        starts = np.flatnonzero(np.concatenate(([True], idx[1:] != idx[:-1])))
    run_vals = idx[starts] if n else starts
    run_lens = np.diff(np.concatenate((starts, [n]))) if n else starts
    dict_payload = encode_plain(enc.dictionary, typecode)
    vals_block = pack_ints_block(run_vals)
    lens_block = pack_ints_block(run_lens)
    return (_U64.pack(len(enc.dictionary)) + _U64.pack(len(dict_payload)) + dict_payload
            + _U64.pack(len(vals_block)) + vals_block + lens_block)


def decode_rle(buf: bytes, n: int, typecode: int) -> pa.Array:
    n_dict = _U64.unpack_from(buf, 0)[0]
    dlen = _U64.unpack_from(buf, 8)[0]
    off = 16
    dictionary = decode_plain(buf[off:off + dlen], n_dict, typecode)
    off += dlen
    vlen = _U64.unpack_from(buf, off)[0]
    off += 8
    run_vals, _ = unpack_ints_block(buf, off)
    off += vlen
    run_lens, _ = unpack_ints_block(buf, off)
    idx = np.repeat(run_vals, run_lens)
    return dictionary.take(idx)


# --- frame-of-reference + bit-pack -------------------------------------------

def encode_for_bitpack(arr: pa.Array, typecode: int) -> bytes:
    if typecode not in INT_TYPECODES:
        raise ValueError("for_bitpack requires an integer-like column")
    return pack_ints_block(_as_numpy(arr, typecode).astype(np.int64))


def decode_for_bitpack(buf: bytes, n: int, typecode: int) -> pa.Array:
    vals, _ = unpack_ints_block(buf, 0)
    return _from_numpy(vals, typecode)


# --- delta + zigzag + bit-pack ------------------------------------------------

def encode_delta_bitpack(arr: pa.Array, typecode: int) -> bytes:
    if typecode not in INT_TYPECODES:
        raise ValueError("delta_bitpack requires an integer-like column")
    v = _as_numpy(arr, typecode).astype(np.int64)
    if len(v) == 0:
        return _I64.pack(0) + pack_ints_block(v)
    deltas = np.diff(v)
    zz = zigzag_encode(deltas).view(np.int64)
    return _I64.pack(int(v[0])) + pack_ints_block(zz)


def decode_delta_bitpack(buf: bytes, n: int, typecode: int) -> pa.Array:
    first = _I64.unpack_from(buf, 0)[0]
    zz, _ = unpack_ints_block(buf, 8)
    if n == 0:
        return _from_numpy(np.zeros(0, dtype=np.int64), typecode)
    deltas = zigzag_decode(zz.view(np.uint64))
    vals = np.empty(n, dtype=np.int64)
    vals[0] = first
    if n > 1:
        np.cumsum(deltas, out=vals[1:])
        vals[1:] += first
    return _from_numpy(vals, typecode)


# --- patched frame-of-reference over deltas (PFOR-delta) ----------------------
#
# Zukowski et al.'s PFOR applied to zigzag deltas: pack every delta at a
# width chosen to minimize total size; the few outliers (conversation
# boundaries in (conv_id, turn_idx)-sorted data) are stored as explicit
# (position, value) exceptions. Generalizes delta_bitpack (whose single
# width is dictated by the worst delta) to heavy-tailed delta
# distributions — e.g. conv-sorted ts: typical delta 29-30 bits, boundary
# delta 46+ bits.

def pfor_width_cost(zz_bits_hist: np.ndarray, n: int) -> tuple[int, int]:
    """(best width, payload bits) minimizing n*w + n_exceptions(w)*80
    (an exception costs ~a packed position + a 64-bit value)."""
    cum = np.cumsum(zz_bits_hist)          # values with bit_length <= w
    best_w, best_cost = 64, n * 64
    for w in range(0, 65):
        covered = cum[w] if w < len(cum) else n
        cost = n * w + (n - covered) * 80
        if cost < best_cost:
            best_w, best_cost = w, cost
    return best_w, best_cost


def _bit_lengths(zz: np.ndarray) -> np.ndarray:
    """bit_length of each uint64 (0 -> 0), vectorized."""
    out = np.zeros(len(zz), dtype=np.int64)
    v = zz.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = v >= (np.uint64(1) << np.uint64(shift))
        out[big] += shift
        v[big] >>= np.uint64(shift)
    out[zz > 0] += 1
    return out


def encode_pfor_delta(arr: pa.Array, typecode: int) -> bytes:
    if typecode not in INT_TYPECODES:
        raise ValueError("pfor_delta requires an integer-like column")
    v = _as_numpy(arr, typecode).astype(np.int64)
    n = len(v)
    if n <= 1:
        first = int(v[0]) if n else 0
        return (_I64.pack(first) + _U64.pack(n) + bytes([0])
                + pack_ints_block(np.zeros(0, dtype=np.int64))
                + pack_ints_block(np.zeros(0, dtype=np.int64)))
    deltas = np.diff(v)
    zz = zigzag_encode(deltas)
    bits = _bit_lengths(zz)
    hist = np.bincount(bits, minlength=65)
    width, _ = pfor_width_cost(hist, n - 1)
    exc = bits > width
    exc_pos = np.nonzero(exc)[0].astype(np.int64)
    exc_val = zz[exc].view(np.int64)
    packed_vals = np.where(exc, np.uint64(0), zz)
    wbyte, payload = pack_uints_tagged(packed_vals, width)
    pos_block = pack_ints_block(exc_pos)
    val_block = pack_ints_block(exc_val)
    return (_I64.pack(int(v[0])) + _U64.pack(n) + bytes([wbyte])
            + _U64.pack(len(payload)) + payload
            + _U64.pack(len(pos_block)) + pos_block + val_block)


def decode_pfor_delta(buf: bytes, n: int, typecode: int) -> pa.Array:
    first = _I64.unpack_from(buf, 0)[0]
    n_stored = _U64.unpack_from(buf, 8)[0]
    if n_stored == 0:
        return _from_numpy(np.zeros(0, dtype=np.int64), typecode)
    if n_stored == 1:
        return _from_numpy(np.array([first], dtype=np.int64), typecode)
    wbyte = buf[16]
    off = 17
    plen = _U64.unpack_from(buf, off)[0]
    off += 8
    zz = unpack_uints_tagged(buf[off:off + plen], n_stored - 1, wbyte)
    off += plen
    pos_len = _U64.unpack_from(buf, off)[0]
    off += 8
    exc_pos, _ = unpack_ints_block(buf, off)
    off += pos_len
    exc_val, _ = unpack_ints_block(buf, off)
    if len(exc_pos):
        zz[exc_pos] = exc_val.view(np.uint64)
    deltas = zigzag_decode(zz)
    vals = np.empty(n_stored, dtype=np.int64)
    vals[0] = first
    np.cumsum(deltas, out=vals[1:])
    vals[1:] += first
    return _from_numpy(vals, typecode)


# --- FSST-style symbol-table text compression ---------------------------------

_FSST_SAMPLE = 1 << 16    # 64 KiB sample for symbol mining
_FSST_MAX_LEN = 8
_FSST_MIN_COUNT = 4
_FSST_MAX_SYMBOLS = 64    # replace-pass budget: ratio/throughput sweet spot


def _mine_symbols(sample: np.ndarray, free_codes: list[int]) -> list[bytes]:
    """Pick frequent 2..8-byte substrings of the sample, highest saving first.

    Vectorized: for each length L, sliding windows packed into uint64 keys,
    counted with np.unique. Deterministic (ties broken by symbol bytes).
    """
    budget = len(free_codes)
    if budget == 0 or len(sample) < 16:
        return []
    candidates: list[tuple[int, int, bytes]] = []  # (score, -L, sym)
    for L in range(2, _FSST_MAX_LEN + 1):
        if len(sample) <= L:
            break
        win = np.lib.stride_tricks.sliding_window_view(sample, L).astype(np.uint64)
        shifts = np.arange(8 * (L - 1), -1, -8, dtype=np.uint64)
        keys = (win << shifts[None, :]).sum(axis=1, dtype=np.uint64)
        uniq, counts = np.unique(keys, return_counts=True)
        top = np.argsort(counts)[::-1][:256]
        for k, c in zip(uniq[top], counts[top]):
            if c < _FSST_MIN_COUNT:
                continue
            sym = int(k).to_bytes(L, "big")
            candidates.append((int(c) * (L - 1), L, sym))
    candidates.sort(key=lambda t: (-t[0], -t[1], t[2]))
    out, seen = [], set()
    for _score, _L, sym in candidates:
        if sym in seen:
            continue
        seen.add(sym)
        out.append(sym)
        if len(out) >= budget:
            break
    # replacement passes run longest-first so long symbols aren't shadowed
    out.sort(key=lambda s: (-len(s), s))
    return out


def encode_fsst(arr: pa.Array, typecode: int) -> bytes:
    """Symbol-table compression of the concatenated string payload.

    Codes are byte values that do NOT occur in this chunk's payload, so
    replacement passes are unambiguous and escape-free; decode restores the
    exact concatenation, then slices by the stored original lengths.
    """
    if typecode not in VARLEN_TYPECODES:
        raise ValueError("fsst requires string/binary")
    lengths = _varlen_lengths(arr)
    blob = _concat_data(arr)
    lens_block = pack_ints_block(lengths)

    symbols: list[bytes] = []
    data = blob
    if len(blob) >= 64:
        u8 = np.frombuffer(blob, dtype=np.uint8)
        hist = np.bincount(u8, minlength=256)
        free_codes = [b for b in range(256) if hist[b] == 0][:_FSST_MAX_SYMBOLS]
        sample = u8[:_FSST_SAMPLE]
        symbols = _mine_symbols(sample, free_codes)
        for i, sym in enumerate(symbols):
            data = data.replace(sym, bytes([free_codes[i]]))
        codes = free_codes[:len(symbols)]
    else:
        codes = []

    table = bytearray([len(symbols)])
    for code, sym in zip(codes, symbols):
        table += bytes([code, len(sym)]) + sym
    return (bytes(table) + _U64.pack(len(lens_block)) + lens_block
            + _U64.pack(len(data)) + data)


def decode_fsst(buf: bytes, n: int, typecode: int) -> pa.Array:
    n_sym = buf[0]
    off = 1
    pairs = []
    for _ in range(n_sym):
        code = buf[off]
        slen = buf[off + 1]
        pairs.append((bytes([code]), buf[off + 2: off + 2 + slen]))
        off += 2 + slen
    llen = _U64.unpack_from(buf, off)[0]
    off += 8
    lengths, _ = unpack_ints_block(buf, off)
    off += llen
    dlen = _U64.unpack_from(buf, off)[0]
    off += 8
    data = buf[off:off + dlen]
    for code, sym in pairs:
        data = data.replace(code, sym)
    return _string_array(lengths, data, typecode)


# --- fixed-point float codec ----------------------------------------------

_FP_SCALES = (1, 10, 100, 1000, 10000)


def fixedpoint_scale(vals: np.ndarray) -> int | None:
    """Smallest power-of-ten scale at which every float is an exact
    fixed-point number (int64-representable), else None."""
    if len(vals) == 0:
        return 1
    if not np.isfinite(vals).all():
        return None
    for scale in _FP_SCALES:
        scaled = vals * scale
        r = np.rint(scaled)
        if np.abs(r).max() >= 2**62:
            return None
        if np.array_equal(r.astype(np.int64) / np.float64(scale),
                          vals.astype(np.float64)):
            return scale
    return None


def encode_fixedpoint(arr: pa.Array, typecode: int) -> bytes:
    """Price-like floats as scaled integers + FOR/bit-pack. Raises when
    the data is not exactly fixed-point — the selector verifies first."""
    if typecode not in (T_FLOAT32, T_FLOAT64):
        raise ValueError("fixedpoint requires float32/float64")
    v = _as_numpy(arr, typecode).astype(np.float64)
    scale = fixedpoint_scale(v)
    if scale is None:
        raise ValueError("data is not exact fixed-point; use plain")
    ints = np.rint(v * scale).astype(np.int64)
    return bytes([int(np.log10(scale))]) + pack_ints_block(ints)


def decode_fixedpoint(buf: bytes, n: int, typecode: int) -> pa.Array:
    scale = 10 ** buf[0]
    ints, _ = unpack_ints_block(buf, 1)
    vals = ints / np.float64(scale)
    return _from_numpy(vals.astype(_NUMPY_OF[typecode]), typecode)


# --- float byte-plane codecs ----------------------------------------------

_FLOAT_UINT = {T_FLOAT32: np.dtype("<u4"), T_FLOAT64: np.dtype("<u8")}


def _byte_planes(vals: np.ndarray) -> bytes:
    """Byte-stream split: transpose an (n, itemsize) byte matrix so each byte
    plane is contiguous (sign/exponent bytes cluster -> entropy-stage food).
    Pure permutation: bit-exact for any payload incl. NaN/Inf/-0.0."""
    n, w = len(vals), vals.dtype.itemsize
    return np.ascontiguousarray(
        vals.view(np.uint8).reshape(n, w).T).tobytes()


def _unsplit_planes(buf: bytes, n: int, dtype: np.dtype) -> np.ndarray:
    w = dtype.itemsize
    planes = np.frombuffer(buf, dtype=np.uint8, count=n * w).reshape(w, n)
    return np.ascontiguousarray(planes.T).view(dtype).ravel()


def encode_bss(arr: pa.Array, typecode: int) -> bytes:
    """Byte-stream split for floats (same layout idea as Parquet
    BYTE_STREAM_SPLIT): same size as plain, but the entropy outer stage
    compresses the clustered exponent planes far better."""
    if typecode not in (T_FLOAT32, T_FLOAT64):
        raise ValueError("bss requires float32/float64")
    return _byte_planes(_as_numpy(arr, typecode).view(_FLOAT_UINT[typecode]))


def decode_bss(buf: bytes, n: int, typecode: int) -> pa.Array:
    dt = _FLOAT_UINT[typecode]
    vals = _unsplit_planes(buf, n, dt).view(_NUMPY_OF[typecode])
    return _from_numpy(vals, typecode)


def encode_xor_bss(arr: pa.Array, typecode: int) -> bytes:
    """Gorilla-style XOR-with-previous (VLDB'15 time-series float trick),
    then byte-plane split: slowly-varying series XOR to mostly-zero high
    planes. Bit-exact (XOR is an involution on the raw bit patterns)."""
    if typecode not in (T_FLOAT32, T_FLOAT64):
        raise ValueError("xor_bss requires float32/float64")
    u = _as_numpy(arr, typecode).view(_FLOAT_UINT[typecode]).copy()
    if len(u) > 1:
        u[1:] ^= u[:-1].copy()
    return _byte_planes(u)


def decode_xor_bss(buf: bytes, n: int, typecode: int) -> pa.Array:
    dt = _FLOAT_UINT[typecode]
    x = _unsplit_planes(buf, n, dt)
    u = np.bitwise_xor.accumulate(x, dtype=dt)
    return _from_numpy(u.view(_NUMPY_OF[typecode]), typecode)


# --- vector (embedding) codec -------------------------------------------------

def encode_vec_bss(arr: pa.Array, typecode: int) -> bytes:
    """list<float32> vector codec (embedding columns):
        [u8 mode][mode 0: u32 dim | mode 1: u64 len + lengths block]
        [u64 n_flat][byte planes of the flattened float32 values]
    mode 0 is the fixed-dim fast path (embeddings in practice): the shape
    costs 5 bytes per CHUNK. Values reuse the bit-exact byte-stream-split
    planes (same layout as bss), so the entropy outer stage compresses
    the clustered sign/exponent planes; NaN/Inf/-0.0 round-trip exactly
    because only raw bit patterns move."""
    if typecode != T_VECF32:
        raise ValueError("vec_bss requires list<float32>")
    import pyarrow.compute as pc
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if not pa.types.is_list(arr.type):
        arr = arr.cast(pa.list_(pa.float32()))
    n = len(arr)
    lengths = np.asarray(pc.list_value_length(arr), dtype=np.int64)
    flat_arr = arr.flatten()
    if flat_arr.null_count:
        raise ValueError("vec_bss: NULL elements inside vectors are not "
                         "supported (whole-vector NULLs are)")
    flat = np.asarray(flat_arr, dtype="<f4")
    n_flat = int(lengths.sum()) if n else 0
    assert n_flat == len(flat)
    fixed = n == 0 or int(lengths.min()) == int(lengths.max())
    if fixed:
        head = bytes([0]) + struct.pack("<I",
                                        int(lengths[0]) if n else 0)
    else:
        lens_blk = pack_ints_block(lengths)
        head = bytes([1]) + _U64.pack(len(lens_blk)) + lens_blk
    planes = _byte_planes(flat.view("<u4"))
    return head + _U64.pack(n_flat) + planes


def decode_vec_bss(buf: bytes, n: int, typecode: int) -> pa.Array:
    mode = buf[0]
    if mode == 0:
        dim = struct.unpack_from("<I", buf, 1)[0]
        lengths = np.full(n, dim, dtype=np.int64)
        off = 5
    else:
        blen = _U64.unpack_from(buf, 1)[0]
        lengths, _ = unpack_ints_block(buf, 9)
        lengths = np.asarray(lengths, dtype=np.int64)
        off = 9 + blen
    n_flat = _U64.unpack_from(buf, off)[0]
    off += 8
    flat = _unsplit_planes(buf[off:], n_flat, np.dtype("<u4")).view("<f4")
    offs64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs64[1:])
    return pa.ListArray.from_arrays(
        pa.array(offs64.astype(np.int32), type=pa.int32()),
        pa.array(flat, type=pa.float32()))


# --- token-dictionary text codec ----------------------------------------------

def encode_tokdict(arr: pa.Array, typecode: int) -> bytes:
    """Word-level symbol-table compression: split on single spaces (exact —
    ``" ".join(s.split(" ")) == s`` for any s), dictionary-encode tokens,
    bit-pack indices. All Arrow C kernels; the high-throughput scale path
    for natural-language transcript text. Same symbol-table idea as FSST
    but with word-granularity symbols."""
    if typecode != T_STRING:
        raise ValueError("tokdict requires string")
    import pyarrow.compute as pc
    toks = pc.split_pattern(arr, " ")
    flat = pc.list_flatten(toks)
    ntok = pc.list_value_length(toks).to_numpy(zero_copy_only=False)
    denc = flat.dictionary_encode()
    idx = denc.indices.to_numpy(zero_copy_only=False)
    vocab_block = encode_plain(denc.dictionary, T_STRING)
    idx_block = pack_ints_block(idx)
    ntok_block = pack_ints_block(ntok)
    return (_U64.pack(len(denc.dictionary)) + _U64.pack(len(vocab_block)) + vocab_block
            + _U64.pack(len(idx_block)) + idx_block + ntok_block)


def decode_tokdict(buf: bytes, n: int, typecode: int) -> pa.Array:
    import pyarrow.compute as pc
    n_vocab = _U64.unpack_from(buf, 0)[0]
    vlen = _U64.unpack_from(buf, 8)[0]
    vocab = decode_plain(buf[16:16 + vlen], n_vocab, T_STRING)
    off = 16 + vlen
    ilen = _U64.unpack_from(buf, off)[0]
    off += 8
    idx, _ = unpack_ints_block(buf, off)
    off += ilen
    ntok, _ = unpack_ints_block(buf, off)
    flat = vocab.take(idx)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(ntok, out=offsets[1:])
    lst = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), type=pa.int32()), flat)
    return pc.binary_join(lst, " ")


# --- registry -----------------------------------------------------------------

CODEC_IDS = {
    "plain": 0, "constant": 1, "dict": 2, "rle": 3,
    "for_bitpack": 4, "delta_bitpack": 5, "fsst": 6, "tokdict": 7,
    "fixedpoint": 8, "bss": 9, "xor_bss": 10, "pfor_delta": 11,
    "vec_bss": 12,
}
CODEC_NAMES = {v: k for k, v in CODEC_IDS.items()}

_ENCODERS = {
    0: encode_plain, 1: encode_constant, 2: encode_dict, 3: encode_rle,
    4: encode_for_bitpack, 5: encode_delta_bitpack, 6: encode_fsst,
    7: encode_tokdict, 8: encode_fixedpoint, 9: encode_bss, 10: encode_xor_bss,
    11: encode_pfor_delta, 12: encode_vec_bss,
}
_DECODERS = {
    0: decode_plain, 1: decode_constant, 2: decode_dict, 3: decode_rle,
    4: decode_for_bitpack, 5: decode_delta_bitpack, 6: decode_fsst,
    7: decode_tokdict, 8: decode_fixedpoint, 9: decode_bss, 10: decode_xor_bss,
    11: decode_pfor_delta, 12: decode_vec_bss,
}


def encode_values(arr: pa.Array, codec: str, typecode: int) -> bytes:
    return _ENCODERS[CODEC_IDS[codec]](arr, typecode)


def decode_values(buf: bytes, n: int, codec_id: int, typecode: int) -> pa.Array:
    dec = _DECODERS.get(codec_id)
    if dec is None:
        raise ValueError(f"unknown codec id {codec_id} "
                         "(frame written by a newer encoder?)")
    return dec(buf, n, typecode)
