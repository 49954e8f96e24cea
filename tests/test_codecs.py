"""Codec round-trip tests: golden rows, batch-boundary size sweep
(0/1/5/1024/8193 rows — mirrors the reference's OperationTest size sweep,
supersonic/testing/operation_testing.h:36-66), null/empty/unicode edges,
seeded randomized round-trips, and size parity vs the reference layout."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from supersonic_spark.codecs import (
    decode_block,
    decode_column,
    encode_block,
    encode_column,
    reference_column_size,
)
from supersonic_spark.selector import choose_codec, choose_codecs

SWEEP_SIZES = [0, 1, 5, 1024, 8193]


def roundtrip(arr: pa.Array, codec: str) -> pa.Array:
    buf = encode_column(arr, codec)
    out, used = decode_column(buf)
    assert used == len(buf)
    return out


def assert_identical(a: pa.Array, b: pa.Array):
    assert a.type == b.type, f"{a.type} != {b.type}"
    assert len(a) == len(b)
    assert a.equals(b), f"mismatch:\n{a}\nvs\n{b}"


# --- golden fixtures (FIXTURES.md §4) ---------------------------------------

def test_golden_dict():
    arr = pa.array(["user", "assistant", "user", "user"])
    assert_identical(roundtrip(arr, "dict"), arr)
    arr_null = pa.array(["user", None, "user", "tool"])
    assert_identical(roundtrip(arr_null, "dict"), arr_null)


def test_golden_rle():
    arr = pa.array([7, 7, 7, 1, 1, 9], type=pa.int64())
    assert_identical(roundtrip(arr, "rle"), arr)


def test_golden_for_bitpack():
    arr = pa.array([1000001, 1000003, 1000002], type=pa.int64())
    assert_identical(roundtrip(arr, "for_bitpack"), arr)
    # FOR ref + 2-bit width: 1024 rows pack into ~256B payload vs 8KB plain
    big = pa.array(1000001 + np.random.default_rng(0).integers(0, 4, 1024),
                   type=pa.int64())
    buf = encode_column(big, "for_bitpack")
    assert len(buf) < 1024 * 8 // 8, f"packed size {len(buf)}"
    assert_identical(decode_column(buf)[0], big)


def test_golden_delta():
    t0 = 1_700_000_000_000_000
    arr = pa.array([t0, t0 + 1_000_000, t0 + 2_000_000],
                   type=pa.timestamp("us"))
    assert_identical(roundtrip(arr, "delta_bitpack"), arr)


def test_golden_fsst():
    arr = pa.array(["the cat", "the hat", ""])
    assert_identical(roundtrip(arr, "fsst"), arr)


def test_golden_constant():
    arr = pa.array(["x"] * 100)
    buf = encode_column(arr, "constant")
    assert len(buf) < 40
    assert_identical(decode_column(buf)[0], arr)


# --- batch-boundary sweep ----------------------------------------------------

@pytest.mark.parametrize("n", SWEEP_SIZES)
@pytest.mark.parametrize("codec", ["plain", "dict", "rle", "for_bitpack",
                                   "delta_bitpack"])
def test_sweep_int64(n, codec):
    rng = np.random.default_rng(42)
    vals = np.sort(rng.integers(0, 50, size=n).astype(np.int64))
    arr = pa.array(vals, type=pa.int64())
    assert_identical(roundtrip(arr, codec), arr)


@pytest.mark.parametrize("n", SWEEP_SIZES)
@pytest.mark.parametrize("codec", ["plain", "dict", "rle", "fsst"])
def test_sweep_string(n, codec):
    rng = np.random.default_rng(7)
    vocab = ["alpha", "beta", "", "日本語テキスト", "tool_call:search",
             "x" * 300]
    vals = [vocab[i] for i in rng.integers(0, len(vocab), size=n)]
    arr = pa.array(vals, type=pa.string())
    assert_identical(roundtrip(arr, codec), arr)


@pytest.mark.parametrize("n", SWEEP_SIZES)
def test_sweep_nulls(n):
    rng = np.random.default_rng(3)
    vals = [None if rng.random() < 0.7 else f"tool_{int(rng.integers(20))}"
            for _ in range(n)]
    arr = pa.array(vals, type=pa.string())
    for codec in ["plain", "dict", "rle"]:
        assert_identical(roundtrip(arr, codec), arr)


def test_all_null_and_no_null():
    arr = pa.array([None, None, None], type=pa.string())
    for codec in ["plain", "dict", "rle", "fsst"]:
        assert_identical(roundtrip(arr, codec), arr)
    arr2 = pa.array([1, 2, 3], type=pa.int32())
    assert_identical(roundtrip(arr2, "for_bitpack"), arr2)


def test_empty_string_heavy():
    arr = pa.array(["", "", "a", "", ""] * 50)
    for codec in ["plain", "dict", "rle", "fsst"]:
        assert_identical(roundtrip(arr, codec), arr)


# --- typed columns -----------------------------------------------------------

@pytest.mark.parametrize("typ,pytype", [
    (pa.int32(), int), (pa.int64(), int),
    (pa.float32(), float), (pa.float64(), float),
    (pa.bool_(), bool), (pa.date32(), None), (pa.timestamp("us"), None),
])
def test_plain_all_types(typ, pytype):
    rng = np.random.default_rng(11)
    if typ == pa.bool_():
        arr = pa.array(rng.random(100) < 0.5)
    elif typ == pa.date32():
        arr = pa.array(rng.integers(0, 20000, 100).astype(np.int32),
                       type=pa.int32()).cast(pa.date32())
    elif typ == pa.timestamp("us"):
        arr = pa.array(rng.integers(0, 2**50, 100).astype(np.int64),
                       type=pa.int64()).cast(pa.timestamp("us"))
    elif pytype is float:
        arr = pa.array(rng.random(100), type=typ)
    else:
        arr = pa.array(rng.integers(-1000, 1000, 100), type=typ)
    assert_identical(roundtrip(arr, "plain"), arr)


def test_binary_roundtrip():
    arr = pa.array([b"\x00\xff", b"", b"abc\x01", None], type=pa.binary())
    for codec in ["plain", "dict", "fsst"]:
        assert_identical(roundtrip(arr, codec), arr)


def test_negative_and_extreme_ints():
    arr = pa.array([-(2**62), 2**62, 0, -1, 1], type=pa.int64())
    for codec in ["plain", "delta_bitpack"]:
        assert_identical(roundtrip(arr, codec), arr)


# --- randomized seeded round-trip (reference uses MTRandom(0) style seeds) ---

@pytest.mark.parametrize("seed", [0, 1, 2])
def test_randomized_text_roundtrip(seed):
    rng = np.random.default_rng(seed)
    words = ["the", "cat", "sat", "on", "mat", "λόγος", "—", "\n", "\t", ""]
    vals = [" ".join(words[i] for i in rng.integers(0, len(words),
                                                    size=rng.integers(0, 40)))
            for _ in range(500)]
    arr = pa.array(vals)
    assert_identical(roundtrip(arr, "fsst"), arr)


def test_fsst_binary_dense_bytespace():
    """All 256 byte values present -> no free codes -> raw passthrough."""
    rng = np.random.default_rng(5)
    vals = [rng.integers(0, 256, size=200).astype(np.uint8).tobytes()
            for _ in range(20)]
    arr = pa.array(vals, type=pa.binary())
    assert_identical(roundtrip(arr, "fsst"), arr)


# --- compression effectiveness + size parity ---------------------------------

def test_fsst_compresses_text():
    rng = np.random.default_rng(13)
    pool = ["I'll run the tests now.", "Here is the result:",
            "def main():", "return value", "assistant", "user asked about"]
    vals = [" ".join(pool[i] for i in rng.integers(0, len(pool), size=20))
            for _ in range(2000)]
    arr = pa.array(vals)
    buf = encode_column(arr, "fsst")
    ref = reference_column_size(arr)
    assert len(buf) < 0.6 * ref, f"fsst {len(buf)} vs reference {ref}"
    assert_identical(decode_column(buf)[0], arr)


def test_selector_beats_reference_layout_per_column():
    """Auto-selected codec total <= reference layout for transcript-like data."""
    rng = np.random.default_rng(21)
    n = 8193
    conv = pa.array(np.repeat([f"conv-{i:06d}" for i in range(60)],
                              np.diff(np.linspace(0, n, 61).astype(int))))
    turn = pa.array(np.concatenate(
        [np.arange(c) for c in np.diff(np.linspace(0, n, 61).astype(int))]
    ).astype(np.int32), type=pa.int32())
    role = pa.array([["system", "user", "assistant", "tool"][i]
                     for i in rng.integers(0, 4, n)])
    tbl = pa.table({"conv_id": conv, "turn_idx": turn, "role": role})
    codecs = choose_codecs(tbl)
    total = 0
    for name in tbl.schema.names:
        buf = encode_column(tbl.column(name), codecs[name])
        out, _ = decode_column(buf)
        assert_identical(out, tbl.column(name).combine_chunks())
        total += len(buf)
    ref = sum(reference_column_size(tbl.column(n).combine_chunks())
              for n in tbl.schema.names)
    assert total <= ref, f"encoded {total} > reference {ref} ({codecs})"
    assert codecs["conv_id"] == "rle"


def test_selector_rules():
    sorted_ts = pa.array(np.arange(10_000, dtype=np.int64) * 1_000_000
                         + 1_700_000_000_000_000, type=pa.int64())
    assert choose_codec(sorted_ts)[0] == "delta_bitpack"
    runs = pa.array(np.repeat(np.arange(100, dtype=np.int64), 50))
    assert choose_codec(runs)[0] == "rle"
    const = pa.array(["x"] * 5000)
    assert choose_codec(const)[0] == "constant"
    rng = np.random.default_rng(2)
    hi_card = pa.array([f"{v:x}" for v in rng.integers(0, 2**60, 5000)])
    assert choose_codec(hi_card)[0] in ("fsst", "plain")


# --- block framing -----------------------------------------------------------

def test_block_roundtrip():
    tbl = pa.table({
        "conv_id": pa.array(["a", "a", "b", "b", "b"]),
        "turn_idx": pa.array([0, 1, 0, 1, 2], type=pa.int32()),
        "text": pa.array(["hi", "", None, "x" * 100, "日本"]),
        "ts": pa.array(np.arange(5, dtype=np.int64),
                       type=pa.int64()).cast(pa.timestamp("us")),
    })
    codecs = choose_codecs(tbl)
    buf = encode_block(tbl, codecs)
    out, used = decode_block(buf)
    assert used == len(buf)
    assert out.equals(tbl)


def test_truncated_block_raises_value_error():
    """Every cut of a block, inside a header or inside a payload, is a
    ValueError from the header walk (never a struct.error, never a span
    past the end of the buffer)."""
    from supersonic_spark.codecs import block_span, iter_block_spans
    tbl = pa.table({"k": list(range(200)),
                    "s": [f"row {i % 13}" for i in range(200)]})
    buf = encode_block(tbl, choose_codecs(tbl), entropy="lz4")
    assert list(iter_block_spans(buf + buf)) == [(0, len(buf)),
                                                 (len(buf), len(buf))]
    for cut in range(1, len(buf)):
        with pytest.raises(ValueError):
            block_span(buf[:cut])
        with pytest.raises(ValueError):
            decode_block(buf[:cut])
        with pytest.raises(ValueError):
            list(iter_block_spans(buf + buf[:cut]))


def test_frame_length_mismatch_raises_value_error():
    tbl = pa.table({"k": list(range(50))})
    buf = bytearray(encode_block(tbl, choose_codecs(tbl)))
    at = 14 + 2 + len("k")                  # the column's u64 frame length
    clen = int.from_bytes(buf[at:at + 8], "little")
    buf[at:at + 8] = (clen - 1).to_bytes(8, "little")
    with pytest.raises(ValueError, match="length mismatch"):
        decode_block(bytes(buf))


# --- tokdict ------------------------------------------------------------------

@pytest.mark.parametrize("n", SWEEP_SIZES)
def test_sweep_tokdict(n):
    rng = np.random.default_rng(17)
    pool = ["the cat", "", " ", "  double  spaces  ", "tab\there",
            "line\nbreak", "日本 語", "a b c d e"]
    vals = [pool[i] for i in rng.integers(0, len(pool), size=n)]
    arr = pa.array(vals, type=pa.string())
    assert_identical(roundtrip(arr, "tokdict"), arr)


def test_tokdict_nulls_and_space_edges():
    arr = pa.array([None, "", " ", "   ", "x", None, "a  b"], type=pa.string())
    assert_identical(roundtrip(arr, "tokdict"), arr)


def test_tokdict_beats_reference_on_token_soup():
    rng = np.random.default_rng(23)
    vocab = [f"tok{i}" for i in range(300)]
    vals = [" ".join(vocab[j] for j in rng.integers(0, 300, size=30))
            for _ in range(3000)]
    arr = pa.array(vals)
    buf = encode_column(arr, "tokdict")
    ref = reference_column_size(arr)
    assert len(buf) < 0.5 * ref
    assert_identical(decode_column(buf)[0], arr)


def test_selector_picks_tokdict_for_token_text():
    rng = np.random.default_rng(29)
    vocab = [f"tok{i}" for i in range(200)]
    vals = [" ".join(vocab[j] for j in rng.integers(0, 200, size=25))
            for _ in range(2000)]
    assert choose_codec(pa.array(vals))[0] == "tokdict"


# --- fixedpoint float codec ---------------------------------------------------

def test_fixedpoint_roundtrip_and_size():
    rng = np.random.default_rng(31)
    vals = np.round(rng.uniform(0, 10000, 5000), 2)
    arr = pa.array(vals, type=pa.float64())
    buf = encode_column(arr, "fixedpoint")
    assert len(buf) < 0.5 * 8 * 5000
    assert_identical(decode_column(buf)[0], arr)
    # with nulls
    arr2 = pa.array([1.25, None, -3.5, 0.0], type=pa.float64())
    assert_identical(roundtrip(arr2, "fixedpoint"), arr2)


def test_fixedpoint_rejects_irregular_floats():
    import pytest as _pytest
    arr = pa.array([0.1234567891, 3.14159265], type=pa.float64())
    with _pytest.raises(ValueError, match="not exact fixed-point"):
        encode_column(arr, "fixedpoint")
    arr_nan = pa.array([1.0, float("nan")], type=pa.float64())
    with _pytest.raises(ValueError):
        encode_column(arr_nan, "fixedpoint")


def test_selector_picks_fixedpoint_for_prices():
    rng = np.random.default_rng(33)
    prices = pa.array(np.round(rng.uniform(1, 100, 3000), 2), type=pa.float64())
    assert choose_codec(prices)[0] == "fixedpoint"
    irregular = pa.array(rng.normal(size=3000), type=pa.float64())
    assert choose_codec(irregular)[0] == "plain"
    out, _ = decode_column(encode_column(prices, "fixedpoint"))
    assert_identical(out, prices)


# --- float byte-plane codecs + entropy outer stage ------------------------------

@pytest.mark.parametrize("codec", ["bss", "xor_bss"])
@pytest.mark.parametrize("typ", [pa.float32(), pa.float64()])
def test_bss_roundtrip_bitexact(codec, typ):
    rng = np.random.default_rng(41)
    raw = rng.normal(size=4097)
    # adversarial payloads: NaN, +/-inf, -0.0, denormals
    raw[:8] = [np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, -5e-324, 1.0]
    vals = raw.astype("float32" if typ == pa.float32() else "float64")
    for n in [s for s in SWEEP_SIZES if s <= len(vals)] + [4097]:
        sub = pa.array(vals[:n], type=typ)
        got, used = decode_column(encode_column(sub, codec))
        assert got.type == typ and len(got) == n
        # bit-exact comparison (NaN != NaN under value equality)
        a = got.to_numpy(zero_copy_only=False).astype(vals.dtype)
        assert a.tobytes() == vals[:n].tobytes()


def test_bss_nulls():
    arr = pa.array([1.5, None, float("nan"), -0.0, None], type=pa.float64())
    for codec in ("bss", "xor_bss"):
        out = roundtrip(arr, codec)
        assert out.is_valid().to_pylist() == arr.is_valid().to_pylist()
        assert str(out.to_pylist()) == str(arr.to_pylist())


def test_entropy_stage_roundtrip_and_size():
    # phrase-repetitive text: tokdict removes word-level redundancy but the
    # token-index sequence still repeats across rows — the entropy outer
    # stage captures that order redundancy; both forms must round-trip
    rng = np.random.default_rng(7)
    phrases = [f"call tool {t} with argument set {a} then report status"
               for t in range(5) for a in range(5)]
    vals = [phrases[i] for i in rng.integers(0, 25, 2000)]
    arr = pa.array(vals)
    bare = encode_column(arr, "tokdict")
    staged = encode_column(arr, "tokdict", entropy="zstd")
    assert len(staged) < 0.8 * len(bare)
    for buf in (bare, staged):
        out, used = decode_column(buf)
        assert used == len(buf)
        assert_identical(out, arr)


def test_entropy_stage_self_disables_when_unhelpful():
    # incompressible payload: frame must fall back to the bare codec
    rng = np.random.default_rng(9)
    blob = [rng.bytes(64) for _ in range(512)]
    arr = pa.array(blob, type=pa.binary())
    bare = encode_column(arr, "plain")
    staged = encode_column(arr, "plain", entropy="zstd")
    # allow tiny differences only if stage was kept; spec: never >1B worse
    assert len(staged) <= len(bare)
    out, _ = decode_column(staged)
    assert_identical(out, arr)


def test_entropy_stage_in_blocks_and_report():
    from supersonic_spark.codecs import block_codec_report
    tbl = pa.table({
        "text": pa.array([f"the quick brown fox number {i % 37} jumps over "
                          f"the lazy dog {i % 11}" for i in range(500)]),
        "x": pa.array(np.arange(500, dtype=np.int64)),
    })
    codecs = choose_codecs(tbl, entropy="zstd")
    buf = encode_block(tbl, codecs, entropy="zstd")
    report = block_codec_report(buf)
    assert report["text"].endswith("+zstd"), report
    out, used = decode_block(buf)
    assert used == len(buf)
    assert out.equals(tbl)


def test_selector_float_trial_with_entropy():
    rng = np.random.default_rng(55)
    # smooth series: xor_bss should win under zstd
    smooth = pa.array(np.cumsum(rng.normal(0, 1e-6, 4096)) + 100.0,
                      type=pa.float64())
    codec, _ = choose_codec(smooth, entropy="zstd")
    assert codec in ("xor_bss", "bss")
    out, _ = decode_column(encode_column(smooth, codec, entropy="zstd"))
    assert out.equals(smooth)
    # without an entropy backend the selector keeps plain
    assert choose_codec(smooth)[0] == "plain"


def test_tagged_packing_flags_the_sliced_layout():
    """One packing decision: width >= 8 is byte-sliced and flagged in the
    width byte's high bit, narrower widths are not; both round-trip and
    hold ceil(n * width / 8) bytes."""
    from supersonic_spark.codecs.bitutil import (pack_uints_tagged,
                                                 unpack_uints_tagged)
    rng = np.random.default_rng(3)
    for width in range(0, 40):
        vals = rng.integers(0, 1 << width, size=1001,
                            dtype=np.uint64) if width else \
            np.zeros(1001, dtype=np.uint64)
        wbyte, payload = pack_uints_tagged(vals, width)
        assert wbyte == (width | 0x80 if width >= 8 else width)
        assert len(payload) == (1001 * width + 7) // 8
        assert np.array_equal(unpack_uints_tagged(payload, 1001, wbyte), vals)
