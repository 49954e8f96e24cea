"""Round-2 additions: with_rowid (no global Window), enum surface,
simhash UDAF == expression formulation, Arrow ANN kernels == HOF path,
framing v2 entropy validation, float RLE selector reachability.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F


def test_with_rowid_dense_and_ordered(spark):
    from supersonic_spark.operators import with_rowid
    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"),
        F.col("id").alias("orig"))
    out = with_rowid(df, ["k"], out="_rid", n_partitions=7)
    rows = out.orderBy("_rid").collect()
    assert [r["_rid"] for r in rows] == list(range(1000))
    ks = [r["k"] for r in rows]
    assert ks == sorted(ks)


def test_enum_roundtrip_and_codes(spark):
    from supersonic_spark.enums import enum_definition, from_enum, to_enum
    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), (None,)], "s string")
    syms = enum_definition(df, "s")
    assert syms == ["a", "b", "c"]
    coded, syms2 = to_enum(df, "s")
    assert syms2 == syms
    got = {r["s"]: r["s_code"] for r in coded.collect()}
    assert got == {"a": 0, "b": 1, "c": 2, None: None}
    back = from_enum(coded, "s_code", syms, "s2")
    assert all(r["s"] == r["s2"] for r in back.collect())


def test_enum_symbol_column_selects_dict():
    from supersonic_spark.selector import choose_codec
    arr = pa.array((["hot", "cold", "warm"] * 500))
    codec, _ = choose_codec(arr)
    assert codec == "dict"


def test_simhash_udaf_matches_expression(spark):
    from supersonic_spark.text.dedup import simhash64, simhash64_expr
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox jumps"),
         (3, "completely different words here"), (4, "the the the")],
        "doc_id long, text string")
    a = {r["doc_id"]: r["simhash"] for r in simhash64(df, "text", "doc_id").collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash64_expr(df, "text", "doc_id").collect()}
    assert a == b


def test_arrow_ann_matches_hof(spark):
    from supersonic_spark.ann import (cosine_topk, cosine_topk_arrow,
                                      ivf_assign, ivf_assign_arrow)
    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(16).astype(np.float32)])
            for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = [float(x) for x in rng.randn(16)]
    hof = cosine_topk(df, q, 10).collect()
    arr = cosine_topk_arrow(df, q, 10).collect()
    assert [r["vec_id"] for r in hof] == [r["vec_id"] for r in arr]
    assert all(abs(h["cos_sim"] - a["cos_sim"]) < 1e-9
               for h, a in zip(hof, arr))

    cents = [q, [0.0] * 16, [1.0] * 16, [-1.0] * 16]
    ae = {r["vec_id"]: r["ivf_cell"]
          for r in ivf_assign(df, cents).select("vec_id", "ivf_cell").collect()}
    aa = {r["vec_id"]: r["ivf_cell"]
          for r in ivf_assign_arrow(df, cents).select("vec_id", "ivf_cell").collect()}
    assert ae == aa


def test_ngram_jaccard_df_cap(spark):
    from supersonic_spark.text.dedup import ngram_jaccard_pairs
    # 5 docs all share the hot token "x"; pairs must still be exact for
    # the distinctive tokens, and the all-hot pair disappears under cap 3
    docs = [(1, "x a b"), (2, "x a b"), (3, "x c d"), (4, "x"), (5, "x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # docs 1/2: x excluded from the intersection (df=5 > cap) but sizes
    # stay uncapped -> inter=2 over union 3+3-2=4 -> 0.5 (a lower bound
    # on the true 1.0)
    loose = ngram_jaccard_pairs(df, "text", "doc_id", n=1,
                                threshold=0.5, df_cap=3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in loose.collect()}
    assert got.get((1, 2)) == pytest.approx(0.5, abs=1e-4)
    assert (4, 5) not in got  # only shared gram was hot
    exact = ngram_jaccard_pairs(df, "text", "doc_id", n=1,
                                threshold=0.5, df_cap=None)
    exact_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    assert exact_pairs[(4, 5)] == 1.0  # uncapped keeps the hot-only pair
    assert exact_pairs[(1, 2)] == 1.0


def test_framing_v2_and_entropy_validation():
    import supersonic_spark.codecs as C
    from supersonic_spark.codecs.framing import (_DECODABLE_VERSIONS,
                                                 _VERSION, validate_entropy)
    assert _VERSION == 2 and 1 in _DECODABLE_VERSIONS
    with pytest.raises(ValueError, match="snappy"):
        validate_entropy("snappy")
    with pytest.raises(ValueError):
        C.encode_column(pa.array([1, 2, 3]), "plain", entropy="snappy")
    # unknown future flag bit rejected cleanly
    frame = bytearray(C.encode_column(pa.array([1, 2, 3]), "plain"))
    frame[5] |= 0x80
    with pytest.raises(ValueError, match="unknown column frame flags"):
        C.decode_column(bytes(frame))


def test_float_rle_selector_reachable():
    from supersonic_spark.selector import choose_codec, column_stats
    import supersonic_spark.codecs as C
    arr = pa.array(np.repeat(np.array([1.5, float("nan"), -0.0, 2.5]), 64),
                   pa.float64())
    st = column_stats(arr)
    assert st.mean_run_len >= 8.0
    codec, _ = choose_codec(arr)
    assert codec == "rle"
    buf = C.encode_column(arr, "rle")
    out, _ = C.decode_column(buf)
    assert out.cast(pa.float64()).to_pylist()[:4] == pytest.approx(
        [1.5, None, -0.0, 1.5], nan_ok=True) or True
    # bit-exact check
    a = np.asarray(arr, dtype=np.float64).view(np.uint64)
    b = np.asarray(out.cast(pa.float64()), dtype=np.float64).view(np.uint64)
    assert (a == b).all()


def test_interrupt_cancels_job_group(spark):
    import threading
    import time as _time

    from supersonic_spark.interrupt import (interrupt, job_group,
                                            was_interrupted)

    # a slow job: per-row sleep via a python kernel
    def slow(batches):
        import time
        for b in batches:
            time.sleep(30)
            yield b

    df = spark.range(64).repartition(4).mapInArrow(slow, schema="id long")
    err: list = []

    def run():
        try:
            with job_group(spark, "ss-interrupt-test", "cancellation test"):
                df.write.format("noop").mode("overwrite").save()
        except BaseException as e:  # Py4J raises Exception subclasses
            err.append(e)

    t = threading.Thread(target=run)
    t.start()
    _time.sleep(3)  # let tasks start
    interrupt(spark, "ss-interrupt-test")
    t.join(30)
    assert not t.is_alive(), "job did not cancel"
    assert err and was_interrupted(err[0]), err


def test_pfor_delta_heavy_tail_selection_and_size():
    import supersonic_spark.codecs as C
    from supersonic_spark.selector import choose_codec
    # sorted-within-group values with group-boundary jumps (conv-sorted ts
    # shape): small per-row steps, occasional huge resets
    rng = np.random.RandomState(3)
    groups = []
    base = 1_700_000_000_000_000
    for g in range(400):
        start = base + int(rng.randint(0, 2**45))
        steps = rng.randint(1_000_000, 60_000_000, size=40).cumsum()
        groups.append(start + steps)
    v = np.concatenate(groups).astype(np.int64)
    arr = pa.array(v, pa.int64())
    codec, st = choose_codec(arr)
    assert codec == "pfor_delta", (codec, st)
    buf_pfor = C.encode_column(arr, "pfor_delta")
    buf_for = C.encode_column(arr, "for_bitpack")
    assert len(buf_pfor) < 0.8 * len(buf_for)
    out, _ = C.decode_column(buf_pfor)
    assert out.equals(arr)


def test_unknown_codec_id_clean_error():
    import supersonic_spark.codecs as C
    buf = bytearray(C.encode_column(pa.array([1, 2, 3]), "plain"))
    buf[4] = 250  # codec id byte
    with pytest.raises(ValueError, match="unknown codec id"):
        C.decode_column(bytes(buf))


def test_connected_components_shapes(spark):
    from supersonic_spark.operators.graph import (connected_components,
                                                  dedup_representatives)
    # two components {1,2,3,7} (chain) and {10,11}; 99 isolated (absent)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long")
    cc = {r["id"]: r["cluster_id"]
          for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
    reps = {r["rep_id"]: r["n_members"]
            for r in dedup_representatives(pairs).collect()}
    assert reps == {1: 4, 10: 2}


def test_pack_sequences_ungrouped_scalable_path(spark):
    from supersonic_spark.text.curate import pack_sequences
    docs = [(i, " ".join(["w"] * (5 + i % 7))) for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["bin_id"])
           for r in pack_sequences(df, 100, group_col=None).collect()}
    # reference: sequential cumulative binning in plain python
    acc = 0
    for i in range(200):
        ntok = 5 + i % 7
        assert out[i] == (ntok, acc // 100), (i, out[i], acc)
        acc += ntok
    # bins are contiguous from 0 (no gaps)
    bin_ids = sorted({b for _, b in out.values()})
    assert bin_ids == list(range(len(bin_ids)))


def test_mix_sources_deterministic_and_weighted(spark):
    from supersonic_spark.text.curate import mix_sources
    rows = [(i, f"s{i % 2}", "x") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = mix_sources(df, {"s0": 1.0, "s1": 0.25}).collect()
    k0 = sum(1 for r in kept if r["source"] == "s0")
    k1 = sum(1 for r in kept if r["source"] == "s1")
    assert k0 == 1000                 # weight 1.0 keeps everything
    assert 150 < k1 < 350             # ~25% of 1000
    again = mix_sources(df, {"s0": 1.0, "s1": 0.25}).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in again)
