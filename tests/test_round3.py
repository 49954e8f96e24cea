"""Round-3 additions: shared prefix-sum primitive (with_prefix_sum),
scale-safe grouped pack_sequences, bucketed range join, N-ary
coalesce_zip, ANN multi-query tie exactness, interrupt classification,
multimodal decode seam, row-local skew salt."""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F


# --- with_prefix_sum -------------------------------------------------------

def test_with_prefix_sum_ungrouped_matches_naive(spark):
    from supersonic_spark.operators.core import with_prefix_sum
    rows = [(i, (i * 7) % 10 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = with_prefix_sum(df, ["id"], "v", out="ps", n_partitions=7)
    got = {r["id"]: r["ps"] for r in out.collect()}
    acc = 0
    for i, v in rows:
        assert got[i] == acc, f"id {i}"
        acc += v


def test_with_prefix_sum_grouped_restarts_per_group(spark):
    from supersonic_spark.operators.core import with_prefix_sum
    rows = [(f"g{i % 3}", i, i % 5 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = with_prefix_sum(df, ["id"], "v", out="ps", group_cols=["g"],
                          n_partitions=5)
    got = {(r["g"], r["id"]): r["ps"] for r in out.collect()}
    acc: dict = {}
    for g, i, v in sorted(rows, key=lambda r: (r[0], r[1])):
        assert got[(g, i)] == acc.get(g, 0), (g, i)
        acc[g] = acc.get(g, 0) + v


def test_with_prefix_sum_boolean_group(spark):
    # Spark casts booleans to 'true'/'false'; Python str() gives
    # 'True'/'False' — the offset-map keys must agree
    from supersonic_spark.operators.core import with_prefix_sum
    rows = [(i % 2 == 0, i, 1) for i in range(100)]
    df = spark.createDataFrame(rows, "g boolean, id long, v long")
    out = with_prefix_sum(df, ["id"], "v", out="ps", group_cols=["g"],
                          n_partitions=4)
    got = {(r["g"], r["id"]): r["ps"] for r in out.collect()}
    acc = {True: 0, False: 0}
    for g, i, v in sorted(rows, key=lambda r: (not r[0], r[1])):
        assert got[(g, i)] == acc[g], (g, i)
        acc[g] += v


def test_with_prefix_sum_null_group_and_inclusive(spark):
    from supersonic_spark.operators.core import with_prefix_sum
    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 20), ("a", 3, 5)],
        "g string, id long, v long")
    out = with_prefix_sum(df, ["id"], "v", out="ps", group_cols=["g"],
                          n_partitions=2, inclusive=True)
    got = {r["id"]: r["ps"] for r in out.collect()}
    assert got == {1: 10, 2: 30, 3: 5}


def test_with_prefix_sum_no_whole_group_window(spark):
    # the scale property itself: the Window in the plan partitions on
    # (physical partition, group), never on the group alone
    from supersonic_spark.operators.core import with_prefix_sum
    df = spark.createDataFrame([("g", i, 1) for i in range(10)],
                               "g string, id long, v long")
    out = with_prefix_sum(df, ["id"], "v", group_cols=["g"], n_partitions=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "partitionBy" not in line:
            # the window spec line lists partition exprs; _mid-derived
            # pid must appear wherever g does
            if "windowspecdefinition(g#" in line:
                assert "shiftright" in line, line


# --- pack_sequences grouped path -------------------------------------------

def test_pack_sequences_grouped_matches_naive(spark):
    from supersonic_spark.text.curate import pack_sequences
    rows = [(f"s{i % 2}", i, "tok " * ((i % 7) + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = pack_sequences(df, 40, id_col="doc_id", group_col="source")
    got = {(r["source"], r["doc_id"]): (r["n_tokens"], r["bin_id"])
           for r in out.collect()}
    acc: dict = {}
    for s, i, t in sorted(rows, key=lambda r: (r[0], r[1])):
        n = len(t.split())
        assert got[(s, i)] == (n, acc.get(s, 0) // 40), (s, i)
        acc[s] = acc.get(s, 0) + n


# --- bucketed range join ---------------------------------------------------

def _range_inputs(spark):
    pts = spark.createDataFrame(
        [(i % 3, i, float((i * 13) % 100)) for i in range(200)],
        "k int, pid long, x double")
    ivs = spark.createDataFrame(
        [(i % 3, float(i * 7 % 90), float(i * 7 % 90 + (i % 4) * 15), i)
         for i in range(40)],
        "k int, lo double, hi double, iid long")
    return pts, ivs


def test_range_join_bucketed_matches_theta(spark):
    from supersonic_spark.operators.asof import range_join, range_join_bucketed
    pts, ivs = _range_inputs(spark)
    want = sorted((r["pid"], r["iid"]) for r in
                  range_join(pts, ivs, "k", "x", "lo", "hi")
                  .select("pid", "iid").collect())
    got = sorted((r["pid"], r["iid"]) for r in
                 range_join_bucketed(pts, ivs, "k", "x", "lo", "hi",
                                     bin_width=16)
                 .select("pid", "iid").collect())
    assert got == want and len(got) > 0


def test_range_join_bucketed_no_nested_loop(spark):
    from supersonic_spark.operators.asof import range_join_bucketed
    pts, ivs = _range_inputs(spark)
    out = range_join_bucketed(pts, ivs, "k", "x", "lo", "hi", bin_width=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_range_join_bucketed_rejects_bad_width(spark):
    from supersonic_spark.operators.asof import range_join_bucketed
    pts, ivs = _range_inputs(spark)
    with pytest.raises(ValueError):
        range_join_bucketed(pts, ivs, "k", "x", "lo", "hi", bin_width=0)


# --- N-ary coalesce_zip ----------------------------------------------------

def test_coalesce_zip_three_frames(spark):
    from supersonic_spark.operators import coalesce_zip
    a = spark.createDataFrame([(i,) for i in range(5)], "a long")
    b = spark.createDataFrame([(i * 10,) for i in range(5)], "b long")
    c = spark.createDataFrame([(i * 100,) for i in range(3)], "c long")
    out = coalesce_zip(a, b, c).orderBy("a").collect()
    # zip truncates to the shortest child, positionally aligned
    assert [(r["a"], r["b"], r["c"]) for r in out] == \
        [(0, 0, 0), (1, 10, 100), (2, 20, 200)]
    with pytest.raises(ValueError):
        coalesce_zip(a)


# --- ANN multi-query tie exactness -----------------------------------------

def test_ann_multi_tie_break_prefers_low_ids(spark):
    # ADVICE repro: identical vectors — winners must be the LOWEST ids
    from supersonic_spark.ann import cosine_topk_multi_arrow
    vecs = [(i, [1.0, 2.0, 3.0]) for i in range(10)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = cosine_topk_multi_arrow(df, [[1.0, 2.0, 3.0]], k=2)
    got = sorted(r["vec_id"] for r in out.collect())
    assert got == [0, 1], got


def test_ann_multi_tie_rounded_equal_unrounded_inverted(spark):
    # >k rows whose scores round equal while their unrounded order is
    # INVERSE to id order, in one Arrow batch (VERDICT item 3 done-bar)
    from supersonic_spark.ann import cosine_topk_multi_arrow
    base = np.array([1.0, 0.0])
    rows = []
    n = 40
    for i in range(n):
        # tiny angle jitter, decreasing with id: higher ids score
        # (unrounded) HIGHER, all round to the same 4dp value
        eps = 1e-7 * (n - i)
        v = [float(np.cos(eps)), float(np.sin(eps))]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk_multi_arrow(df, [[1.0, 0.0]], k=5)
    got = sorted(r["vec_id"] for r in out.collect())
    assert got == [0, 1, 2, 3, 4], got


def test_ann_multi_matches_single_on_random(spark):
    from supersonic_spark.ann import cosine_topk_arrow, cosine_topk_multi_arrow
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [[float(x) for x in rng.normal(size=8)] for _ in range(3)]
    multi = cosine_topk_multi_arrow(df, queries, k=7)
    for qi, q in enumerate(queries):
        single = [(r["vec_id"], r["cos_sim"])
                  for r in cosine_topk_arrow(df, q, 7).collect()]
        got = [(r["vec_id"], r["cos_sim"])
               for r in multi.filter(F.col("query_id") == qi)
               .orderBy(F.col("cos_sim").desc(), "vec_id").collect()]
        assert got == single, qi


# --- interrupt classification ----------------------------------------------

def test_was_interrupted_classification():
    from supersonic_spark.interrupt import was_interrupted
    real = RuntimeError(
        "Job 3 cancelled part of cancelled job group my-group")
    assert was_interrupted(real)
    assert was_interrupted(real, group_id="my-group")
    assert not was_interrupted(real, group_id="other-group")
    # the word alone must NOT classify (data/query errors mentioning it)
    assert not was_interrupted(RuntimeError("order was cancelled by user"))
    # cause-chain walk
    outer = RuntimeError("wrapper")
    outer.__cause__ = real
    assert was_interrupted(outer, group_id="my-group")


# --- multimodal decode seam ------------------------------------------------

def test_decode_image_dispatch_stub_branch():
    import supersonic_spark.multimodal as mm
    if mm._PIL_Image is None:
        assert mm.decode_image(b"abcd" * 100) == mm.decode_image_stub(b"abcd" * 100)
    with pytest.raises(ValueError):
        mm.decode_image(b"")


def test_decode_image_pil_branch(monkeypatch):
    import supersonic_spark.multimodal as mm

    class FakeImg:
        width, height = 3, 2

        def convert(self, mode):
            assert mode == "L"
            return np.arange(6, dtype=np.uint8).reshape(2, 3)

    class FakePIL:
        @staticmethod
        def open(fp):
            return FakeImg()

    monkeypatch.setattr(mm, "_PIL_Image", FakePIL)
    w, h, m = mm.decode_image(b"\x89PNG fake")
    assert (w, h, m) == (3, 2, float(np.arange(6).mean()))


# --- decode projection + zone-map pruning ----------------------------------

def test_decode_block_projection(spark):
    import pyarrow as pa
    from supersonic_spark.codecs import (block_span, decode_block,
                                         encode_block)
    from supersonic_spark.selector import choose_codecs
    tbl = pa.table({"a": list(range(100)),
                    "b": [f"s{i}" for i in range(100)],
                    "c": [float(i) for i in range(100)]})
    buf = encode_block(tbl, choose_codecs(tbl))
    out, used = decode_block(buf, columns=["c", "a"])
    assert used == len(buf) == block_span(buf)
    assert out.column_names == ["a", "c"]   # block order preserved
    assert out.column("a").to_pylist() == list(range(100))
    assert out.column("c").to_pylist() == [float(i) for i in range(100)]
    with pytest.raises(KeyError):
        decode_block(buf, columns=["nope"])


def test_decode_table_projection_and_pruning(spark, tmp_path):
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    from supersonic_spark.store.read import _pruned_chunks
    # mega conversations guarantee chunks whose turn_idx min is high, so
    # a low-range predicate genuinely prunes
    df = generate_transcripts(spark, n_convs=60, seed=3,
                              mega_every=10, mega_len=2000)
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=256)
    encode_table(spark, df, out, cfg, fingerprint="zone-test")
    # projection only: same rows, fewer columns
    proj = decode_table(spark, out, columns=["conv_id", "turn_idx"])
    assert proj.columns == ["conv_id", "turn_idx"]
    assert proj.count() == df.count()
    # predicate: exact rows, and the zone map prunes at least one chunk
    lo, hi = 0, 1
    dec = decode_table(spark, out, columns=["conv_id", "turn_idx"],
                       predicate=("turn_idx", lo, hi))
    want = sorted((r["conv_id"], r["turn_idx"]) for r in
                  df.filter(F.col("turn_idx").between(lo, hi))
                  .select("conv_id", "turn_idx").collect())
    got = sorted((r["conv_id"], r["turn_idx"]) for r in dec.collect())
    assert got == want and len(got) > 0
    keep = _pruned_chunks(spark, out, [("turn_idx", lo, hi)])
    man = spark.read.parquet(out + "/manifest")
    total = (man.filter(F.col("column") == "turn_idx")
             .select("partition_id", "chunk_id").distinct().count())
    kept = sum(len(s) for s in keep.values())
    assert kept < total, f"zone map pruned nothing ({kept}/{total})"


def test_decode_table_conjunctive_predicates(spark, tmp_path):
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    df = generate_transcripts(spark, n_convs=40, seed=9)
    out = str(tmp_path / "enc_conj")
    encode_table(spark, df, out, EncodeConfig(n_partitions=3, chunk_rows=128),
                 fingerprint="conj")
    preds = [("turn_idx", 2, 6), ("role", "a", "m")]
    dec = decode_table(spark, out, columns=["conv_id", "turn_idx", "role"],
                       predicate=preds)
    want = sorted((r["conv_id"], r["turn_idx"], r["role"]) for r in
                  df.filter(F.col("turn_idx").between(2, 6)
                            & F.col("role").between("a", "m"))
                  .select("conv_id", "turn_idx", "role").collect())
    got = sorted((r["conv_id"], r["turn_idx"], r["role"])
                 for r in dec.collect())
    assert got == want and len(got) > 0


def test_decode_table_string_predicate(spark, tmp_path):
    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table)
    rows = [(f"c{i:03d}", j, f"txt {i} {j}")
            for i in range(20) for j in range(30)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = str(tmp_path / "enc_s")
    encode_table(spark, df, out,
                 EncodeConfig(n_partitions=3, chunk_rows=64),
                 fingerprint="strpred")
    dec = decode_table(spark, out, columns=["conv_id", "text"],
                       predicate=("conv_id", "c005", "c007"))
    want = sorted((r["conv_id"], r["text"]) for r in
                  df.filter(F.col("conv_id").between("c005", "c007"))
                  .select("conv_id", "text").collect())
    got = sorted((r["conv_id"], r["text"]) for r in dec.collect())
    assert got == want and len(got) == 90


# --- encode prefetch --------------------------------------------------------

def test_prefetched_yields_input_unchanged():
    from supersonic_spark.store.encode import _prefetched
    items = [object() for _ in range(25)]
    assert list(_prefetched(iter(items))) == items   # same objects, order
    assert list(_prefetched(iter(()))) == []


def test_prefetched_propagates_reader_errors():
    from supersonic_spark.store.encode import _prefetched

    def boom():
        yield "a"
        raise RuntimeError("reader died")

    it = _prefetched(boom())
    assert next(it) == "a"
    with pytest.raises(RuntimeError, match="reader died"):
        list(it)


# --- curation: per-group sampling + PII redaction ---------------------------

def test_sample_per_group_caps_and_is_deterministic(spark):
    from supersonic_spark.text.curate import sample_per_group
    rows = [(f"s{i % 3}", i, f"t{i}") for i in range(90)]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out1 = sorted(r["doc_id"] for r in sample_per_group(df, 10).collect())
    out2 = sorted(r["doc_id"] for r in
                  sample_per_group(df.repartition(7), 10).collect())
    assert out1 == out2 and len(out1) == 30   # 10 per source, stable
    per_src = {}
    for r in sample_per_group(df, 10).collect():
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
    assert all(v == 10 for v in per_src.values())


def test_redact_pii_patterns(spark):
    from supersonic_spark.text.analysis import redact_pii
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@exam-ple.org now"),
         (2, "call +1 (555) 123-4567 ok"),
         (3, "token deadbeefcafe1234deadbeef here"),
         (4, "clean text only")],
        "id long, text string")
    got = {r["id"]: r["red"] for r in
           df.select("id", redact_pii(F.col("text")).alias("red")).collect()}
    assert got[1] == "mail me at <EMAIL> now"
    assert got[2] == "call +<NUM> ok"
    assert got[3] == "token <HEX> here"
    assert got[4] == "clean text only"


# --- token rarity (unigram LM signal) ---------------------------------------

def test_token_rarity_hand_computed(spark):
    from supersonic_spark.text.analysis import token_rarity_scores
    df = spark.createDataFrame([(1, "a a b"), (2, "b c")],
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["rarity_sum"], r["avg_rarity_x100"])
           for r in token_rarity_scores(df).collect()}
    # total 5 tokens; buckets: a -> len(bin(5 div 2))=2, b -> 2,
    # c -> len(bin(5))=3
    assert got == {1: (3, 6, 200), 2: (2, 5, 250)}, got


# --- byte-sliced bit-packing ------------------------------------------------

def test_pack_ints_block_roundtrip_all_widths():
    import struct
    from supersonic_spark.codecs.bitutil import (pack_ints_block,
                                                 unpack_ints_block)
    rng = np.random.default_rng(0)
    for width in (0, 1, 3, 6, 7, 8, 9, 12, 15, 16, 17, 24, 31, 33, 40, 63):
        hi = (1 << width) if width else 1
        v = rng.integers(-(hi // 2), hi // 2 if hi > 1 else 1,
                         size=4001).astype(np.int64)
        buf = pack_ints_block(v)
        # widths >= 8 must carry the sliced-layout flag, narrower not
        assert bool(buf[16] & 0x80) == (width >= 8 and v.max() > v.min()
                                        and (int(v.max()) - int(v.min()))
                                        .bit_length() >= 8), width
        out, used = unpack_ints_block(buf)
        assert used == len(buf) and np.array_equal(out, v), width


def test_unpack_ints_block_decodes_old_container_layout():
    # blocks written before the sliced layout carry a bare width byte;
    # they must keep decoding through the container path
    import struct
    from supersonic_spark.codecs.bitutil import pack_uints, unpack_ints_block
    rng = np.random.default_rng(1)
    v = rng.integers(0, 1 << 12, size=2000).astype(np.int64)
    ref = int(v.min())
    width = int(int(v.max()) - ref).bit_length()
    old = (struct.pack("<q", ref) + struct.pack("<Q", len(v))
           + bytes([width]) + pack_uints((v - ref).view(np.uint64), width))
    out, used = unpack_ints_block(old)
    assert used == len(old) and np.array_equal(out, v)


def test_pfor_delta_old_width_byte_decodes():
    import struct
    from supersonic_spark.codecs.kernels import (decode_pfor_delta,
                                                 encode_pfor_delta,
                                                 typecode_of)
    import pyarrow as pa
    # new frames round-trip (including a width >= 8 delta stream)
    vals = np.cumsum(np.random.default_rng(2).integers(
        0, 5000, size=5000)).astype(np.int64)
    arr = pa.array(vals, pa.int64())
    tc = typecode_of(arr.type)
    buf = encode_pfor_delta(arr, tc)
    assert buf[16] & 0x80, "wide delta stream should use sliced layout"
    assert decode_pfor_delta(buf, len(arr), tc).equals(arr)


# --- manifest compatibility -------------------------------------------------

def test_manifest_batch_accepts_pre_zonemap_rows():
    # resume markers written before zone maps existed lack the stats
    # keys; they must still load (their chunks simply can't be pruned)
    from supersonic_spark.store.stats import _manifest_batch
    row = {"partition_id": 0, "chunk_id": 0, "column": "c", "codec": "rle",
           "n_rows": 10, "bytes_in": 100, "bytes_out": 50,
           "encode_sec": 0.1, "crc32": 123, "resumed": True}
    batch = _manifest_batch([row])
    assert batch.num_rows == 1
    assert batch.column(batch.schema.get_field_index("vmin_num"))[0].as_py() is None


# --- streaming decode source ------------------------------------------------

def test_decode_stream_reads_new_blocks_incrementally(spark, tmp_path):
    from supersonic_spark.datagen import generate_transcripts
    from supersonic_spark.streaming import (decode_stream,
                                            streaming_encode_sink)

    src_dir = str(tmp_path / "src")
    df = generate_transcripts(spark, n_convs=40, seed=2, mega_every=0)
    df.write.mode("overwrite").parquet(src_dir)
    n_src = spark.read.parquet(src_dir).count()

    enc_dir = str(tmp_path / "enc")
    stream = (spark.readStream.schema(spark.read.parquet(src_dir).schema)
              .parquet(src_dir))
    q = streaming_encode_sink(spark, stream, enc_dir,
                              str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)

    sink_dir = str(tmp_path / "dec_sink")
    ckpt2 = str(tmp_path / "ckpt2")

    def drain():
        q = (decode_stream(spark, enc_dir).writeStream.format("parquet")
             .option("path", sink_dir).option("checkpointLocation", ckpt2)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(sink_dir).count()

    assert drain() == n_src

    # a second epoch lands -> the restarted query decodes ONLY new blocks
    df2 = generate_transcripts(spark, n_convs=10, seed=7, mega_every=0)
    from supersonic_spark.pipeline import EncodeConfig, encode_table
    encode_table(spark, df2, enc_dir + "/epoch=99",
                 EncodeConfig(n_partitions=2), fingerprint="late-epoch")
    n2 = df2.count()
    got2 = drain()
    assert got2 == n_src + n2, f"expected {n_src}+{n2} total, got {got2}"

    # value fidelity: decoded union matches source union by keys
    dec_all = decode_stream(spark, enc_dir)
    q4 = (dec_all.writeStream.format("memory").queryName("dec_all")
          .trigger(availableNow=True).start())
    q4.awaitTermination(120)
    want = {(r["conv_id"], r["turn_idx"], r["text"])
            for r in df.unionByName(df2).collect()}
    got = {(r["conv_id"], r["turn_idx"], r["text"])
           for r in spark.sql("SELECT conv_id, turn_idx, text FROM dec_all")
           .collect()}
    assert got == want


# --- row-local skew salt ----------------------------------------------------

def test_row_local_salt_splits_only_mega_tails(spark):
    from supersonic_spark.pipeline import EncodeConfig, salted_repartition
    rows = [("short", i, f"t{i}") for i in range(50)]
    rows += [("mega", i, f"m{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    cfg = EncodeConfig(n_partitions=4, salt_threshold=100, salt_block=64)
    arr = salted_repartition(df, cfg)
    pid = (arr.withColumn("_p", F.spark_partition_id())
           .groupBy("conv_id").agg(F.countDistinct("_p").alias("np")))
    got = {r["conv_id"]: r["np"] for r in pid.collect()}
    assert got["short"] == 1          # below threshold: stays contiguous
    assert got["mega"] > 1            # tail beyond threshold splits
