"""Structured Streaming jobs: windowed aggregation with watermarks, and a
streaming encode sink (foreachBatch -> the same codec pipeline).

The reference has no streaming at all; its closest notion is stateful
running expressions over one ordered pass (stateful_expressions.h:17-21).
Here those semantics extend naturally: event-time windows + watermark for
late data, and per-micro-batch encoding for a continuously-appended
transcript table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def windowed_event_counts(events: DataFrame,
                          window: str = "10 minutes",
                          slide: str | None = None,
                          watermark: str = "30 minutes") -> DataFrame:
    """Tumbling/sliding window counts with late-data handling.
    events needs (ts timestamp, event_type string, value double)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (events.withWatermark("ts", watermark)
            .groupBy(w.alias("win"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                 .alias("sum_cents"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "event_type", "n", "sum_cents"))


def streaming_encode_sink(spark: SparkSession, stream: DataFrame,
                          out_dir: str, checkpoint_dir: str,
                          conv_key: str = "conv_id"):
    """writeStream.foreachBatch sink that runs each micro-batch through
    the codec encode pipeline — encoded block files accrete per batch,
    each batch checkpointed by Structured Streaming itself (exactly-once
    per epoch id)."""
    from ..pipeline import EncodeConfig, encode_table

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cfg = EncodeConfig(n_partitions=max(
            batch_df.sparkSession.sparkContext.defaultParallelism, 2))
        encode_table(batch_df.sparkSession, batch_df,
                     f"{out_dir}/epoch={epoch_id}", cfg,
                     fingerprint=f"epoch-{epoch_id}")

    return (stream.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def decode_stream(spark: SparkSession, out_dir: str,
                  schema=None, columns: list[str] | None = None) -> DataFrame:
    """Streaming DECODE source — the reader half of
    streaming_encode_sink: watch `out_dir` (recursively, e.g. the
    sink's epoch=N/blocks dirs) for new .ssb block files and decode
    each exactly once as it lands. Built on the binaryFile file source,
    so Structured Streaming's own file tracking provides the
    exactly-once-per-file guarantee; each file decodes through batch
    decode_table's kernel (store.read._decode_blocks). Pass `schema`
    (StructType or DDL) or let it load from the first epoch's meta.json.
    Blocks from epochs that lack a schema column yield it as NULLs, and
    columns the schema does not declare are dropped. `columns` projects
    at the BLOCK layer, same as batch decode_table — unneeded column
    frames (text, typically) are skipped by length arithmetic in the
    streaming reader too."""
    from pyspark.sql.types import StructType
    from ..store.layout import BLOCK_GLOB, first_meta
    from ..store.read import _decode_blocks
    if schema is None:
        meta = first_meta(out_dir)
        if meta is None:
            raise ValueError("no meta.json under out_dir yet; pass schema=")
        schema = StructType.fromJson(meta["spark_schema"])
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string
        schema = _parse_datatype_string(schema)
    if columns is not None:
        missing = [c for c in columns if c not in schema.names]
        if missing:
            raise KeyError(f"columns {missing} not in stream schema "
                           f"{schema.names}")
        schema = StructType([f for f in schema.fields
                             if f.name in set(columns)])

    src = (spark.readStream.format("binaryFile")
           # file streaming sources demand an explicit schema; binaryFile's
           # is fixed by the format
           .schema("path string, modificationTime timestamp, "
                   "length long, content binary")
           .option("pathGlobFilter", BLOCK_GLOB)
           .option("recursiveFileLookup", "true")
           .load(out_dir))

    def dec(batches):
        from ..runtime import pin_worker_threads
        pin_worker_threads()
        for batch in batches:
            for blob in batch.column(0):
                yield from _decode_blocks(blob.as_py(), schema)

    return src.select("content").mapInArrow(dec, schema=schema)


def running_sum_stream(stream: DataFrame, key_col: str, order_col: str,
                       value_col: str,
                       out_col: str = "running_sum") -> DataFrame:
    """Streaming RunningSum — the reference's stateful running expression
    (stateful_expressions.h:17-21 RunningSum) extended to an UNBOUNDED
    keyed stream via applyInPandasWithState: one long of state per key
    carries the total across micro-batches; rows inside each batch are
    ordered by order_col before the cumulative sum. Correct when each
    key's rows arrive in order_col order across batches (a file source
    replaying time-ordered files, or any per-key-ordered log). State is
    O(1) per distinct key — the state store scales with keys, never with
    rows."""
    import pandas as pd  # noqa: F401 (worker-side)
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    out_schema = (f"{key_col} {fields[key_col]}, "
                  f"{order_col} {fields[order_col]}, "
                  f"{value_col} {fields[value_col]}, {out_col} long")

    def fn(key, pdfs, state):
        import pandas as pd
        total = state.get[0] if state.exists else 0
        # applyInPandasWithState delivers one key's micro-batch rows as
        # MULTIPLE pandas chunks (~10k rows each); buffer and sort ONCE so
        # the cumulative sum follows order_col across the whole batch —
        # per-chunk sorting would sum in chunk-delivery order for large
        # groups and silently produce wrong running totals.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(order_col)
            sums = pdf[value_col].astype("int64").cumsum() + total
            total = int(sums.iloc[-1])
            out = pdf[[key_col, order_col, value_col]].copy()
            out[out_col] = sums.astype("int64")
            yield out
        state.update((total,))

    return (stream.groupBy(key_col)
            .applyInPandasWithState(fn, outputStructType=out_schema,
                                    stateStructType="total long",
                                    outputMode="append",
                                    timeoutConf="NoTimeout"))


def dedup_stream(stream: DataFrame, hash_col: str,
                 payload_cols: list[str],
                 order_col: str | None = None,
                 horizon_ms: int | None = None,
                 event_time_col: str | None = None) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST row ever seen per
    hash_col value; later arrivals (same batch or any later batch) are
    dropped. applyInPandasWithState keeps one boolean of state per
    distinct hash — the streaming form of the batch exact-dedup
    representative-keep, for continuously-appended corpora where a batch
    dropDuplicates would need the full history every run. Within a
    micro-batch the representative is the order_col-minimal row when
    order_col is given (deterministic), else the first delivered row.

    State is O(1) per distinct document and, with horizon_ms +
    event_time_col, BOUNDED: the stream must carry a watermark
    (withWatermark upstream), and a hash's state is dropped via
    EventTimeTimeout once the watermark passes horizon_ms beyond its
    LAST-SEEN event time — a duplicate arriving after the horizon is
    treated as new (re-emitted). That is the standard bounded-memory
    contract for infinite streams: exact dedup inside the horizon,
    state size O(distinct hashes per horizon)."""
    import pandas as pd  # noqa: F401 (worker-side)
    if (horizon_ms is None) != (event_time_col is None):
        raise ValueError("horizon_ms and event_time_col go together")
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    cols = [hash_col] + [c for c in payload_cols if c != hash_col]
    out_schema = ", ".join(f"{c} {fields[c]}" for c in cols)

    def fn(key, pdfs, state):
        import pandas as pd
        if horizon_ms is not None and state.hasTimedOut:
            state.remove()        # horizon passed: forget the hash
            return
        seen = state.exists
        last_ms = 0
        # buffer ALL chunks before choosing the representative: a key's
        # batch arrives as multiple pandas chunks, and the order_col-minimal
        # row may live in a later chunk than the first non-empty one
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            if horizon_ms is not None:
                last_ms = int(pdf[event_time_col].max().value // 10**6)
            if not seen:
                if order_col is not None:
                    pdf = pdf.sort_values(order_col)
                yield pdf[cols].head(1)
        state.update((True,))
        if horizon_ms is not None:
            # timeout anchors to the hash's last-seen EVENT time; must
            # stay ahead of the current watermark or Spark rejects it
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + horizon_ms, wm + 1))

    return (stream.groupBy(hash_col)
            .applyInPandasWithState(
                fn, outputStructType=out_schema,
                stateStructType="seen boolean", outputMode="append",
                timeoutConf=("EventTimeTimeout" if horizon_ms is not None
                             else "NoTimeout")))


def interval_join(left: DataFrame, right: DataFrame,
                  left_key: str, right_key: str,
                  left_time: str, right_time: str,
                  lower_seconds: int, upper_seconds: int,
                  watermark_delay: str = "10 minutes",
                  how: str = "inner") -> DataFrame:
    """Event-time interval join: pair each left row with the right rows of
    the same key whose time falls in [left_time + lower, left_time +
    upper]. On STREAMING inputs this is Spark's watermarked
    stream-stream join — the time bound is what lets the state store
    evict buffered rows once the watermark passes, so state is
    O(rows per key per interval), never the whole stream. On STATIC
    inputs the same plan is an ordinary range-condition join (Spark
    ignores withWatermark in batch), which is exactly what makes the
    semantics DuckDB-verifiable: the driver gate runs the batch twin,
    pytest proves stream == batch on replayed micro-batches.

    Columns of both inputs must be disjoint except for the join keys;
    the right key column is dropped from the output (it equals the
    left's). ``how`` may be "inner" or "leftOuter" (outer emission waits
    for the watermark on streams).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported join type {how!r}")
    overlap = (set(left.columns) & set(right.columns)) - {left_key}
    if overlap:
        raise ValueError(f"ambiguous columns {sorted(overlap)}; rename "
                         "one side before joining")
    lw = left.withWatermark(left_time, watermark_delay)
    rw = right.withWatermark(right_time, watermark_delay)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_time] >= lw[left_time]
           + F.expr(f"INTERVAL {int(lower_seconds)} SECONDS"))
        & (rw[right_time] <= lw[left_time]
           + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS")))
    out = lw.join(rw, cond, how)
    return out.drop(rw[right_key]) if right_key == left_key else \
        out.drop(right_key)


def merge_stream_sink(changes: DataFrame, bucket_dir: str,
                      op_col: str = "_op",
                      checkpoint: str | None = None):
    """Streaming MERGE sink: each micro-batch of tagged change rows
    ('upsert'/'delete' in `op_col`, see pipeline.merge_bucketized) is
    applied to the bucketized layout via foreachBatch — the CDC-apply
    path that keeps a 10^12-turn transcript table current from a change
    stream, touching only the bucket files each batch's conversations
    hash into.

    CONTRACT: every micro-batch must carry each upserted conversation
    COMPLETE — merge_bucketized replaces a conversation wholesale per
    call, so a conversation fragmented across batches would end up
    holding only its last fragment (observed: a mega-conversation split
    over 3 file-source batches silently lost 2/3 of its turns).
    Partition the change feed by conversation (e.g.
    ``df.repartition(n, "conv_id")`` before writing change files, or a
    conv-keyed Kafka topic) so batch boundaries align with
    conversations.

    Replay-safe under at-least-once foreachBatch semantics: applying
    the same batch twice is a no-op (upsert replaces with identical
    rows, delete of absent keys does nothing), so a post-failure batch
    replay converges to the same table. Returns the started
    StreamingQuery (caller controls trigger/termination).

    Scale: per micro-batch cost is O(touched bucket files), so
    steady-state maintenance tracks the change rate, not table size;
    the following encode_table_prebucketed run re-encodes only the
    rewritten files (per-file fingerprints).
    """
    from supersonic_spark.pipeline import merge_bucketized

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_bucketized(batch_df.sparkSession, batch_df, bucket_dir,
                         op_col)

    w = changes.writeStream.foreachBatch(_apply)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w
