"""Names and units of every metric the benchmark prints. BENCHMARK.json
lists the same names; selftest.py checks that the two agree."""

WORKLOADS = ("encode_read", "prebucketed_maintain")
COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

# printed with --trace 0, on every workload
END_TO_END = {
    "setup_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
    "turns_per_s": "turns/s",
    "round_s": "s",
    "bytes_per_turn": "B",
    "size_vs_reference": "ratio",
}

# printed with --trace 1, on every workload; a layer the workload does not
# run reads 0
PER_LAYER = {
    # set-up layers -> setup_s
    "session.get_spark_s": "s",
    "spark.warmup_s": "s",
    "datagen.generate_s": "s",
    "pipeline.bucketize_table_s": "s",
    "fixture.encode_s": "s",
    # Spark scheduling per round, from StatusTracker
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.empty_job_s": "s",
    # encode_read: cumulative-prefix self times of the encode
    "spark.scan_s": "s",
    "pipeline.salted_repartition_s": "s",
    "arrow.roundtrip_s": "s",
    "pipeline.encode_table_s": "s",
    "pipeline.kernel_cpu_s": "s",
    # prebucketed_maintain
    "pipeline.encode_table_prebucketed_s": "s",
    "pipeline.pb_kernel_cpu_s": "s",
    "pipeline.merge_bucketized_s": "s",
    "pipeline.incremental_encode_s": "s",
    "pipeline.resume_s": "s",
    "pipeline.touched_buckets": "count",
    "pipeline.chunks_reencoded": "count",
    "pipeline.chunks_resumed": "count",
    "pipeline.reencoded_per_touched": "ratio",
    # encode_read: the reads
    "pipeline.decode_scan_s": "s",
    "read.projected_turns_per_s": "turns/s",
    "pipeline.decode_table_call_ms": "ms",
    "lookup.exec_ms": "ms",
    "lookup.p50_ms": "ms",
    "lookup.p90_ms": "ms",
    "lookup.count": "count",
    "lookup.tasks_per_lookup": "count",
    "lookup.rows_returned": "count",
    # the ledger of the traced rounds
    "trace.round_s": "s",
    "trace.other_s": "s",
    "trace.accounted_share": "ratio",
    "trace.spans": "count",
    "trace.overhead_pct": "%",
}
for _c in COLUMNS:
    PER_LAYER[f"selector.choose_codec.{_c}_ms"] = "ms"
    PER_LAYER[f"codecs.encode_column.{_c}_mb_s"] = "MB/s"
    PER_LAYER[f"codecs.decode_column.{_c}_mb_s"] = "MB/s"
    PER_LAYER[f"codecs.{_c}.bytes_per_turn"] = "B"
