"""spark-submit entry point for the transcript encode job.

Run:
  spark-submit --master local[N] --py-files supersonic_spark.zip \
      tools/encode_job.py --input DIR --out DIR [--fingerprint F]

Prints one JSON line with wall-clock, turns/sec, bytes in/out.
This is the job the scaling-efficiency evidence runs at two parallelism
levels (north rule: N vs 4N executors, efficiency >= 0.8).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--fingerprint", default="auto",
                    help="'auto' derives the input snapshot fingerprint "
                         "(changed input invalidates checkpoints)")
    ap.add_argument("--n-partitions", type=int, default=None)
    ap.add_argument("--chunk-rows", type=int, default=65536)
    ap.add_argument("--prebucketed", action="store_true",
                    help="input dir is a bucketize_table() layout (one "
                         "bucket file per hash(conv_id) slice): encode "
                         "shuffle-free, files packed into at most one task "
                         "per core, parquet read + C++ sort + codecs all "
                         "inside the Python kernel")
    ap.add_argument("--verify", action="store_true",
                    help="decode + full bit-identity check after encode")
    ap.add_argument("--warmup", action="store_true",
                    help="run one throwaway encode first (warm workers/JIT; "
                         "measures steady-state as on long-running executors)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F
    # every setting comes from spark-submit's --conf flags, which
    # tools/scaling_bench.py takes from session.spark_conf
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                           encode_table,
                                           encode_table_prebucketed,
                                           roundtrip_mismatch_count)

    df = spark.read.parquet(args.input)
    n_turns = df.count()  # warms page cache; excluded from encode timing

    if args.fingerprint == "auto":
        from supersonic_spark.sources import table_fingerprint
        args.fingerprint = table_fingerprint(spark, args.input)

    cfg = EncodeConfig(n_partitions=args.n_partitions or 2 * cores,
                       chunk_rows=args.chunk_rows)
    def encode(dest, fp):
        if args.prebucketed:
            return encode_table_prebucketed(spark, args.input, dest, cfg,
                                            fingerprint=fp)
        return encode_table(spark, df, dest, cfg, fingerprint=fp)

    if args.warmup:
        import shutil
        import tempfile
        wdir = tempfile.mkdtemp(prefix="ssenc_warm_")
        encode(wdir, "warmup")
        shutil.rmtree(wdir, ignore_errors=True)
    t0 = time.perf_counter()
    man = encode(args.out, args.fingerprint)
    tot = man.agg(F.sum("bytes_in").alias("bi"),
                  F.sum("bytes_out").alias("bo")).collect()[0]
    wall = time.perf_counter() - t0

    result = {
        "cores": cores,
        "n_turns": n_turns,
        "encode_sec": round(wall, 3),
        "turns_per_sec": round(n_turns / wall, 1),
        "bytes_in": int(tot.bi),
        "bytes_out": int(tot.bo),
        "bytes_per_turn": round(tot.bo / max(n_turns, 1), 2),
        "compression_ratio": round(tot.bo / max(tot.bi, 1), 4),
    }
    if args.verify:
        dec = decode_table(spark, args.out)
        result["mismatches"] = roundtrip_mismatch_count(df, dec)
    print("ENCODE_RESULT " + json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
