"""Benchmark inputs: the generated transcript table, cached on disk by
everything that determines it, and the in-process codec layer probes."""

from __future__ import annotations

import os
import shutil
import statistics
import time

from supersonic_spark.datagen import (MEGA_EVERY_DEFAULT, MEGA_LEN_DEFAULT,
                                      generate_transcripts,
                                      generate_transcripts_local)

CACHE_KEEP = 32         # newest generated inputs kept (about 10 MB each)
CHUNK_ROWS = 65536      # rows per chunk of the in-process codec probes


def transcripts(spark, cache_dir: str, n_convs: int, seed: int) -> str:
    """Parquet path of the generated transcripts for (n_convs, seed, mega
    parameters), generating it on a miss. Only inputs are cached, never
    encoded output: every run encodes with the code under test."""
    key = (f"transcripts-n{n_convs}-s{seed}"
           f"-m{MEGA_EVERY_DEFAULT}x{MEGA_LEN_DEFAULT}")
    path = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return path
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    generate_transcripts(spark, n_convs=n_convs, seed=seed,
                         mega_every=MEGA_EVERY_DEFAULT,
                         mega_len=MEGA_LEN_DEFAULT) \
        .write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    entries = sorted((e for e in os.scandir(cache_dir)
                      if e.name.startswith("transcripts-")),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[CACHE_KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return path


def codec_layers(seed: int, reps: int = 5) -> dict[str, float]:
    """Selector and codec kernels in the driver, per column, on one
    CHUNK_ROWS-row chunk of the seeded transcripts in encode order:
    selection ms, encode and decode MB/s of reference-layout bytes, and
    encoded bytes per turn. Medians over `reps`."""
    import supersonic_spark.codecs as C
    from supersonic_spark.selector import choose_codec
    n = 1024
    tbl = generate_transcripts_local(n, seed)
    while tbl.num_rows < CHUNK_ROWS:
        n *= 2
        tbl = generate_transcripts_local(n, seed)
    chunk = tbl.slice(0, CHUNK_ROWS)
    entropy = "lz4"    # EncodeConfig's default entropy stage

    def timed(fn):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts), out

    out: dict[str, float] = {}
    for name in chunk.column_names:
        col = chunk.column(name).combine_chunks()
        mb = C.reference_column_size(col) / 1e6
        sel_s, (codec, _) = timed(lambda: choose_codec(col, entropy=entropy))
        enc_s, frame = timed(lambda: C.encode_column(col, codec, entropy))
        dec_s, _ = timed(lambda: C.decode_column(frame))
        out[f"selector.choose_codec.{name}_ms"] = sel_s * 1e3
        out[f"codecs.encode_column.{name}_mb_s"] = mb / enc_s
        out[f"codecs.decode_column.{name}_mb_s"] = mb / dec_s
        out[f"codecs.{name}.bytes_per_turn"] = len(frame) / chunk.num_rows
    return out
