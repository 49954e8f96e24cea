"""Microbenchmark: vectorized bloom chunk probe vs the per-row scalar
loop it replaced (round-5 VERDICT item 3), at manifest scale.

Builds N realistic per-chunk blooms (mixed sizes, as _bloom_build
auto-sizes them), then probes all of them with a V-value IN-list two
ways:

  - scalar: the pre-round-5 per-row Python loop
    (base64 decode + any(_bloom_member(v, blob) for v in values))
  - vectorized: bloom_probe_b64 — the probe decode_table's chunk
    pruning kernel (store.read._survivors) runs over the manifest rows a
    zone map kept: batched LUT gathers straight out of the base64
    text (only the 4-char group each probe position touches is decoded),
    with early-exit on already-kept rows

Both run single-threaded on identical inputs; outputs are asserted
identical. Writes BENCH/bloom_probe.json.

Usage: python tools/bloom_probe_bench.py [--rows 100000] [--values 8]
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from supersonic_spark.store.stats import (_bloom_build,  # noqa: E402
                                          _bloom_member, bloom_probe_b64)


def build_manifest_blobs(n_rows: int, seed: int = 7) -> list[str]:
    rng = np.random.default_rng(seed)
    blobs = []
    # a handful of distinct chunk profiles (distinct-count drives bloom
    # size), reused across rows — building 10^5 unique blooms is the
    # encode job's cost, not the probe's
    profiles = []
    for i in range(32):
        n = int(rng.integers(16, 2048))
        vals = rng.integers(0, 10 ** 9, n)
        profiles.append(_bloom_build(pa.array(vals, pa.int64()), 256, 6))
    for i in range(n_rows):
        blobs.append(profiles[i % len(profiles)])
    return blobs


def scalar_probe(blobs: list[str], values: list) -> np.ndarray:
    keep = np.zeros(len(blobs), dtype=bool)
    for i, b in enumerate(blobs):
        if b is None:
            keep[i] = True
            continue
        blob = base64.b64decode(b)
        keep[i] = any(_bloom_member(v, blob) for v in values)
    return keep


def vectorized_probe(arr: pa.Array, values: list) -> np.ndarray:
    # in store.read._survivors the column arrives as Arrow already (read
    # from the manifest files) — the probe never sees Python strings
    return bloom_probe_b64(arr, values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--values", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    blobs = build_manifest_blobs(args.rows)
    arr = pa.array(blobs, pa.string())
    rng = np.random.default_rng(17)
    # mix of present and absent values, like a real IN-list lookup
    values = [int(v) for v in rng.integers(0, 10 ** 9, args.values)]

    ref = scalar_probe(blobs, values)
    got = vectorized_probe(arr, values)
    assert (ref == got).all(), "probe outputs differ"

    def best_of(fn, arg):
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            fn(arg, values)
            best = min(best, time.perf_counter() - t0)
        return best

    t_scalar = best_of(scalar_probe, blobs)
    t_vec = best_of(vectorized_probe, arr)
    out = {
        "manifest_rows": args.rows,
        "in_list_values": args.values,
        "kept_chunks": int(ref.sum()),
        "scalar_probe_sec": round(t_scalar, 4),
        "vectorized_probe_sec": round(t_vec, 4),
        "speedup": round(t_scalar / t_vec, 1),
        "outputs_identical": True,
    }
    dst = os.path.join(REPO, "BENCH", "bloom_probe.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
