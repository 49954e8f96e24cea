"""Manifest-scale prune probe: how long decode_table's chunk pruning
(store.read._pruned_chunks, run on the driver one manifest file at a
time) takes, and how much memory it holds, on manifests far larger than
any test or perfbench table.

Synthesizes a block table's meta.json and manifest fragments, without
block files: --fragments files of --chunks chunks each, 7 columns per
chunk (transcript-shaped), disjoint conv_id and turn_idx zone maps per
chunk, and blooms on conv_id only: 16 real _bloom_build blobs of --keys
keys, blob b built from chunk b's keys, and chunk g carrying blob
g mod 16. Then, for each predicate, a fresh process times
_pruned_chunks and records its survivors and the process's peak RSS:

  point      one conv_id key (zone maps keep one chunk, its bloom holds it)
  wide_in    an IN-list of 2 conv_id keys whose range spans every zone,
             so every bloom blob is probed
  range_all  a turn_idx range every chunk overlaps
  range_1pc  a turn_idx range about 1% of chunks overlap

Planning reads only the session timezone from Spark, so the probe passes
a stand-in that answers UTC and starts no JVM. Results are merged into
BENCH/prune_scale.json under --side and the chunk count, with the host
fingerprint perfbench records.

Usage:
  python tools/prune_scale_bench.py --fragments 20 --chunks 5000 --keys 8000
  python tools/prune_scale_bench.py --fragments 64 --chunks 6250 --keys 2000
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

_COLUMNS = [("conv_id", "string"), ("turn_idx", "integer"),
            ("role", "string"), ("text", "string"), ("tool", "string"),
            ("ts", "timestamp"), ("n_tokens", "integer")]
_TURNS = 1000                   # turn_idx zone width per chunk
_BLOBS = 16


def _key(i: int) -> str:
    return f"c{i:09d}"


def synthesize(d: str, fragments: int, chunks: int, keys: int) -> None:
    """meta.json and `fragments` manifest files of `chunks` chunks each
    under table directory d."""
    import pyarrow as pa
    from supersonic_spark.store import layout
    from supersonic_spark.store.stats import (_BLOOM_BITS, _BLOOM_HASHES,
                                              STATS_VERSION, _bloom_build)
    blobs = [_bloom_build(pa.array([_key(b * keys + j) for j in range(keys)]),
                          _BLOOM_BITS, _BLOOM_HASHES) for b in range(_BLOBS)]
    for pid in range(fragments):
        rows = []
        for cid in range(chunks):
            g = pid * chunks + cid
            for name, typ in _COLUMNS:
                row = {"partition_id": pid, "chunk_id": cid, "column": name,
                       "codec": "plain", "n_rows": keys, "bytes_in": 0,
                       "bytes_out": 0, "encode_sec": 0.0, "crc32": 0,
                       "resumed": False, "n_nulls": 0}
                if name == "conv_id":
                    row.update(vmin_str=_key(g * keys),
                               vmax_str=_key(g * keys + keys - 1),
                               bloom_b64=blobs[g % _BLOBS])
                elif name == "turn_idx":
                    row.update(vmin_num=float(g * _TURNS),
                               vmax_num=float(g * _TURNS + _TURNS - 1))
                rows.append(row)
        layout._write_fragment(layout._partition_files(d, pid, "probe")[1],
                               rows)
    layout._write_meta(d, {
        "stats_version": STATS_VERSION,
        "spark_schema": {"type": "struct", "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in _COLUMNS]}})


def predicates(n_chunks: int, keys: int) -> dict[str, list[tuple]]:
    last = n_chunks * keys - 1
    top = n_chunks * _TURNS - 1
    return {
        "point": [("conv_id", _key(5 * keys + 7), _key(5 * keys + 7))],
        "wide_in": [("conv_id", [_key(0), _key(last)])],
        "range_all": [("turn_idx", 0, top)],
        "range_1pc": [("turn_idx", top // 2, top // 2 + n_chunks * 10)],
    }


def survivors_record(pairs) -> dict:
    pairs = sorted(pairs)
    return {"count": len(pairs),
            "sha256": hashlib.sha256(json.dumps(pairs).encode())
            .hexdigest()[:16]}


class _UTCSession:
    """What _pruned_chunks reads of a SparkSession: its timezone."""
    class conf:
        @staticmethod
        def get(_key):
            return "UTC"


def _rss_mb(field: str) -> float:
    """VmRSS or VmHWM of this process in MB. Unlike ru_maxrss, VmHWM
    starts afresh at exec, so it does not count the synthesizing parent."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise KeyError(field)


def measure(d: str, name: str, n_chunks: int, keys: int,
            reps: int) -> dict:
    """Time _pruned_chunks on predicate `name` in this process."""
    from supersonic_spark.store.layout import read_meta
    from supersonic_spark.store.read import (_normalize_predicates,
                                             _pruned_chunks)
    meta = read_meta(d)
    preds = _normalize_predicates(predicates(n_chunks, keys)[name])
    out = {"base_rss_mb": round(_rss_mb("VmRSS"))}
    secs = []
    try:
        for _ in range(reps):
            t0 = time.perf_counter()
            keep = _pruned_chunks(_UTCSession, d, preds, meta)
            secs.append(time.perf_counter() - t0)
        out.update(sec=[round(s, 4) for s in secs],
                   median_sec=round(statistics.median(secs), 4),
                   min_sec=round(min(secs), 4),
                   survivors=survivors_record(
                       (p, c) for p, cs in keep.items() for c in cs))
    except Exception as e:          # recorded, not hidden
        out["error"] = f"{type(e).__name__}: {e}"[:300]
    out["peak_rss_mb"] = round(_rss_mb("VmHWM"))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fragments", type=int, default=20)
    ap.add_argument("--chunks", type=int, default=5000,
                    help="chunks per manifest fragment")
    ap.add_argument("--keys", type=int, default=8000,
                    help="distinct conv_id keys per chunk (bloom size)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--side", default="change",
                    help="label of the code measured, e.g. parent")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH",
                                                  "prune_scale.json"))
    ap.add_argument("--measure", nargs=2, metavar=("TABLE", "PREDICATE"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    n_chunks = args.fragments * args.chunks
    if args.measure:
        print(json.dumps(measure(*args.measure, n_chunks, args.keys,
                                 args.reps)))
        return

    from host import provenance
    with tempfile.TemporaryDirectory() as tmp:
        d = os.path.join(tmp, "t")
        t0 = time.perf_counter()
        synthesize(d, args.fragments, args.chunks, args.keys)
        print(f"synthesized {n_chunks} chunks in "
              f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
        runs = {}
        for name in predicates(n_chunks, args.keys):
            out = subprocess.run(
                [sys.executable, __file__, "--fragments", str(args.fragments),
                 "--chunks", str(args.chunks), "--keys", str(args.keys),
                 "--reps", str(args.reps), "--measure", d, name],
                capture_output=True, text=True)
            runs[name] = (json.loads(out.stdout.strip().splitlines()[-1])
                          if out.returncode == 0 else
                          {"error": out.stderr.strip()[-300:]})
            print(name, json.dumps(runs[name]), file=sys.stderr)
    try:
        with open(args.out) as f:
            doc = json.load(f)
    except FileNotFoundError:
        doc = {}
    doc.setdefault("host", {k: v for k, v in provenance(REPO, 0).items()
                            if k not in ("seed", "git_commit",
                                         "source_sha256", "written_utc")})
    doc.setdefault(args.side, {})[str(n_chunks)] = {
        "fragments": args.fragments, "chunks_per_fragment": args.chunks,
        "keys_per_chunk": args.keys, "reps": args.reps,
        "source_sha256": provenance(REPO, 0)["source_sha256"],
        "predicates": runs}
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main()
