"""Scaling-efficiency evidence: run the identical encode job via
spark-submit --py-files at two parallelism levels (local[N] vs local[4N])
on the same input, >=3 runs each, report median throughputs and
efficiency = (throughput_4N / throughput_N) / 4.

Writes BENCH/scaling.json and refreshes the measured table in
BENCH/BASELINE.md. Usage:
  python tools/scaling_bench.py [--n-convs 33000] [--runs 3] [--low 8 --high 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip(dest: str) -> str:
    zpath = os.path.join(dest, "supersonic_spark.zip")
    pkg = os.path.join(REPO, "supersonic_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def generate_input(n_convs: int, dest: str, bucketed: bool = False) -> str:
    """Deterministic transcripts parquet, cached across invocations.
    bucketed=True emulates the Iceberg bucket(conv_id) layout via
    bucketize_table (64 whole-conversation bucket files, identical for
    every parallelism level so N-vs-4N compares the same input)."""
    suffix = "_b64" if bucketed else ""
    out = os.path.join(dest, f"transcripts_c{n_convs}{suffix}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    sys.path.insert(0, REPO)
    from supersonic_spark.session import get_spark
    from supersonic_spark.datagen import generate_transcripts
    spark = get_spark(cores=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    df = generate_transcripts(spark, n_convs=n_convs, seed=42)
    if bucketed:
        from supersonic_spark.pipeline import bucketize_table
        bucketize_table(spark, df, out, n_buckets=64)
    else:
        df.write.mode("overwrite").parquet(out)
    spark.stop()
    return out


def run_once(zpath: str, input_dir: str, cores: int, run_id: int,
             prebucketed: bool = False) -> dict:
    """One spark-submit encode run confined to exactly `cores` CPUs.

    taskset pinning is what makes single-box cluster-size emulation honest:
    an unpinned local[2] JVM leaks GC/shuffle/IO threads onto free cores
    (~2.7 effective CPUs measured), deflating apparent scaling efficiency.
    """
    out = tempfile.mkdtemp(prefix=f"ssenc_scale_{cores}_")
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        "spark-submit", "--master", f"local[{cores}]",
        "--conf", f"spark.sql.shuffle.partitions={2*cores}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.driver.memory=16g",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(REPO, "tools", "encode_job.py"),
        "--input", input_dir, "--out", out,
        "--fingerprint", f"scale-{cores}-{run_id}",
        "--n-partitions", str(2 * cores),
        "--warmup",
    ]
    if prebucketed:
        cmd.append("--prebucketed")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    shutil.rmtree(out, ignore_errors=True)
    for line in proc.stdout.splitlines():
        if line.startswith("ENCODE_RESULT "):
            return json.loads(line[len("ENCODE_RESULT "):])
    raise RuntimeError(f"no result line; stderr tail: {proc.stderr[-2000:]}")


from supersonic_spark.runtime import external_busy_cores  # noqa: E402
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=33000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--prebucketed", action="store_true",
                    help="encode the bucketize_table() layout shuffle-free "
                         "(bucket files packed into at most one task per "
                         "core; no JVM scan/shuffle/row IPC)")
    ap.add_argument("--workdir", default="/tmp/ss_scaling")
    ap.add_argument("--out", default=None,
                    help="output json (default BENCH/scaling.json; pass "
                         "another path to avoid clobbering the official "
                         "campaign file during noisy-box re-measurements)")
    args = ap.parse_args()

    os.makedirs(args.workdir, exist_ok=True)
    zpath = build_zip(args.workdir)
    input_dir = generate_input(args.n_convs, args.workdir,
                               bucketed=args.prebucketed)

    results = {args.low: [], args.high: []}
    for run_id in range(args.runs):
        for cores in (args.low, args.high):
            ext = external_busy_cores()
            r = run_once(zpath, input_dir, cores, run_id,
                         prebucketed=args.prebucketed)
            r["ext_busy_cores_before"] = ext
            results[cores].append(r)
            print(f"run {run_id} cores={cores}: {r['encode_sec']}s "
                  f"{r['turns_per_sec']} turns/s "
                  f"(ext load before: {ext})", flush=True)

    med = {c: statistics.median(x["turns_per_sec"] for x in rs)
           for c, rs in results.items()}
    ratio = args.high / args.low
    eff = (med[args.high] / med[args.low]) / ratio
    # per-pair efficiency: low/high runs of the same iteration are adjacent
    # in time, so their ratio is robust to slow environment drift
    pair_effs = [
        round((hi["turns_per_sec"] / lo["turns_per_sec"]) / ratio, 3)
        for lo, hi in zip(results[args.low], results[args.high])]
    summary = {
        "mode": "prebucketed" if args.prebucketed else "shuffle",
        "n_turns": results[args.low][0]["n_turns"],
        "cores_low": args.low, "cores_high": args.high,
        "runs": args.runs,
        "median_turns_per_sec_low": med[args.low],
        "median_turns_per_sec_high": med[args.high],
        "all_runs": {str(c): rs for c, rs in results.items()},
        "scaling_efficiency": round(eff, 3),
        "per_pair_efficiency": pair_effs,
        "median_pair_efficiency": round(statistics.median(pair_effs), 3),
        "bytes_per_turn": results[args.high][0]["bytes_per_turn"],
        "compression_ratio": results[args.high][0]["compression_ratio"],
    }
    # min-time estimator: interference (hypervisor steal / neighbors) only
    # ever slows a run down, so best-of-N per level is the cleanest
    # estimate of the job's own capability on a noisy box (medians remain
    # the headline on a quiet box)
    best = {c: max(x["turns_per_sec"] for x in rs)
            for c, rs in results.items()}
    summary["best_turns_per_sec_low"] = best[args.low]
    summary["best_turns_per_sec_high"] = best[args.high]
    summary["best_pair_efficiency"] = round(
        (best[args.high] / best[args.low]) / ratio, 3)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    dst = args.out or os.path.join(REPO, "BENCH", "scaling.json")
    with open(dst, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
