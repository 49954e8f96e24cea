#!/usr/bin/env python3
"""Benchmark of the supersonic_spark codec engine.

    python3 perfbench/run.py --workload encode_read --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) from one process on local[nproc/2],
against the supersonic_spark package beside this directory. The last line
of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics, timed
with tracing off; with --trace 1 they are the per-layer metrics of a
traced run (metrics.py lists both). Every run also writes a result file
with its provenance, and with --trace 1 its spans, under .perfbench/results/.
Exits with 2 when the package is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# a quarter of bench.py's sf0.1 (33,000 conversations, 522,948 turns at
# seed 42), so that a run of any workload, with its set-up and warm-up
# round, ends in about 40 s; every 4,096th conversation is a
# mega-conversation of 8,192 turns (3 of them, about 17% of rows)
N_CONVS = 8_250
DRIVER_MEMORY = "1g"


def parse_args(argv):
    from metrics import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--n-convs", type=int, default=N_CONVS,
                   help="input size; the self-test runs a smoke size")
    p.add_argument("--tamper", action="store_true",
                   help="self-test only: alter one decoded row on the "
                        "benchmark side, which must count as failed")
    return p.parse_args(argv)


def spark_cores(nproc: int) -> int:
    """Task slots of local[n]: half the cores. The JVM's shuffle, GC and
    compiler threads, the Python workers' Arrow transfer and the driver
    run beside the tasks. With a slot per core on 4 cores, the shuffle
    encode ran no faster and its codec seconds grew by half."""
    return max(1, nproc // 2)


def _configure_env(tmp: str, cores: int) -> None:
    """Before the JVM starts: workers import the package from the
    checkout, and every scratch file stays in this run's directory."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={local}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"-XX:-UsePerfData -Xms{DRIVER_MEMORY}",
    ])


def _stop_spark(spark) -> list[int]:
    """Stop the session, end the JVM and its Python workers and wait for
    all of them. Returns the pids that had to be killed."""
    from pyspark import SparkContext

    import host
    started = host.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()     # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    return host.reap(started)


def run(args, tmp: str) -> dict:
    import host
    import inputs
    import metrics
    from spans import Tracer, span_cost_s
    from workloads import Context

    nproc = host.nproc()
    tracer = Tracer(bool(args.trace))
    record = {"provenance": host.provenance(ROOT, args.seed),
              "args": vars(args)}
    if args.trace:
        # context only, never a gate: the constants these probes are
        # compared with in bench.py were calibrated on another host
        from supersonic_spark.runtime import cpu_probe_sec, membw_probe_sec
        record["probes"] = {"cpu_probe_sec": cpu_probe_sec(),
                            "membw_probe_sec": membw_probe_sec(min(8, nproc))}
    cores = spark_cores(nproc)
    record["provenance"]["spark_cores"] = cores
    _configure_env(tmp, cores)

    from supersonic_spark.session import get_spark
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(cores=cores)
    try:
        ctx = Context(spark, tracer, tmp, args.seed, cores, args.tamper)
        ctx.layers["session.get_spark_s"] = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        wl, setup_s = _set_up(args, ctx, t0)
        wl.keeping = tracer.enabled = False
        wl.warm_up()
        wl.keeping, tracer.enabled = True, bool(args.trace)
        ticks = host.cpu_ticks()
        wl.measure(args.seconds)
        record["host_steal_share"] = host.steal_share(ticks)
        if args.trace:
            wl.trace_probes()
        layers = _layer_metrics(ctx, wl) if args.trace else {}
        peak_rss_mb = host.tree_peak_rss_mb(os.getpid())
    finally:
        killed = _stop_spark(spark)
    if killed:
        print(f"perfbench: killed leftover processes {killed}",
              file=sys.stderr)

    e2e = {
        "setup_s": setup_s,
        "success_rate": (ctx.attempted - ctx.failed) / max(ctx.attempted, 1),
        "peak_rss_mb": peak_rss_mb,
        **wl.end_to_end(),
    }
    if args.trace:
        layers.update(inputs.codec_layers(args.seed))
        ledger = tracer.ledger("op")
        cost = span_cost_s()
        # round_s of the traced run, from medians like the untraced one
        round_s = e2e["round_s"]
        layers.update({
            "trace.round_s": round_s,
            "trace.other_s":
                round_s * ledger["other_s"] / max(ledger["wall_s"], 1e-9),
            "trace.accounted_share":
                1 - ledger["other_s"] / max(ledger["wall_s"], 1e-9),
            "trace.spans": float(len(tracer.spans)),
            "trace.overhead_pct":
                100 * cost * len(tracer.spans) / max(ledger["wall_s"], 1e-9),
        })
        unknown = set(layers) - set(metrics.PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer values without a declared unit: "
                           f"{sorted(unknown)}")
        shown = {k: layers.get(k, 0.0) for k in metrics.PER_LAYER}
        units = metrics.PER_LAYER
        record.update({"ledger": ledger, "spans": tracer.spans})
    else:
        shown, units = e2e, metrics.END_TO_END
    record.update({"attempted": ctx.attempted,
                   "failed": ctx.failed, "errors": ctx.errors,
                   "end_to_end": e2e, "per_layer": layers,
                   "samples": wl.samples, "counts": wl.counts})
    _write_record(args, record)
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(shown[k]), "unit": units[k]}
                    for k in units},
    }


def _set_up(args, ctx, t0: float):
    """Everything before the first round. Returns the workload and
    setup_s: session start, worker warm-up and the workload's own
    preparation. The input is cached across runs, so generating it stays
    out of setup_s."""
    import checks
    import inputs
    from workloads import WORKLOADS
    spark = ctx.spark

    def warm(batches):
        import supersonic_spark.pipeline  # noqa: F401
        yield from batches
    # Python workers start and import the engine here, not inside the
    # first timed call
    t1 = time.perf_counter()
    with ctx.span("spark.warmup"):
        spark.range(0, 64 * ctx.cores, numPartitions=ctx.cores) \
             .mapInArrow(warm, "id long") \
             .write.format("noop").mode("overwrite").save()
    ctx.layers["spark.warmup_s"] = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0

    t1 = time.perf_counter()
    with ctx.span("datagen.generate"):
        src_path = inputs.transcripts(spark, os.path.join(STATE, "cache"),
                                      args.n_convs, args.seed)
    ctx.layers["datagen.generate_s"] = time.perf_counter() - t1
    ctx.src = spark.read.parquet(src_path)
    ctx.n_convs = args.n_convs
    ctx.src_fp = checks.fingerprint(ctx.src)
    ctx.n_turns = ctx.src_fp[0]

    wl = WORKLOADS[args.workload](ctx)
    t1 = time.perf_counter()
    wl.prepare()
    setup_s += time.perf_counter() - t1
    wl.prepare_checks()
    return wl, setup_s


def _layer_metrics(ctx, wl) -> dict[str, float]:
    """Per-layer values the traced run measures beyond its spans."""
    from workloads import _median
    spark = ctx.spark
    out = dict(ctx.layers)
    for key, n in ctx.round_counts(wl.per_round).items():
        out[f"spark.{key}"] = n

    def identity(batches):
        yield from batches
    # fixed cost of one Spark job with one no-op task per file the
    # workload's rounds touch
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        with ctx.span("spark.empty_job"):
            spark.range(0, wl.n_files, numPartitions=wl.n_files) \
                 .mapInArrow(identity, "id long") \
                 .write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    out["spark.empty_job_s"] = _median(times)
    out.update(wl.layer_metrics())
    return out


def _write_record(args, record: dict) -> None:
    d = os.path.join(STATE, "results")
    os.makedirs(d, exist_ok=True)
    stamp = record["provenance"]["written_utc"].replace(":", "")
    path = os.path.join(d, f"{args.workload}-seed{args.seed}-trace"
                           f"{args.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: wrote {os.path.relpath(path, ROOT)}", file=sys.stderr)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "supersonic_spark",
                                       "__init__.py")):
        print("perfbench: supersonic_spark/ not found beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
