"""The benchmark's two workloads, driven through the public API of
supersonic_spark.pipeline.

Every workload warms up untimed after set-up, then measures for the run's
seconds. An operation is one timed call into the pipeline; its output is
checked outside the timed region, and an exception or a wrong output
counts it as failed. Times are kept per operation kind; the metrics are
their medians.

- encode_read: batch `encode_table` on the shuffle path plus the manifest
  totals, as bench.py times it, back to back for half the seconds (at
  least MIN_ENCODES); then, for the rest, read rounds on a table that
  set-up encoded for reading, from one client in a closed loop: a full
  `decode_table` scan into a noop sink, a projected scan of
  (conv_id, turn_idx) and two point lookups (one lookup in four is for an
  absent key). The encode's time is mostly exchange and sort, the
  JVM<->Python Arrow transfer and the codec kernels; the reads run prune,
  decode and the Python->JVM transfer. Warm-up: one read round, then
  WARM_ENCODES encodes.
- prebucketed_maintain: batch rounds until the seconds are used (at least
  one), each on a fresh copy of the same bucket layout of 2 files per
  Spark task slot (4 files, 2 task waves, on 4 cores): a full
  `encode_table_prebucketed`, a `merge_bucketized` that rewrites 8
  conversations, an incremental re-encode and a fully resumed re-run. It
  skips the exchange, so its time is per-task and per-job fixed cost plus
  writes. Warm-up: the round's full encode and merge, once.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                       decode_table, encode_table,
                                       encode_table_prebucketed,
                                       merge_bucketized, salted_repartition)

import checks

MERGE_UPSERTS, MERGE_DELETES = 6, 2
LOOKUPS_PER_ROUND = 2
READ_CHUNK_ROWS = 8192
WARM_ENCODES = 4      # encodes keep speeding up for about 4 calls
ENCODE_SHARE = 0.5    # of the measured seconds, for encode_read's encodes
MIN_ENCODES = 5
PROBE_REPS = 3
TAMPER_KEY = "conv-000000000"     # the self-test alters this conversation


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def manifest_totals(man) -> dict:
    """Sums over an encode manifest (one row per chunk and column)."""
    first = F.col("column") == "conv_id"
    r = man.agg(
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum(F.when(first, F.col("n_rows"))).alias("rows"),
        F.sum(F.when(~F.col("resumed"), F.col("encode_sec"))).alias("cpu"),
        F.sum(F.when(first & F.col("resumed"), 1)).alias("resumed"),
        F.sum(F.when(first & ~F.col("resumed"), 1)).alias("encoded"),
        F.countDistinct(F.when(~F.col("resumed"), F.col("partition_id")))
         .alias("files_encoded"),
        F.sum(F.hash("partition_id", "chunk_id", "column", "crc32",
                     "bytes_out")).alias("digest"),
    ).collect()[0]
    return {k: (r[k] or 0) for k in r.asDict()}


class Context:
    """State of one run: session, tracer, inputs, temp dir and the
    operation ledger (attempted, failed, Spark job groups)."""

    def __init__(self, spark, tracer, tmp, seed, cores, tamper):
        self.spark, self.tracer, self.tmp = spark, tracer, tmp
        self.seed, self.cores, self.tamper = seed, cores, tamper
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.groups: list[tuple[int, str, str]] = []  # (round, kind, group)
        self.layers: dict[str, float] = {}
        self.src = None
        self.n_convs = 0
        self.n_turns = 0
        self.src_fp = None

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def group(self, rnd: int, kind: str) -> None:
        """Tag the Spark jobs of the next calls for StatusTracker."""
        g = f"r{rnd}.{kind}.{len(self.groups)}"
        self.spark.sparkContext.setJobGroup(g, g)
        self.groups.append((rnd, kind, g))

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)
        print(f"perfbench: failed operation: {what}", file=sys.stderr)

    def op(self, rnd: int, kind: str, fn):
        """One timed operation: returns (seconds, result), or (None, None)
        after counting an exception as a failed operation."""
        self.attempted += 1
        self.group(rnd, kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", root=True):
                out = fn()
            dt = time.perf_counter() - t0
        except Exception:   # the run goes on and reports the failure
            traceback.print_exc(file=sys.stderr)
            self.fail(kind)
            return None, None
        finally:
            # the untimed checks that follow must not count as this op
            self.spark.sparkContext.setJobGroup("untimed", "untimed")
        return dt, out

    def span(self, name):
        return self.tracer.span(name)

    def decoded(self, df):
        """A decoded DataFrame as the checks see it (tampered in the
        self-test)."""
        if self.tamper:
            return checks.tamper(df, TAMPER_KEY)
        return df

    def check_table(self, what: str, df, expected_fp, n_ops: int = 1) -> bool:
        fp = checks.fingerprint(self.decoded(df))
        if fp != expected_fp:
            self.fail(f"{what}: fingerprint {fp} != expected {expected_fp}",
                      n_ops)
            return False
        return True

    def group_counts(self, g: str) -> dict[str, int]:
        """Jobs, stages run, tasks and failed tasks of one job group, from
        StatusTracker (a skipped stage reused shuffle output: not counted)."""
        st = self.spark.sparkContext.statusTracker()
        c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in st.getJobIdsForGroup(g):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            c["jobs"] += 1
            for sid in job.stageIds:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue
                c["stages"] += 1
                c["tasks"] += s.numCompletedTasks + s.numFailedTasks
                c["failed_tasks"] += s.numFailedTasks
        return c

    def round_counts(self, per_round: dict[str, int]) -> dict[str, float]:
        """group_counts of one round: per operation kind the median over
        its measured operations, times the kind's operations per round."""
        by_kind: dict[str, list[dict[str, int]]] = defaultdict(list)
        for rnd, kind, g in self.groups:
            if rnd >= 0:     # not the warm-up
                by_kind[kind].append(self.group_counts(g))
        return {key: sum(n * _median([c[key] for c in by_kind[k]])
                         for k, n in per_round.items())
                for key in ("jobs", "stages", "tasks", "failed_tasks")}


class Workload:
    """A workload prepares once (timed into setup_s), warms up untimed,
    then measures. Each kept operation time goes to `samples[kind]`;
    `per_round` says how many operations of each kind one round makes."""
    name = ""
    pass_kind = ""        # the operation that passes over the whole table
    per_round: dict[str, int] = {}

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_files = 0  # files one task each: sizes spark.empty_job_s
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.keeping = True   # off during the warm-up
        self.bytes_in = self.bytes_out = 0

    def keep(self, kind: str, seconds: float) -> None:
        if self.keeping:
            self.samples[kind].append(seconds)

    def count(self, kind: str, value: float) -> None:
        if self.keeping:
            self.counts[kind].append(value)

    def prepare(self) -> None:
        """Work timed into setup_s."""

    def prepare_checks(self) -> None:
        """Untimed: what the checks of the rounds compare against."""

    def round(self, i: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed, before the measured operations: the JVM compiles and
        the workers load their code paths (a first call runs 1.5-4x
        slower). Its operations are still checked and counted."""
        self.round(-1)

    def measure(self, seconds: float) -> None:
        """Rounds until `seconds` are used (at least one)."""
        t0 = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t0 < seconds:
            self.round(i)
            i += 1

    def trace_probes(self) -> None:
        """Extra layer probes of the traced run, after the measured
        operations."""

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def end_to_end(self) -> dict[str, float]:
        """Medians per operation kind: one slow operation moves no
        metric, and a round's time is the sum of its kinds' medians."""
        ctx = self.ctx
        med = {k: _median(v) for k, v in self.samples.items()}
        full = med.get(self.pass_kind)
        return {
            "turns_per_s": ctx.n_turns / full if full else 0.0,
            "round_s": sum(n * med.get(k, 0.0)
                           for k, n in self.per_round.items()),
            "bytes_per_turn": self.bytes_out / max(ctx.n_turns, 1),
            "size_vs_reference": self.bytes_out / max(self.bytes_in, 1),
        }


class EncodeRead(Workload):
    name = "encode_read"
    pass_kind = "encode"
    per_round = {"encode": 1, "scan": 1, "projected": 1,
                 "lookup": LOOKUPS_PER_ROUND}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.cfg = EncodeConfig(n_partitions=2 * ctx.cores)
        self.n_files = self.cfg.n_partitions
        self.digest = None
        self.fixture = ctx.path("fixture")
        self.read_cfg = EncodeConfig(n_partitions=2 * ctx.cores,
                                     chunk_rows=READ_CHUNK_ROWS,
                                     bloom_cols=("conv_id",))
        self.bad_scan = self.bad_proj = False
        self.lookup_groups: list[str] = []
        self.next_key = 0

    def prepare(self):
        ctx = self.ctx
        with ctx.span("fixture.encode"):
            t0 = time.perf_counter()
            encode_table(ctx.spark, ctx.src, self.fixture, self.read_cfg)
            ctx.layers["fixture.encode_s"] = time.perf_counter() - t0

    def prepare_checks(self):
        """The scans decode the same blocks every round, so their output
        is checked once here; a wrong scan fails every scan operation.
        Lookup keys are drawn from the seed; every fourth is absent,
        alternating between a key past the last conversation (zone maps
        prune it) and one inside the key range (blooms must)."""
        ctx = self.ctx
        cols = ["conv_id", "turn_idx"]
        spark = ctx.spark
        self.bad_scan = not ctx.check_table(
            "full scan", decode_table(spark, self.fixture), ctx.src_fp, 0)
        self.bad_proj = (checks.fingerprint(
            ctx.decoded(decode_table(spark, self.fixture, columns=cols)),
            cols) != checks.fingerprint(ctx.src, cols))
        if self.bad_proj:
            ctx.fail("projected scan: fingerprint differs", 0)
        keys = []
        for j, k in enumerate(_conv_keys(ctx, 48)):
            keys.append(k)
            if j % 3 == 2:
                idx = int(ctx.rng.integers(0, ctx.n_convs))
                keys.append(f"conv-{ctx.n_convs + idx:09d}" if j % 2
                            else f"conv-{idx:09d}x")
        self.keys = keys
        self.expected = checks.expected_rows(ctx.src, sorted(set(keys)))

    def warm_up(self):
        # the encodes last, right before the measured ones
        self.read(-1)
        for _ in range(WARM_ENCODES):
            self.encode(-1)

    def measure(self, seconds):
        """Encodes back to back for ENCODE_SHARE of the seconds (at least
        MIN_ENCODES), then read rounds until the seconds are used (at
        least one): each phase's operations run warm and in the same
        order in every run."""
        t0 = time.perf_counter()
        i = 0
        while (i < MIN_ENCODES
               or time.perf_counter() - t0 < ENCODE_SHARE * seconds):
            self.encode(i)
            i += 1
        i = 0
        while i == 0 or time.perf_counter() - t0 < seconds:
            self.read(i)
            i += 1

    def encode(self, i: int) -> None:
        ctx = self.ctx
        out = ctx.path(f"encode-{i}")

        def run():
            with ctx.span("pipeline.encode_table"):
                man = encode_table(ctx.spark, ctx.src, out, self.cfg)
            with ctx.span("spark.manifest_totals"):
                return manifest_totals(man)
        dt, tot = ctx.op(i, "encode", run)
        if tot is not None:
            self.bytes_in, self.bytes_out = tot["bytes_in"], tot["bytes_out"]
            if tot["rows"] != ctx.n_turns:
                ctx.fail(f"encode wrote {tot['rows']} rows, "
                         f"source has {ctx.n_turns}")
            # encodes are deterministic: a round whose manifest digest
            # (chunk crc32s and sizes) matches a verified round wrote the
            # same blocks; any other round is decoded and verified
            elif (tot["digest"] == self.digest and not ctx.tamper
                  or ctx.check_table("encode round-trip",
                                     decode_table(ctx.spark, out),
                                     ctx.src_fp)):
                self.digest = tot["digest"]
                self.keep("encode", dt)
                self.count("kernel_cpu", tot["cpu"])
        shutil.rmtree(out, ignore_errors=True)

    def read(self, i: int) -> None:
        ctx = self.ctx
        spark = ctx.spark

        def scan(columns=None):
            def run():
                with ctx.span("pipeline.decode_table"):
                    df = decode_table(spark, self.fixture, columns=columns)
                with ctx.span("spark.decode_exec"):
                    _noop(df)
            return run

        for kind, cols, bad in (("scan", None, self.bad_scan),
                                ("projected", ["conv_id", "turn_idx"],
                                 self.bad_proj)):
            dt, _ = ctx.op(i, kind, scan(cols))
            if dt is not None and bad:
                ctx.fail(f"{kind} (checked in set-up)")
            elif dt is not None:
                self.keep(kind, dt)
        for _ in range(LOOKUPS_PER_ROUND):
            self.lookup(i, self.keys[self.next_key % len(self.keys)])
            self.next_key += 1

    def lookup(self, i: int, key: str) -> None:
        ctx = self.ctx
        split = {}

        def run():
            t0 = time.perf_counter()
            with ctx.span("pipeline.decode_table"):
                df = decode_table(ctx.spark, self.fixture,
                                  predicate=("conv_id", key, key))
            t1 = time.perf_counter()
            with ctx.span("spark.lookup_exec"):
                rows = df.collect()
            split["call"], split["exec"] = t1 - t0, time.perf_counter() - t1
            return rows
        dt, rows = ctx.op(i, "lookup", run)
        if rows is None:
            return
        got = checks.row_tuples(rows)
        if ctx.tamper and got:
            got[0] = got[0][:3] + (got[0][3] + "!",) + got[0][4:]
        if got != self.expected[key]:
            ctx.fail(f"lookup {key}: {len(got)} rows, expected "
                     f"{len(self.expected[key])}")
            return
        self.keep("lookup", dt)
        self.keep("lookup.call", split["call"])
        self.keep("lookup.exec", split["exec"])
        self.count("rows", len(got))
        if self.keeping:
            self.lookup_groups.append(ctx.groups[-1][2])

    def trace_probes(self):
        ctx = self.ctx
        arranged = salted_repartition(ctx.src, self.cfg)

        def identity(batches):
            yield from batches

        # cumulative prefixes of encode_table: each adds one layer
        for _ in range(PROBE_REPS):
            for key, df in (("scan", ctx.src), ("exchange", arranged),
                            ("arrow", arranged.mapInArrow(identity,
                                                          ctx.src.schema))):
                t0 = time.perf_counter()
                with ctx.span(f"probe.{key}"):
                    _noop(df)
                self.keep(f"probe.{key}", time.perf_counter() - t0)

    def read_layer_metrics(self) -> dict[str, float]:
        ctx = self.ctx
        ms = sorted(x * 1e3 for x in self.samples["lookup"])
        p90 = ms[int(np.ceil(0.9 * len(ms))) - 1] if ms else 0.0
        tasks = [ctx.group_counts(g)["tasks"] for g in self.lookup_groups]
        proj = _median(self.samples["projected"])
        return {
            "pipeline.decode_scan_s": _median(self.samples["scan"]),
            "read.projected_turns_per_s": ctx.n_turns / proj if proj else 0.0,
            "pipeline.decode_table_call_ms":
                1e3 * _median(self.samples["lookup.call"]),
            "lookup.exec_ms": 1e3 * _median(self.samples["lookup.exec"]),
            "lookup.p50_ms": _median(ms),
            "lookup.p90_ms": float(p90),
            "lookup.count": float(len(ms)),
            "lookup.tasks_per_lookup": float(np.mean(tasks)) if tasks else 0.0,
            "lookup.rows_returned": float(np.mean(self.counts["rows"]))
                                    if ms else 0.0,
        }

    def layer_metrics(self):
        m = {k: _median(v) for k, v in self.samples.items()}
        scan, exchange = m.get("probe.scan", 0.0), m.get("probe.exchange", 0.0)
        arrow = m.get("probe.arrow", 0.0)
        return {
            **self.read_layer_metrics(),
            "spark.scan_s": scan,
            "pipeline.salted_repartition_s": exchange - scan,
            "arrow.roundtrip_s": arrow - exchange,
            "pipeline.encode_table_s": m.get("encode", 0.0) - arrow,
            "pipeline.kernel_cpu_s": _median(self.counts["kernel_cpu"]),
        }


class PrebucketedMaintain(Workload):
    name = "prebucketed_maintain"
    pass_kind = "full"
    per_round = {"full": 1, "merge": 1, "incremental": 1, "resume": 1}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_files = 2 * ctx.cores
        self.master = ctx.path("buckets")

    def prepare(self):
        ctx = self.ctx
        with ctx.span("pipeline.bucketize_table"):
            t0 = time.perf_counter()
            bucketize_table(ctx.spark, ctx.src, self.master,
                            n_buckets=self.n_files)
            ctx.layers["pipeline.bucketize_table_s"] = time.perf_counter() - t0

    def prepare_checks(self):
        """Seeded merge of 8 conversations (6 rewritten, 2 deleted) and
        the fingerprint the merged table must have."""
        ctx = self.ctx
        keys = _conv_keys(ctx, MERGE_UPSERTS + MERGE_DELETES)
        ups, dels = keys[:MERGE_UPSERTS], keys[MERGE_UPSERTS:]
        spark = ctx.spark
        upserts = (ctx.src.filter(F.col("conv_id").isin(ups))
                   .withColumn("text", F.concat(F.col("text"),
                                                F.lit(" [edited]"))))
        deletes = (ctx.src.filter(F.col("conv_id").isin(dels))
                   .groupBy("conv_id").agg(F.min("turn_idx").alias("turn_idx"))
                   .select(*[F.col(c) if c in ("conv_id", "turn_idx")
                             else F.lit(None).cast(ctx.src.schema[c].dataType)
                             .alias(c) for c in ctx.src.columns]))
        rows = (upserts.withColumn("_op", F.lit("upsert"))
                .unionByName(deletes.withColumn("_op", F.lit("delete")))
                .collect())
        self.changes = spark.createDataFrame(rows, schema=StructType(
            upserts.schema.fields + [StructField("_op", StringType())]))
        merged = (ctx.src.join(F.broadcast(spark.createDataFrame(
                      [(k,) for k in keys], "conv_id string")),
                      "conv_id", "left_anti")
                  .unionByName(upserts))
        self.merged_fp = checks.fingerprint(merged)

    def warm_up(self):
        """The round's first two calls once, on their own copy of the
        layout (the later calls run the same encode path). Checked by the
        encode's row count and the merge's touched buckets; the measured
        round checks every output in full."""
        ctx = self.ctx
        bdir, out = ctx.path("pb-warm-b"), ctx.path("pb-warm-e")
        shutil.copytree(self.master, bdir)
        _, tot = ctx.op(-1, "full", lambda: manifest_totals(
            encode_table_prebucketed(ctx.spark, bdir, out, EncodeConfig())))
        if tot is not None and tot["rows"] != ctx.n_turns:
            ctx.fail(f"warm-up encode wrote {tot['rows']} rows, "
                     f"source has {ctx.n_turns}")
        _, touched = ctx.op(-1, "merge", lambda: merge_bucketized(
            ctx.spark, self.changes, bdir))
        if touched is not None and not touched:
            ctx.fail("warm-up merge touched no bucket")
        shutil.rmtree(bdir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)

    def round(self, i):
        ctx = self.ctx
        bdir, out = ctx.path(f"pb-b{i}"), ctx.path(f"pb-e{i}")
        shutil.copytree(self.master, bdir)
        cfg = EncodeConfig()

        def encode():
            with ctx.span("pipeline.encode_table_prebucketed"):
                man = encode_table_prebucketed(ctx.spark, bdir, out, cfg)
            with ctx.span("spark.manifest_totals"):
                return manifest_totals(man)

        def merge():
            with ctx.span("pipeline.merge_bucketized"):
                return merge_bucketized(ctx.spark, self.changes, bdir)

        full_s, tot = ctx.op(i, "full", encode)
        if tot is not None and ctx.check_table(
                "prebucketed encode", decode_table(ctx.spark, out),
                ctx.src_fp):
            self.bytes_in, self.bytes_out = tot["bytes_in"], tot["bytes_out"]
            self.keep("full", full_s)
            self.count("cpu", tot["cpu"])
        merge_s, touched = ctx.op(i, "merge", merge)
        inc_s, inc = ctx.op(i, "incremental", encode)
        res_s, res = ctx.op(i, "resume", encode)
        if touched is not None and ctx.check_table(
                "merged bucket table", ctx.spark.read.parquet(bdir),
                self.merged_fp):
            self.keep("merge", merge_s)
            self.count("touched", len(touched))
        if None not in (inc, res) and ctx.check_table(
                "decode after merge", decode_table(ctx.spark, out),
                self.merged_fp, n_ops=2):
            self.keep("incremental", inc_s)
            self.keep("resume", res_s)
            self.count("reencoded", inc["encoded"])
            self.count("files_reencoded", inc["files_encoded"])
            self.count("resumed", res["resumed"])
        shutil.rmtree(bdir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)

    def layer_metrics(self):
        s = {k: _median(v) for k, v in self.samples.items()}
        c = {k: _median(v) for k, v in self.counts.items()}
        return {
            "pipeline.encode_table_prebucketed_s": s.get("full", 0.0),
            "pipeline.pb_kernel_cpu_s": c.get("cpu", 0.0),
            "pipeline.merge_bucketized_s": s.get("merge", 0.0),
            "pipeline.incremental_encode_s": s.get("incremental", 0.0),
            "pipeline.resume_s": s.get("resume", 0.0),
            "pipeline.touched_buckets": c.get("touched", 0.0),
            "pipeline.chunks_reencoded": c.get("reencoded", 0.0),
            "pipeline.chunks_resumed": c.get("resumed", 0.0),
            "pipeline.reencoded_per_touched":
                c.get("files_reencoded", 0.0) / max(c.get("touched", 0.0), 1),
        }


def _conv_keys(ctx: Context, n: int) -> list[str]:
    """n distinct seeded conversation ids, skipping mega-conversations so
    that every draw costs about the same."""
    from supersonic_spark.datagen import MEGA_LEN_DEFAULT, conv_length
    out: list[str] = []
    while len(out) < n:
        idx = int(ctx.rng.integers(0, ctx.n_convs))
        key = f"conv-{idx:09d}"
        mega = conv_length(np.array([idx]), ctx.seed)[0] == MEGA_LEN_DEFAULT
        if not mega and key not in out:
            out.append(key)
    return out


WORKLOADS = {w.name: w for w in (EncodeRead, PrebucketedMaintain)}
