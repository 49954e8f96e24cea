"""Read: predicate normalization, chunk pruning, the one block-file
decode kernel, decode_table, the metadata-only manifest_stats, and the
integrity and round-trip audits.

Pruning is one Arrow kernel that decode_table runs on the driver, one
manifest file at a time (_prune_plans, then _file_survivors: zone-map
overlap, then bloom probes of the chunks the zone maps kept), so
planning a predicated read runs no Spark job at any manifest size.
"""

from __future__ import annotations

import datetime as _dt
import functools
import math
import zlib
from typing import Iterator, NamedTuple
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from ..codecs import decode_block, iter_block_spans
from ..runtime import run_tasks
from .layout import (_block_pid, has_manifest, list_blocks,
                     manifest_footers, manifest_table, open_fragments,
                     read_fragments, read_meta)
from .stats import _bound_ns, bloom_probe_b64


def _normalize_predicates(predicate) -> list[tuple]:
    """Predicates, ANDed: each is a range (col, lo, hi) or a membership
    (col, [v1, v2, ...]) — the 2-tuple form prunes like the union of
    point lookups (zone range over min/max of the set, bloom OR over the
    members) and filters with IN. Bounds/members must be
    int/float/str/datetime/date — anything else raises instead of
    silently mispruning (zone-map comparison against an unexpected
    literal type could drop chunks the residual filter can never
    restore)."""
    def check(pcol, v):
        if not isinstance(v, (int, float, str, _dt.date, _dt.datetime)):
            raise TypeError(
                f"predicate bound for {pcol!r} must be int/float/str/"
                f"datetime/date, got {type(v).__name__}")

    if predicate is None:
        return []
    preds = [predicate] if isinstance(predicate, tuple) else list(predicate)
    out = []
    for p in preds:
        if len(p) == 2:
            pcol, values = p
            values = sorted(set(values))
            if not values:
                raise ValueError(f"empty IN-list for {pcol!r}")
            for v in values:
                check(pcol, v)
            if len({isinstance(v, str) for v in values}) > 1:
                raise TypeError(f"IN-list for {pcol!r} mixes string and "
                                f"non-string types")
            out.append((pcol, values))
            continue
        pcol, lo, hi = p
        check(pcol, lo)
        check(pcol, hi)
        if isinstance(lo, str) != isinstance(hi, str):
            raise TypeError(f"predicate bounds for {pcol!r} mix string and "
                            f"non-string types")
        out.append((pcol, lo, hi))
    return out


def _session_tz(spark: SparkSession):
    """The Spark session timezone as a tzinfo, or None if unresolvable
    (callers then widen naive bounds by the full offset envelope)."""
    try:
        name = spark.conf.get("spark.sql.session.timeZone")
        return ZoneInfo(name) if name else None
    except Exception:
        return None


class _Plan(NamedTuple):
    """How one predicate prunes: chunks of `column` whose zone map
    overlaps [lo, hi] (str, or float64 for numbers) survive, and of those
    only the chunks whose bloom may hold one of `bloom` (None: no probe)."""
    column: str
    is_str: bool
    lo: object
    hi: object
    bloom: list | None


def _prune_plans(predicates: list[tuple], meta: dict, manifest_columns,
                 tz) -> list[_Plan]:
    """One _Plan per predicate the manifest's stats can prune with.
    `meta` is the table's meta.json, `manifest_columns` the names in the
    union of its manifest files' schemas, `tz` the session timezone."""
    # pre-upgrade manifests (no stats_version marker and none of the
    # columns that shipped with the ns normalization) store datetime zone
    # maps in raw Arrow units (µs) — comparing ns bounds against them
    # would prune EVERY chunk and silently return zero rows, so datetime
    # predicates simply don't prune there (residual filter stays exact)
    # a stamped version is authoritative: compaction writes every
    # manifest column, null-filled for a pre-upgrade source
    ns_stats = (meta["stats_version"] >= 2 if "stats_version" in meta
                else "vsum_int" in manifest_columns
                or "n_nulls" in manifest_columns)
    # bloom blobs are only probeable if they were built with the CURRENT
    # hash family (stats_version >= 3): probing an older blob with a
    # different hash produces false NEGATIVES — silently dropped rows —
    # the one failure mode pruning must never have
    blooms_ok = (meta.get("stats_version", 0) >= 3
                 and "bloom_b64" in manifest_columns)
    # TIMESTAMP_NTZ zone maps hold WALL-CLOCK ns (no instant semantics):
    # naive bounds must convert as-if-UTC — resolving them in a non-UTC
    # session tz would shift bounds by the offset and prune chunks the
    # residual filter keeps. Aware bounds against NTZ can't prune safely.
    ntz_cols = {f["name"] for f in meta["spark_schema"]["fields"]
                if f["type"] == "timestamp_ntz"}
    plans = []
    for pred in predicates:
        pcol = pred[0]
        if len(pred) == 2:      # membership: union of point lookups
            values = pred[1]
            lo, hi = values[0], values[-1]          # sorted by normalize
        else:
            lo, hi = pred[1:]
            values = [lo] if lo == hi else []
        if isinstance(lo, (_dt.date, _dt.datetime)) and not ns_stats:
            continue
        # Arrow's min_max zone maps skip NaN, while Spark orders NaN
        # above every value: a NaN bound or member would prune the chunks
        # of the NaN rows it matches, so only the residual filter applies
        if any(isinstance(v, float) and math.isnan(v)
               for v in (pred[1] if len(pred) == 2 else pred[1:])):
            continue
        pred_tz = tz
        if pcol in ntz_cols and isinstance(lo, _dt.datetime):
            if lo.tzinfo is not None:
                continue          # aware bound vs wall-clock stats: skip
            pred_tz = _dt.timezone.utc      # naive == wall-clock ns
        bloomable = blooms_ok and values and all(
            isinstance(v, (int, str)) and not isinstance(v, bool)
            for v in values)
        is_str = isinstance(lo, str)
        # datetime/date bounds -> the ns-since-epoch unit _zone_stats
        # normalizes timestamp zone maps to, widened outward; naive bounds
        # resolve in the SESSION tz — the same clock the residual filter
        # compares under
        lo, hi = _bound_ns(lo, -1, pred_tz), _bound_ns(hi, +1, pred_tz)
        if not is_str:
            # Spark compares the double zone maps against an int or ns
            # bound as double (NaN zone maps ordered by _spark_ge)
            lo, hi = float(lo), float(hi)
        plans.append(_Plan(pcol, is_str, lo, hi,
                           values if bloomable else None))
    return plans


def _spark_ge(a, b):
    """a >= b over doubles (one side an Arrow array, the other a float)
    the way Spark orders them: NaN equals NaN and is above every other
    value, where IEEE (Arrow) compares NaN false both ways."""
    def nan(x):
        return (math.isnan(x) if isinstance(x, float)
                else pc.fill_null(pc.is_nan(x), False))
    # a NaN `a` is >= anything; a NaN `b` only when `a` is NaN too
    return pc.if_else(nan(b), nan(a),
                      pc.or_(nan(a), pc.greater_equal(a, b)))


_ZONE_COLUMNS = ["partition_id", "chunk_id", "column", "vmin_num",
                 "vmax_num", "vmin_str", "vmax_str"]


def _file_survivors(pf, schema: pa.Schema,
                    plans: list[_Plan]) -> list[np.ndarray]:
    """The prune kernel over one open manifest file (layout's
    open_fragments): for each plan, the pid << 32 | cid keys of the
    file's chunks it keeps. Zone maps first; the file's bloom blobs
    are read only when a bloom plan kept a chunk, and probed only for
    the chunks it kept, so a read's cost follows the zone maps'
    survivors, not the manifest's size. A chunk without a zone map (null
    vmin or vmax) or without a bloom is kept: pruning is only ever an
    optimization, never a correctness gate."""
    of = {p.column for p in plans}
    out = []
    tbl = read_fragments([pf], schema, _ZONE_COLUMNS, of)
    keys = ((tbl.column("partition_id").to_numpy().astype(np.int64)
             << 32) | tbl.column("chunk_id").to_numpy().astype(np.int64))
    blooms = None
    for p in plans:
        suffix = "str" if p.is_str else "num"
        vmin = tbl.column(f"vmin_{suffix}")
        vmax = tbl.column(f"vmax_{suffix}")
        if p.is_str:
            above = pc.greater_equal(vmax, p.lo)
            below = pc.less_equal(vmin, p.hi)
        else:
            above = _spark_ge(vmax, p.lo)
            below = _spark_ge(p.hi, vmin)
        overlap = pc.fill_null(pc.and_(above, below), False)
        kept = pc.and_(pc.equal(tbl.column("column"), p.column),
                       pc.or_(pc.or_(pc.is_null(vmin), pc.is_null(vmax)),
                              overlap))
        rows = np.flatnonzero(kept.to_numpy(zero_copy_only=False))
        if p.bloom is not None and len(rows):
            if blooms is None:  # rows align: the same file and filter
                blooms = read_fragments([pf], schema, ["bloom_b64"],
                                        of).column("bloom_b64")
            rows = rows[bloom_probe_b64(blooms.take(rows), p.bloom)]
        out.append(keys[rows])
    return out


def _pruned_chunks(spark: SparkSession, out_dir: str,
                   predicates: list[tuple],
                   meta: dict | None = None) -> dict[int, set] | None:
    """Chunks whose stats can satisfy EVERY predicate (conjunction):
    {partition_id: set(chunk_id)}, planned on the driver one manifest
    file at a time, without a Spark job, each footer read once. None
    means no predicate could use stats: decode everything; {} means stats
    rule out every chunk. `meta` is the table's meta.json when the caller
    already read it. Only a datetime or date bound asks Spark its tz."""
    if not has_manifest(out_dir):
        return None
    files, schema = manifest_footers(out_dir)
    dated = any(isinstance(v, _dt.date) for p in predicates
                for v in (p[1] if len(p) == 2 else p[1:]))
    plans = _prune_plans(predicates,
                         read_meta(out_dir) if meta is None else meta,
                         set(schema.names),
                         _session_tz(spark) if dated else None)
    if not plans:       # e.g. datetime bounds on a pre-upgrade manifest
        return None
    per_file = [_file_survivors(pf, schema, plans)
                for pf in open_fragments(files)]
    # conjunction over (pid, cid) across all files: a manifest an older
    # encoder wrote can spread one partition over several files
    both = (functools.reduce(np.intersect1d,
                             map(np.concatenate, zip(*per_file)))
            if per_file else np.empty(0, np.int64))
    keep: dict[int, set] = {}
    for key in both.tolist():
        keep.setdefault(key >> 32, set()).add(key & 0xFFFFFFFF)
    return keep


def _decode_ranges(spark: SparkSession, out_dir: str, paths: list[str],
                   keep: dict[int, set] | None) -> list[tuple]:
    """Decode tasks as (block path, first chunk id, end chunk id, the
    wanted chunk ids among them: a frozenset, or None for all). Fewer
    files than task slots (few big files after compaction, or a pruned
    read that survives in one file) would serialize decode on one task
    each, so their chunks split into ranges and every core gets work.
    Range tasks walk headers to their start (cheap) and whole-file reads
    dedup through the OS page cache. With pruning each task carries its
    own surviving chunk ids; otherwise the per-file chunk counts come
    from the manifest files (no Spark job)."""
    par = spark.sparkContext.defaultParallelism
    if keep is not None:
        chunk_ids = {pid: sorted(cs) for pid, cs in keep.items()}
    elif len(paths) < par:
        n = (manifest_table(out_dir, ["partition_id", "chunk_id"])
             .group_by("partition_id").aggregate([("chunk_id", "max")]))
        chunk_ids = {pid: range(m + 1) for pid, m in
                     zip(n.column("partition_id").to_pylist(),
                         n.column("chunk_id_max").to_pylist())}
    else:
        return [(p, 0, 1 << 30, None) for p in paths]
    total = sum(len(chunk_ids.get(_block_pid(p), ())) for p in paths)
    step = (max(1, total // max(2 * par, len(paths))) if len(paths) < par
            else 1 << 30)           # enough files: one task per file
    ranges = []
    for p in paths:
        ids = chunk_ids.get(_block_pid(p))
        if not ids:
            ranges.append((p, 0, 1 << 30, None))
            continue
        for s in range(0, len(ids), step):
            seg = ids[s:s + step]
            ranges.append((p, seg[0], seg[-1] + 1,
                           None if keep is None else frozenset(seg)))
    return ranges


def _decode_blocks(buf: bytes, schema: StructType, predicates=(),
                   lo_c: int = 0, hi_c: int = 1 << 30,
                   wanted: set | None = None) -> Iterator[pa.RecordBatch]:
    """The one block-file decode kernel, run by decode_table's tasks and
    decode_stream's: decode the chunks of one block file's bytes whose
    ids are in [lo_c, hi_c) and in `wanted` (None: all), as record
    batches of `schema`.

    Only the schema's column frames are decoded; the rest are skipped
    by length arithmetic. Blocks encoded before a schema column existed
    (additive evolution) yield it as NULLs, and output columns always
    follow the schema's order. Int/string predicates are evaluated here
    — late materialization: the predicate columns decode first, a chunk
    with zero matches never decodes the rest, and non-matching rows
    never cross the Python->JVM boundary. Pruned chunks cost a header
    walk; a truncated or corrupt header raises, failing the task rather
    than dropping rows."""
    target = [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
    names = [n for n, _t in target]
    # int/string bounds are exact in Arrow (same binary/UTF-8 order as
    # Spark); float and datetime predicates stay with the Spark residual
    # filter, so semantics are always Spark's
    ksafe = [p for p in predicates
             if all(isinstance(v, (int, str)) and not isinstance(v, bool)
                    for v in (p[1] if len(p) == 2 else p[1:]))]
    pred_cols = sorted({p[0] for p in ksafe})

    def conform(tbl: pa.Table) -> pa.Table:
        if tbl.column_names == names:
            return tbl
        cols = [tbl.column(n) if n in tbl.column_names
                else pa.nulls(tbl.num_rows, t) for n, t in target]
        return pa.table(dict(zip(names, cols)))

    def kmask(ptbl: pa.Table):
        m = None
        for p in ksafe:
            col = ptbl.column(p[0])
            if len(p) == 2:
                c = pc.is_in(col, value_set=pa.array(p[1]).cast(col.type))
            else:
                c = pc.and_kleene(
                    pc.greater_equal(col, pa.scalar(p[1]).cast(col.type)),
                    pc.less_equal(col, pa.scalar(p[2]).cast(col.type)))
            m = c if m is None else pc.and_kleene(m, c)
        return pc.fill_null(m, False)

    for chunk_id, (off, _span) in enumerate(iter_block_spans(buf)):
        if chunk_id >= hi_c:
            break                       # past this task's range
        if chunk_id < lo_c or (wanted is not None
                               and chunk_id not in wanted):
            continue
        if ksafe:
            try:
                # phase 1: predicate columns only
                ptbl, _ = decode_block(buf, off, columns=pred_cols)
                mask = kmask(ptbl)
                if not pc.any(mask).as_py():
                    continue   # no matches: the rest is never decoded
                full, _ = decode_block(buf, off, columns=names,
                                       missing_ok=True)
                yield from conform(full).filter(mask).to_batches()
                continue
            except (KeyError, pa.lib.ArrowInvalid,
                    pa.lib.ArrowNotImplementedError):
                pass   # e.g. evolved block lacking the pred column, or
                # an uncastable literal: fall back to full decode +
                # Spark residual filter
        tbl, _ = decode_block(buf, off, columns=names, missing_ok=True)
        yield from conform(tbl).to_batches()


def decode_table(spark: SparkSession, out_dir: str,
                 columns: list[str] | None = None,
                 predicate: tuple | None = None,
                 partitions: list[int] | None = None) -> DataFrame:
    """Stream block files back into a DataFrame (schema from meta.json).

    columns: project at the BLOCK layer — unneeded column frames are
    skipped by length arithmetic, their payloads never touched (the
    engine-side analogue of parquet column pruning).
    predicate: one (col, lo, hi) inclusive range or (col, [v1, v2, ...])
    membership, or a list of them (conjunction) — whole chunks whose
    zone maps can't overlap every predicate are skipped without decoding
    (manifest min/max, the row-group-stats analogue), then the exact
    filters (range / IN) are re-applied to decoded rows so results are
    precise regardless of stats. Bounds may be numeric, string, or
    datetime/date (converted to the zone maps' ns-since-epoch unit,
    widened outward). An equality lookup is the (col, v, v) range; when
    the table was encoded with that column in EncodeConfig.bloom_cols,
    per-chunk bloom filters additionally prune chunks whose min/max span
    the value(s) — the point/IN-lookup path for non-sort columns.
    Int/string predicates are additionally evaluated INSIDE the decode
    kernel (late materialization): predicate columns decode first, a
    chunk with zero matches never decodes its remaining columns, and
    non-matching rows never cross the Python->JVM boundary; float/
    datetime predicates rely on the Spark residual filter only.
    partitions: decode only these partition ids' block files (the
    snapshot_diff CDC path reads only changed partitions)."""
    meta = read_meta(out_dir)
    schema = StructType.fromJson(meta["spark_schema"])
    predicates = _normalize_predicates(predicate)
    extra_pred_cols: list[str] = []  # decoded only to evaluate predicates
    if columns is not None:
        for pred in predicates:
            pcol = pred[0]
            if pcol not in columns:
                columns = list(columns) + [pcol]
                extra_pred_cols.append(pcol)
    if columns is not None:
        missing = [c for c in columns if c not in schema.names]
        if missing:
            raise KeyError(f"columns {missing} not in encoded schema "
                           f"{schema.names}")
        schema = StructType([f for f in schema.fields
                             if f.name in set(columns)])
    # chunk pruning, planned on the driver from the manifest files (no
    # Spark job): None decodes everything
    keep = _pruned_chunks(spark, out_dir, predicates, meta) \
        if predicates else None
    paths = list_blocks(out_dir)
    if partitions is not None:
        # partition-subset decode (snapshot_diff's CDC path): only the
        # named partitions' block files are read at all
        want_p = set(partitions)
        paths = [p for p in paths if _block_pid(p) in want_p]
    if keep is not None:
        # a block file with no surviving chunk is not scheduled at all
        paths = [p for p in paths if keep.get(_block_pid(p))]

    def decode(task) -> Iterator[pa.RecordBatch]:
        path, lo_c, hi_c, wanted = task         # one _decode_ranges entry
        with open(path, "rb") as f:
            buf = f.read()
        yield from _decode_blocks(buf, schema, predicates, lo_c, hi_c, wanted)

    if not paths:
        # limit(0) plans as an empty local relation: collecting a fully
        # pruned read runs no Spark job
        out = spark.createDataFrame([], schema).limit(0)
    else:
        out = run_tasks(spark, _decode_ranges(spark, out_dir, paths, keep),
                        decode, schema)
    ntz = {f.name for f in schema.fields
           if f.dataType.typeName() == "timestamp_ntz"}

    def _plit(pcol, v):
        # a naive datetime bound against a TIMESTAMP_NTZ column must
        # compare WALL-CLOCK (F.lit alone builds an LTZ literal, making
        # the comparison session-tz-dependent — and the zone-map pruning
        # already resolved the same bound as wall-clock ns)
        if (pcol in ntz and isinstance(v, _dt.datetime)
                and v.tzinfo is None):
            # via the wall-clock STRING: string->NTZ parsing is
            # session-independent, while lit(datetime) builds its
            # instant under a tz the later LTZ->NTZ cast may not match
            return F.lit(v.isoformat(sep=" ")).cast("timestamp_ntz")
        return F.lit(v)

    for pred in predicates:
        if len(pred) == 2:
            out = out.filter(F.col(pred[0]).isin(*pred[1]))
        else:
            pcol, lo, hi = pred
            out = out.filter((F.col(pcol) >= _plit(pcol, lo))
                             & (F.col(pcol) <= _plit(pcol, hi)))
    if extra_pred_cols:   # callers asked for columns=, not the predicate col
        out = out.drop(*extra_pred_cols)
    return out


# manifest_stats' aggregates, by output name; _by_column names each after
# what it folds, so the same aggregation folds the per-file partials
_STATS_READ = ["column", "n_rows", "n_nulls", "vmin_num", "vmax_num",
               "vmin_str", "vmax_str", "vsum_int"]
_STATS = {"n_rows": "sum", "n_nulls": "sum", "min_num": "min",
          "max_num": "max", "min_str": "min", "max_str": "max",
          "sum_int": "sum", "no_sum": "sum"}
_STATS_SCHEMA = pa.schema(
    [("column", pa.string()), ("n_rows", pa.int64()), ("n_nulls", pa.int64()),
     ("min_num", pa.float64()), ("max_num", pa.float64()),
     ("min_str", pa.string()), ("max_str", pa.string()),
     ("sum_int", pa.int64()), ("n_values", pa.int64())])


def _by_column(tbl: pa.Table) -> pa.Table:
    out = tbl.group_by("column").aggregate(list(_STATS.items()))
    return out.rename_columns([n.rsplit("_", 1)[0] for n in out.column_names])


def manifest_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """METADATA-ONLY aggregation: per-column COUNT / COUNT(col) / MIN /
    MAX / SUM computed purely from the manifest — zero block payloads
    touched. The Iceberg/Snowflake stats-only query path: at 10^12 turns
    a `SELECT count(*), min(ts), max(ts), sum(n_tokens)` costs one
    manifest scan, not a table decode. The scan runs on the driver, one
    manifest file at a time, into a local DataFrame: no Spark job.

    Exactness: counts are exact (n_rows/n_nulls per chunk); SUM is exact
    for integer/boolean columns (per-chunk int64 sums, NULL when any
    chunk lacked one — overflow, float column, or pre-upgrade manifest —
    or when the total overflows int64);
    MIN/MAX come from the zone maps, exact for numerics up to 2^53
    (conservatively widened beyond — consumers needing certainty beyond
    that must decode), string bounds exact. Timestamp bounds are in
    ns-since-epoch. Whole-table only: stats of a FILTERED read must go
    through decode_table (pruned chunk supersets would overcount)."""
    files, schema = manifest_footers(out_dir)
    parts = []
    for pf in open_fragments(files):
        # a column no manifest file has reads as NULL: a NULL sum and count
        man = read_fragments([pf], schema, _STATS_READ).rename_columns(
            _STATS_SCHEMA.names[:-1])
        vsum = man.column("sum_int")
        parts.append(_by_column(   # exact sums: int64 partials as decimals
            man.drop_columns("sum_int")
            .append_column("sum_int", vsum.cast(pa.decimal128(38, 0)))
            .append_column("no_sum", pc.is_null(vsum).cast(pa.int64()))))
    rows = _by_column(pa.concat_tables(parts)).to_pylist() if parts else []
    for r in rows:
        total = r["sum_int"]
        r["sum_int"] = (int(total) if not r.pop("no_sum")
                        and -2 ** 63 <= total < 2 ** 63 else None)
        r["n_values"] = r["n_rows"] - (r["n_nulls"] or 0)
    # from an Arrow table: a local relation, collected without a job
    return spark.createDataFrame(pa.Table.from_pylist(rows, _STATS_SCHEMA))


_AUDIT = ("partition_id int, chunk_id int, crc_expected long, "
          "crc_actual long, ok boolean")


def validate_blocks(spark: SparkSession, out_dir: str) -> DataFrame:
    """Integrity audit: recompute each chunk's crc32 from the block files
    and compare against the lineage manifest. Returns a DataFrame of
    (partition_id, chunk_id, crc_expected, crc_actual, ok), the full
    outer match of both; corrupt, truncated or missing chunks have ok =
    false (the walk stops at the first bad block header, which reports
    crc -1). One Spark job: a task per partition gets its block file
    (None when missing) and its crcs from layout.manifest_table."""
    keys = ["partition_id", "chunk_id", "crc32"]
    man = manifest_table(out_dir, keys).group_by(keys).aggregate([])
    expected: dict[int, list] = {}
    for pid, cid, crc in zip(*(man.column(k).to_pylist() for k in keys)):
        expected.setdefault(pid, []).append((cid, crc))
    blocks = {_block_pid(p): p for p in list_blocks(out_dir)}
    tasks = [(pid, blocks.get(pid), expected.get(pid, []))
             for pid in sorted(expected.keys() | blocks.keys())]

    def audit(task) -> Iterator[pa.RecordBatch]:
        pid, path, want = task
        crcs = []
        if path is not None:
            with open(path, "rb") as f:
                buf = f.read()
            try:
                for off, span in iter_block_spans(buf):
                    crcs.append(zlib.crc32(buf[off:off + span]) & 0xFFFFFFFF)
            except ValueError:   # bad magic or truncated: flag and stop
                crcs.append(-1)
        rows = [(cid, crc, crcs[cid] if cid < len(crcs) else None)
                for cid, crc in want]
        seen = {cid for cid, _crc in want}
        rows += [(cid, None, a) for cid, a in enumerate(crcs)
                 if cid not in seen]
        cids, want_crcs, got = zip(*rows) if rows else ((), (), ())
        yield pa.RecordBatch.from_pydict({
            "partition_id": pa.array([pid] * len(rows), pa.int32()),
            "chunk_id": pa.array(cids, pa.int32()),
            "crc_expected": pa.array(want_crcs, pa.int64()),
            "crc_actual": pa.array(got, pa.int64()),
            "ok": pa.array([a == e for _c, e, a in rows], pa.bool_())})

    return (run_tasks(spark, tasks, audit, _AUDIT) if tasks
            else spark.createDataFrame([], _AUDIT))


def roundtrip_mismatch_count(src: DataFrame, decoded: DataFrame,
                             keys: tuple[str, ...] = ("conv_id", "turn_idx"),
                             columns: tuple[str, ...] | None = None) -> int:
    """Distributed bit-identity check under stable key ordering: full outer
    join on keys; count rows missing on either side or differing in any of
    `columns` (default: every non-key column of `src`). Rows compare by
    xxhash64 over the columns plus their null flags, so NULL and an empty
    string differ."""
    k = list(keys)
    cols = [c for c in src.columns if c not in k] if columns is None \
        else list(columns)

    def row_hash(df, name):
        return df.select(*k, F.xxhash64(*map(F.col, cols),
                                        *map(F.isnull, cols)).alias(name))
    j = row_hash(src, "_va").join(row_hash(decoded, "_vb"), on=k,
                                  how="full_outer")
    return j.filter(~F.col("_va").eqNullSafe(F.col("_vb"))).count()
