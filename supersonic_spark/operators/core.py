"""Core relational operators, re-expressed Spark-first.

Each operator documents the reference semantics it reproduces
(file:line into /root/reference) and the Catalyst physical strategy we
expect. None of this translates reference code — the plans are declared
via the DataFrame API so Catalyst applies pushdown/pruning/broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_join(left: DataFrame, right: DataFrame, on: list[str],
              how: str = "inner", *, rhs_unique: bool = False,
              build_hash: bool = True) -> DataFrame:
    """Equi hash join. Reference supports INNER and LEFT_OUTER only
    (hash_join.h:37-38); the KeyUniqueness fast path (hash_join.h:44-46)
    maps to broadcasting a deduplicated build side so Spark plans a
    BroadcastHashJoin instead of a shuffle join.

    build_hash=True (default) pins the non-unique path to a SHUFFLED
    HASH join of the right side — the faithful mapping of the
    reference's build-the-rhs hash table, and measurably faster than
    sort-merge (both sides shuffle either way; SHJ skips both sort
    passes: 0.83 s vs 0.90 s warm on the sf1.0 orders join). Like the
    reference, it assumes a per-partition rhs build fits in memory —
    pass build_hash=False for an unbounded build side to let Spark fall
    back to its size-based selection (sort-merge when large)."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError("reference hash join supports INNER/LEFT_OUTER only")
    build = right.dropDuplicates(on) if rhs_unique else right
    if rhs_unique:
        build = F.broadcast(build)
    elif build_hash:
        build = build.hint("SHUFFLE_HASH")
    return left.join(build, on=on, how=how)


def foreign_filter(fact: DataFrame, keys: DataFrame, fk: str,
                   key_col: str) -> DataFrame:
    """Keep fact rows whose foreign key exists in the key table
    (reference: supersonic/cursor/core/foreign_filter.h:11-29).
    Spark: LEFT SEMI join — no payload duplication, broadcastable."""
    return fact.join(keys.select(F.col(key_col).alias(fk)).distinct(),
                     on=fk, how="left_semi")


_MID_PART_SHIFT = 33  # monotonically_increasing_id = pid << 33 | local_idx
_KEY_SEP = "\x1f"      # offset-map key separator (unit separator)
_NULL_TOKEN = "\x00N"  # sentinel for NULL group values in offset-map keys


def _range_keyed(df: DataFrame, keys: list[str],
                 n_partitions: int | None) -> DataFrame:
    """Range-partition + sort-within-partitions on keys, attach
    partition-local ids via monotonically_increasing_id (pure codegen, no
    extra shuffle), and materialize once — the eager localCheckpoint pins
    the sampled range boundaries so the offsets job and the consumer see
    the same partitioning. Shared base of every prefix-sum-style operator
    (with_rowid, with_prefix_sum, pack_sequences)."""
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (df.repartitionByRange(n, *[F.col(c) for c in keys])
              .sortWithinPartitions(*keys)
              .withColumn("_mid", F.monotonically_increasing_id())
              .localCheckpoint(eager=True))


def _pid_col() -> Column:
    return F.shiftright(F.col("_mid"), _MID_PART_SHIFT)


_OFFSET_MAP_MAX_ENTRIES = 10_000  # above this, plan-literal map -> broadcast join


def _group_key(group_cols: list[str]) -> Column:
    """Group slice rendered as ONE string column, Spark-side. Both the
    offsets job and the consumer evaluate this same expression, so the
    driver never re-implements CAST(x AS STRING) semantics (doubles render
    as 1.0E7 in Spark but 10000000.0 in Python — a silent key mismatch)."""
    parts = [F.coalesce(F.col(g).cast("string"), F.lit(_NULL_TOKEN))
             for g in group_cols]
    return F.concat_ws(_KEY_SEP, *parts) if parts else F.lit("")


def _offset_key(group_cols: list[str]) -> Column:
    parts = [_pid_col().cast("string")]
    if group_cols:
        parts.append(_group_key(group_cols))
    return F.concat_ws(_KEY_SEP, *parts)


def _with_offset(keyed: DataFrame, group_cols: list[str],
                 value: Column) -> DataFrame:
    """Attach exclusive cross-partition prefix offsets as `_off`,
    restarting per group: collect ONE tiny row per (partition,
    group-slice) — O(#partitions + #groups) because range partitioning
    keeps each group contiguous — and ship it back either as a literal
    lookup map (small) or, above _OFFSET_MAP_MAX_ENTRIES, as a
    broadcast-joined offsets table so the serialized plan never carries a
    megabyte create_map at 10k+ partitions × many groups. Group keys are
    rendered Spark-side (_group_key) on BOTH the offsets job and the
    lookup, so CAST-to-string semantics always agree."""
    parts = (keyed.groupBy(_pid_col().alias("_pid"),
                           _group_key(group_cols).alias("_gk"))
                  .agg(F.sum(value).alias("_t")).collect())
    acc: dict[str, int] = {}
    rows: list[tuple[int, str, int]] = []
    for r in sorted(parts, key=lambda r: (r["_gk"], r["_pid"])):
        g = r["_gk"]
        rows.append((int(r["_pid"]), g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + int(r["_t"] or 0)

    if len(rows) <= _OFFSET_MAP_MAX_ENTRIES:
        entries: list = []
        for pid, g, off in rows:
            key = _KEY_SEP.join((str(pid), g)) if group_cols else str(pid)
            entries += [F.lit(key), F.lit(off)]
        off_map = F.create_map(*entries) if entries else F.create_map()
        return keyed.withColumn("_off", off_map[_offset_key(group_cols)])

    off_df = keyed.sparkSession.createDataFrame(
        rows, schema="_pid long, _gk string, _off long")
    return (keyed.withColumn("_pid", _pid_col())
                 .withColumn("_gk", _group_key(group_cols))
                 .join(F.broadcast(off_df), ["_pid", "_gk"], "left")
                 .drop("_pid", "_gk"))


def with_rowid(df: DataFrame, order: list[str],
               out: str = "_rowid", n_partitions: int | None = None) -> DataFrame:
    """Dense 0-based row ids under a total order WITHOUT a global Window
    (which would serialize all rows through one partition at scale):
    _range_keyed partitioning + the _with_offset map of row counts, the
    local index coming free from monotonically_increasing_id."""
    keyed = _with_offset(_range_keyed(df, order, n_partitions), [], F.lit(1))
    local = F.col("_mid").bitwiseAND(F.lit((1 << _MID_PART_SHIFT) - 1))
    return (keyed.withColumn(out, (F.col("_off") + local).cast("long"))
            .drop("_mid", "_off"))


def with_prefix_sum(df: DataFrame, order: list[str], value_col: str,
                    out: str = "_prefix_sum",
                    group_cols: list[str] | None = None,
                    n_partitions: int | None = None,
                    inclusive: bool = False) -> DataFrame:
    """Running sum of value_col under (group_cols, order) ordering,
    restarting at each group boundary, exclusive of the current row by
    default — WITHOUT a per-group global Window. Range partitioning on
    (group, order) keeps groups contiguous across partitions, the Window
    partitions on (physical partition, group) so no task ever sees more
    than one partition's rows, and the tiny cross-partition offset map
    stitches the partials (one collected row per partition-group slice).
    This is the scale-safe form of Window.partitionBy(group).orderBy(...)
    running sums, whose single-task-per-group plan is a scale-killer."""
    from pyspark.sql import Window
    group_cols = list(group_cols or [])
    keyed = _with_offset(_range_keyed(df, group_cols + order, n_partitions),
                         group_cols, F.col(value_col))
    end = Window.currentRow if inclusive else -1
    w = (Window.partitionBy(_pid_col(), *group_cols).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, end))
    local = F.coalesce(F.sum(value_col).over(w), F.lit(0))
    return (keyed.withColumn(out, F.col("_off") + local)
            .drop("_mid", "_off"))


def rowid_merge_join(left: DataFrame, right: DataFrame, fk: str,
                     right_order: list[str]) -> DataFrame:
    """Join left.fk against the *row id* (position) of the ordered right
    side (reference: supersonic/cursor/core/rowid_merge_join.h:15-27).
    Row ids come from with_rowid (partition-parallel, no global Window)
    so the plan stays an equi join Catalyst can optimize."""
    rid = with_rowid(right, right_order)
    return left.join(rid, left[fk] == rid["_rowid"], "inner").drop("_rowid")


def lookup_index(queries: DataFrame, index: DataFrame, on: list[str],
                 query_id: str) -> DataFrame:
    """Batch index probe returning all matches per query plus the query id
    side column (reference: supersonic/cursor/base/lookup_index.h:29-58).
    0..n matches per probe is exactly inner-join duplication semantics."""
    return queries.join(index, on=on, how="inner")


def coalesce_zip(*frames: DataFrame) -> DataFrame:
    """Column-wise zip of N frames by row position — Supersonic's
    Coalesce, which is NOT SQL COALESCE and NOT union; the reference
    takes a vector of children (reference:
    supersonic/cursor/core/coalesce.h:16-31). Spark has no positional
    zip, so every input gets explicit positional ids (with_rowid:
    partition-parallel, no single-partition global Window) and they
    equi-join on position; inputs must define a deterministic order via
    their own columns."""
    if len(frames) < 2:
        raise ValueError("coalesce_zip needs at least two frames")
    out = with_rowid(frames[0], frames[0].columns, out="_pos")
    for f in frames[1:]:
        out = out.join(with_rowid(f, f.columns, out="_pos"),
                       "_pos", "inner")
    return out.drop("_pos")


def merge_union_all(frames: list[DataFrame],
                    order: list[str] | None = None) -> DataFrame:
    """K-way union-all; the reference's variant is order-preserving via a
    priority queue (merge_union_all.h:18-31) — in Spark ordering is a
    property of the consumer, so we union and optionally sort."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    if order:
        out = out.orderBy(*order)
    return out


def extended_sort(df: DataFrame, keys: list[tuple[str, str]],
                  limit: int | None = None,
                  case_sensitive: bool = True) -> DataFrame:
    """ExtendedSort: multi-key sort + optional case-insensitivity +
    limit => top-k (reference: supersonic/cursor/core/sort.h:100-106,
    specification.proto:12-30). NULLs sort first, matching the
    reference's NULLs-smaller-than-everything rule (sort.cc:16-83).
    With a limit Catalyst plans TakeOrderedAndProject (top-k pushdown)."""
    dtypes = dict(df.dtypes)
    cols = []
    for name, direction in keys:
        c = F.col(name)
        if not case_sensitive and dtypes.get(name) == "string":
            c = F.lower(c)
        cols.append(c.desc_nulls_last() if direction == "desc"
                    else c.asc_nulls_first())
    out = df.orderBy(*cols)
    if limit is not None:
        out = out.limit(limit)
    return out


def limit_offset(df: DataFrame, limit: int, offset: int = 0,
                 order: list[str] | None = None) -> DataFrame:
    """Offset + limit (reference: supersonic/cursor/core/limit.h:14-17).
    Deterministic only under an explicit order."""
    out = df.orderBy(*order) if order else df
    return out.offset(offset).limit(limit)


def group_aggregate_with_limit(df: DataFrame, key: str, agg_col: str, k: int,
                               other_label: str = "__other__") -> DataFrame:
    """GroupAggregate with a cap on unique keys: the top-k keys keep their
    own rows, everything else collapses into one catch-all row
    (reference: supersonic/cursor/core/aggregate.h:264-276). Spark plan:
    full agg (partial/final) materialized once, the top-k boundary via
    orderBy().limit(k) (TakeOrderedAndProject — parallel partial top-k,
    no single-partition global Window ranking every distinct key), then
    a broadcast anti join splits the overflow into one catch-all row."""
    agg = (df.groupBy(key).agg(F.sum(agg_col).alias("agg_val"),
                               F.count("*").alias("n_rows"))
             .localCheckpoint(eager=True))  # consumed twice (top + anti)
    top = agg.orderBy(F.col("agg_val").desc(), F.col(key).asc()).limit(k)
    other = (agg.join(F.broadcast(top.select(key)), key, "left_anti")
             .agg(F.lit(other_label).alias(key),
                  F.sum("agg_val").alias("agg_val"),
                  F.sum("n_rows").alias("n_rows"))
             .filter(F.col("n_rows").isNotNull()))
    return top.unionAll(other.select(key, "agg_val", "n_rows"))


def salted_join(fact: DataFrame, dim: DataFrame, on: list[str],
                salt_expr: Column, n_salt: int = 8) -> DataFrame:
    """Skew-mitigated equi join: the dim side is replicated n_salt
    times with a salt column, the fact side gets a deterministic
    row-local salt (``salt_expr`` — e.g. xxhash64 of a row-identifying
    column, NEVER rand()), and the join runs on (keys..., salt). The
    result is semantically identical to fact.join(dim, on) — the oracle
    gate proves it — but a hot key's fact rows now spread across
    n_salt shuffle partitions instead of one straggler.

    This is the manual form of what AQE skew-join does at runtime;
    it exists for layouts AQE can't re-plan (pre-bucketed inputs,
    deterministic partitioning contracts) and mirrors the salting the
    encode pipeline applies to mega-conversations (pipeline.py
    EncodeConfig.salt_threshold).

    Scale: dim replication is explode on the SMALL side only
    (n_salt x |dim| rows); the fact side is never duplicated and its
    salt is computed scan-local. Row-local salting needs no pre-count
    job (the encode pipeline's salt is row-local for the same reason).
    """
    if n_salt < 1:
        raise ValueError("n_salt must be >= 1")
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    fact_s = fact.withColumn(
        "_salt", F.pmod(salt_expr, F.lit(n_salt)).cast("int"))
    return (fact_s.join(dim_rep, on=[*on, "_salt"], how="inner")
                  .drop("_salt"))
