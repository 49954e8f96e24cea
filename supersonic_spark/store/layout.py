"""The on-disk contracts of block tables and bucket layouts. This is the
only module that spells their file names, and the only one that decides
which files are live.

A block table (the output of an encode or a compaction) is a directory:

    meta.json                          schema, config, stamped manifest size
    blocks/part-NNNNN.ssb              one block file per partition
    manifest/part-NNNNN.<fp>.parquet   that partition's manifest rows
    snapshots/<tag>/                   hardlinked copies (snapshot_table)

A partition is committed when its manifest fragment exists (a task
writes its block file, then renames the fragment into place), and a
table when install_current writes meta.json (temp file, then rename),
once per encode or compaction. A killed first write leaves no
meta.json; a killed re-write leaves the previous one unchanged.

A file is live when the current manifest names it, as in Iceberg, where
a data file is live only if metadata names it. Every successful write
ends in install_current, which keeps the fragments that write produced
or resumed and the block files of their partitions, and unlinks
everything else. A killed write never gets there, so its fragments still
resume. checkpoints/ holds the JSON resume markers of tables written
before fragments existed: _resumed rebuilds a missing fragment from one.

A bucket layout (bucketize_table) is a directory of exactly n_buckets
parquet files, part-BBBBB-*.parquet, plus _buckets.json. Spark writes
them, and a merge rewrites the ones it touches with pyarrow under the
layout's Arrow schema (bucket_arrow_schema), each first under a hidden
.part-BBBBB-<tag>-a<attempt>.parquet.tmp name (bucket_tmp) that no
reader lists.

It is also the only module that reads either kind of file into Arrow:
manifests through read_fragments, bucket files through read_bucket
(write_bucket writes them). read_manifest, the one Spark read of a
manifest, backs only the DataFrames an encode and a compaction return.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
from typing import Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from .stats import MANIFEST_SCHEMA, _manifest_batch

BLOCK_GLOB = "*.ssb"
_FRAGMENT_SCHEMA = _manifest_batch([]).schema
_BUCKET_FILE = re.compile(r"part-(\d{5})-.*\.parquet$")


def meta_path(table: str) -> str:
    return os.path.join(table, "meta.json")


def blocks_dir(table: str) -> str:
    return os.path.join(table, "blocks")


def manifest_dir(table: str) -> str:
    return os.path.join(table, "manifest")


def checkpoints_dir(table: str) -> str:
    return os.path.join(table, "checkpoints")


def snapshot_dir(table: str, tag: str | None = None) -> str:
    """The table's snapshots directory, or one snapshot's."""
    root = os.path.join(table, "snapshots")
    return root if tag is None else os.path.join(root, tag)


def _block_pid(path: str) -> int:
    """Partition id of a block file (blocks/part-NNNNN.ssb) or of a
    manifest fragment."""
    return int(os.path.basename(path)[5:10])


def _block_name(pid: int) -> str:
    return f"part-{pid:05d}.ssb"


def _fragment_name(pid: int, fp: str) -> str:
    return f"part-{pid:05d}.{fp}.parquet"


def _partition_files(table: str, pid: int, fp: str) -> tuple[str, str]:
    """(block file, manifest fragment) paths of partition pid written
    under fingerprint fp. The block and manifest directories exist
    afterwards."""
    for d in (blocks_dir(table), manifest_dir(table)):
        os.makedirs(d, exist_ok=True)
    return (os.path.join(blocks_dir(table), _block_name(pid)),
            os.path.join(manifest_dir(table), _fragment_name(pid, fp)))


def _write_fragment(path: str, rows: list[dict]) -> None:
    """One partition's manifest rows as one parquet file, installed by
    rename from a hidden temp name (Spark's reader skips dot-files). The
    rename commits the partition."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(pa.Table.from_batches([_manifest_batch(rows)]), tmp)
    os.replace(tmp, path)


def _resumed(fragment: str) -> bool:
    """Whether the partition's fragment exists (its block file is
    committed). A table written before fragments existed has only the
    resume marker checkpoints/part-NNNNN.<fp>.json, which holds the same
    rows as JSON: the fragment is rebuilt from it, every row flagged
    resumed. This is the only reader of checkpoints/."""
    if os.path.exists(fragment):
        return True
    mdir, name = os.path.split(fragment)
    marker = os.path.join(checkpoints_dir(os.path.dirname(mdir)),
                          name.rsplit(".", 1)[0] + ".json")
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        _write_fragment(fragment, [dict(r, resumed=True)
                                   for r in json.load(f)])
    return True


def _listing(d: str) -> set[str]:
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def _write_meta(out_dir: str, meta: dict) -> None:
    """Write meta.json through a temp file and a rename, so a reader
    sees the old file or the new one, never a torn one."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = meta_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, meta_path(out_dir))


def read_meta(table: str) -> dict:
    with open(meta_path(table)) as f:
        return json.load(f)


def first_meta(root: str) -> dict | None:
    """meta.json of the first table (in path order) anywhere under root,
    e.g. the epoch=N tables a streaming encode sink writes."""
    found = sorted(glob.glob(os.path.join(root, "**", "meta.json"),
                             recursive=True))
    return read_meta(os.path.dirname(found[0])) if found else None


def install_current(table: str, meta: dict, fragments,
                    whole_chunks: bool = True) -> None:
    """The last step of every successful encode and compaction: make
    `fragments` (names under manifest/) the table's live set, then commit
    the table by writing `meta` as meta.json, its one write, with the
    manifest's size stamped in without a manifest job: the row count
    summed from the fragments' footers, and the column count, the schema
    width.

    Afterwards manifest/ holds exactly `fragments` and blocks/ holds only
    the block files of their partitions. Everything else goes: superseded
    fragments and a manifest an older encoder wrote, block files of
    partitions the write no longer has, leftover temp files, and
    checkpoints/. Unlinking leaves hardlinked snapshots their bytes.

    An encode writes one row per column of every chunk, so with
    whole_chunks a fragment whose rows do not divide by the width means
    a kernel skipped a column, and raises before anything is unlinked.
    Compaction passes False: its chunks from pre-evolution sources have
    fewer columns."""
    live = set(fragments)
    n_cols = len(meta["spark_schema"].get("fields", [])) or 1
    rows = {n: pq.read_metadata(os.path.join(manifest_dir(table), n)).num_rows
            for n in sorted(live)}
    for name, n in rows.items():
        if whole_chunks and n % n_cols:
            raise RuntimeError(f"manifest fragment {name} holds {n} rows, "
                               f"not a multiple of the {n_cols} encoded "
                               "columns")
    keep = {manifest_dir(table): live,
            blocks_dir(table): {_block_name(_block_pid(f)) for f in live}}
    for d, names in keep.items():
        for name in _listing(d) - names:
            p = os.path.join(d, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    shutil.rmtree(checkpoints_dir(table), ignore_errors=True)
    os.makedirs(manifest_dir(table), exist_ok=True)
    _write_meta(table, dict(meta, manifest_rows=sum(rows.values()),
                            manifest_columns=n_cols))


def list_blocks(table: str) -> list[str]:
    """Paths of the table's block files, sorted."""
    d = blocks_dir(table)
    return (sorted(os.path.join(d, p) for p in os.listdir(d)
                   if p.endswith(".ssb")) if os.path.isdir(d) else [])


def has_manifest(table: str) -> bool:
    return os.path.isdir(manifest_dir(table))


def manifest_files(table: str) -> list[str]:
    """Paths of the manifest's parquet files, sorted: the fragments, or
    the part files of a manifest an older encoder wrote as one Spark job.
    Dot and underscore files (temp names, Spark's _SUCCESS) are not."""
    return [os.path.join(manifest_dir(table), n)
            for n in sorted(_listing(manifest_dir(table)))
            if n.endswith(".parquet") and not n.startswith((".", "_"))]


def manifest_footers(table: str) -> tuple[list, pa.Schema]:
    """([(path, parquet footer)] of the table's manifest files, each
    footer read once; the union of their Arrow schemas, or the fragment
    schema when there are no files)."""
    files = [(f, pq.read_metadata(f)) for f in manifest_files(table)]
    return files, (pa.unify_schemas([md.schema.to_arrow_schema()
                                     for _f, md in files])
                   if files else _FRAGMENT_SCHEMA)


def open_fragments(files: list[tuple]) -> Iterator[pq.ParquetFile]:
    """manifest_footers' files opened for read_fragments one at a time,
    their footers not parsed again; each closes when the next opens."""
    for f, md in files:
        with pq.ParquetFile(f, metadata=md) as pf:
            yield pf


def _row_groups(md, pids) -> list[int]:
    """Row groups of a manifest file (its footer) whose partition_id
    statistics can hold one of `pids`."""
    j = md.schema.names.index("partition_id")
    stats = (md.row_group(i).column(j).statistics
             for i in range(md.num_row_groups))
    return [i for i, st in enumerate(stats)
            if st is None or not st.has_min_max
            or any(st.min <= p <= st.max for p in pids)]


def read_fragments(files: Iterable[pq.ParquetFile], schema: pa.Schema,
                   columns: list[str] | None = None,
                   of_columns=None, partitions=None) -> pa.Table:
    """The one manifest reader: the rows of open manifest `files`
    (open_fragments) as one Arrow table with `schema` (their union,
    manifest_footers) projected to `columns` (None: all). A column a
    file lacks reads as null, typed as in fragments when no file has it,
    and only a column whose file type differs is cast. `of_columns`
    keeps only the rows describing those table columns, `partitions`
    only those partition ids' rows, read from the row groups whose
    statistics can hold them. Runs on the driver and in tasks."""
    names = schema.names if columns is None else list(columns)
    out = pa.schema([(schema if n in schema.names else _FRAGMENT_SCHEMA)
                     .field(n) for n in names])
    keep = {}
    if of_columns is not None:
        keep["column"] = pa.array(list(of_columns), pa.string())
    if partitions is not None:
        keep["partition_id"] = pa.array(list(partitions), pa.int32())
    parts = []
    for pf in files:
        have = set(pf.metadata.schema.names)
        need = [n for n in names if n in have]
        need += [k for k in keep if k not in need]
        tbl = (pf.read(columns=need) if partitions is None else
               pf.read_row_groups(_row_groups(pf.metadata, partitions),
                                  columns=need))
        for k, values in keep.items():
            tbl = tbl.filter(pc.is_in(tbl.column(k), value_set=values))
        cols = [tbl.column(n) if n in have
                else pa.nulls(tbl.num_rows, out.field(n).type) for n in names]
        parts.append(pa.table([c if c.type == f.type else c.cast(f.type)
                               for c, f in zip(cols, out)], schema=out))
    return pa.concat_tables(parts) if parts else out.empty_table()


def manifest_table(table: str, columns: list[str] | None = None,
                   of_columns=None, partitions=None) -> pa.Table:
    """The table's manifest rows as an Arrow table, without a Spark job
    (read_fragments over every manifest file). An empty or missing
    manifest/ gives an empty table."""
    files, schema = manifest_footers(table)
    return read_fragments(open_fragments(files), schema, columns,
                          of_columns, partitions)


def read_manifest(spark: SparkSession, table: str) -> DataFrame:
    """The table's manifest as a DataFrame with MANIFEST_SCHEMA (no
    inference job; a column a file lacks reads as NULL), for the
    DataFrames an encode and a compaction return."""
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir(table))


def _link_table(src: str, dst: str) -> None:
    """Create dst as a copy of table src that costs no data bytes:
    hardlink its block and manifest files, copy meta.json. Files are
    copied where hardlinks fail. Raises ValueError, creating nothing,
    when src is not a table."""
    if not (has_manifest(src) and os.path.exists(meta_path(src))):
        raise ValueError(f"{src} is not an encoded table "
                         "(missing manifest/ or meta.json)")
    os.makedirs(dst)
    for sub in (blocks_dir, manifest_dir):
        if not os.path.isdir(sub(src)):
            continue
        os.makedirs(sub(dst))
        for name in os.listdir(sub(src)):
            s, d = os.path.join(sub(src), name), os.path.join(sub(dst), name)
            if not os.path.isfile(s):
                continue
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
    shutil.copy2(meta_path(src), meta_path(dst))


def parquet_files(d: str) -> list[str]:
    """Paths of the .parquet files directly under d, sorted."""
    return sorted(os.path.join(d, p) for p in os.listdir(d)
                  if p.endswith(".parquet"))


def bucket_files(bucket_dir: str) -> dict[int, str]:
    """{bucket id: path} of a bucket layout's part-BBBBB-*.parquet files."""
    out = {}
    for p in os.listdir(bucket_dir):
        m = _BUCKET_FILE.match(p)
        if m:
            out[int(m.group(1))] = os.path.join(bucket_dir, p)
    return out


def bucket_file(bucket_dir: str, b: int, tag: str) -> str:
    return os.path.join(bucket_dir, f"part-{b:05d}-{tag}.parquet")


def bucket_tmp(bucket_dir: str, b: int, tag: str, attempt: int) -> str:
    """The hidden name task attempt `attempt` writes bucket b's new file
    under before it is installed as bucket_file(bucket_dir, b, tag):
    Spark's reader skips dot-files, neither bucket_files nor
    parquet_files lists it, and a retried or speculative attempt of the
    same task never writes the same path."""
    return os.path.join(bucket_dir,
                        f".part-{b:05d}-{tag}-a{attempt}.parquet.tmp")


def remove_bucket_tmps(bucket_dir: str, tag: str) -> None:
    """Unlink every bucket_tmp file written under `tag`, by any attempt."""
    for p in glob.glob(os.path.join(glob.escape(bucket_dir),
                                    f".part-*-{tag}-a*.parquet.tmp")):
        os.remove(p)


def bucket_arrow_schema(schema: StructType) -> pa.Schema:
    """The Arrow schema of a bucket file written with pyarrow: the
    layout's Spark types as Spark's Arrow bridge maps them. TIMESTAMP is
    timestamp[us, UTC], which parquet stores adjusted to UTC, so Spark
    reads it back as TIMESTAMP and not TIMESTAMP_NTZ."""
    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType))
                      for f in schema.fields])


def read_bucket(path: str, schema: pa.Schema) -> Iterator[pa.Table]:
    """The one bucket-file reader: the file's rows a row group at a
    time, as tables of `schema` (bucket_arrow_schema). Spark's INT96
    timestamps read as microseconds, the unit and range of Spark's
    TIMESTAMP (nanoseconds overflow outside 1677-2262)."""
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
        for i in range(pf.num_row_groups):
            yield (pf.read_row_group(i, columns=schema.names)
                   .select(schema.names).cast(schema))


def write_bucket(path: str, schema: pa.Schema,
                 tables: Iterable[pa.Table]) -> None:
    """The one bucket-file writer: `tables`, each of `schema`
    (bucket_arrow_schema), as one parquet file Spark reads back with the
    layout's schema. No tables write an empty file."""
    with pq.ParquetWriter(path, schema) as w:
        for t in tables:
            if t.num_rows:
                w.write_table(t)


def complete_buckets(bucket_dir: str, n: int,
                     schema: StructType) -> dict[int, str]:
    """The one bucket-id rule: a layout holds exactly one file per bucket
    id below n, so a file's sorted position is its bucket id. Spark
    writes no file for an empty bucket other than bucket 0; each missing
    one gets an empty file with the layout's Arrow schema
    (write_bucket). Returns bucket_files()."""
    files = bucket_files(bucket_dir)
    arrow_schema = bucket_arrow_schema(schema)
    for b in range(n):
        if b not in files:
            files[b] = bucket_file(bucket_dir, b, "empty")
            write_bucket(files[b], arrow_schema, ())
    return files


def _write_bucket_meta(bucket_dir: str, n_buckets: int, conv_key: str,
                       schema: StructType) -> None:
    with open(os.path.join(bucket_dir, "_buckets.json"), "w") as f:
        json.dump({"n_buckets": n_buckets, "conv_key": conv_key,
                   "spark_schema": _file_schema(schema)}, f)


def _file_schema(schema: StructType) -> dict:
    """`schema` as Spark reads it back from parquet files (jsonValue
    form): every field, array element and map value nullable."""
    def walk(t):
        if not isinstance(t, dict):
            return t
        t = dict(t)
        if t["type"] == "struct":
            t["fields"] = [dict(f, nullable=True, type=walk(f["type"]))
                           for f in t["fields"]]
        elif t["type"] == "array":
            t.update(containsNull=True, elementType=walk(t["elementType"]))
        elif t["type"] == "map":
            t.update(valueContainsNull=True, keyType=walk(t["keyType"]),
                     valueType=walk(t["valueType"]))
        return t
    return walk(schema.jsonValue())


def _bucket_layout(spark: SparkSession,
                   bucket_dir: str) -> tuple[dict, StructType]:
    """(_buckets.json, Spark schema) of a bucket layout. The schema is
    the recorded one; a layout without it (written before it was
    recorded, or by hand without _buckets.json) falls back to inference,
    which costs one Spark job."""
    try:
        with open(os.path.join(bucket_dir, "_buckets.json")) as f:
            bmeta = json.load(f)
    except FileNotFoundError:
        bmeta = {}
    if "spark_schema" in bmeta:
        return bmeta, StructType.fromJson(bmeta["spark_schema"])
    return bmeta, spark.read.parquet(bucket_dir).schema
