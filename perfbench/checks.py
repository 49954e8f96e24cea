"""Correctness checks the benchmark applies to the engine's outputs.

Tables are compared by a fingerprint over a hash of all six transcript
columns of every row, computed by Spark on both sides, so a wrong value in
any column of any `(conv_id, turn_idx)` row changes it. Point lookups are
compared row by row against the source rows of the same conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metrics import COLUMNS


def fingerprint(df: DataFrame, columns=COLUMNS) -> tuple[int, int, int, int]:
    """(rows, sum of low hash words, sum of high hash words, xor of
    hashes) over xxhash64 of `columns` plus their null flags (so NULL and
    an empty string differ)."""
    h = F.xxhash64(*[F.col(c) for c in columns],
                   *[F.isnull(c) for c in columns])
    r = (df.select(h.alias("h"))
           .agg(F.count("*").alias("n"),
                F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
                F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
                F.bit_xor("h").alias("x"))
           .collect()[0])
    return (int(r["n"]), int(r["lo"] or 0), int(r["hi"] or 0),
            int(r["x"] or 0))


def tamper(df: DataFrame, conv_id: str) -> DataFrame:
    """The self-test's deliberate fault: change the text of one decoded
    row, on the benchmark's side of the API."""
    hit = (F.col("conv_id") == conv_id) & (F.col("turn_idx") == 0)
    if "text" not in df.columns:     # a projection of the keys
        return df.withColumn("turn_idx", F.when(hit, F.lit(-1))
                                          .otherwise(F.col("turn_idx")))
    return df.withColumn("text", F.when(hit, F.concat(F.col("text"),
                                                      F.lit("!")))
                                  .otherwise(F.col("text")))


def row_tuples(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in COLUMNS) for r in rows)


def expected_rows(src: DataFrame, keys: list[str]) -> dict[str, list[tuple]]:
    """Source rows of each key, as sorted tuples; absent keys map to []."""
    out: dict[str, list] = {k: [] for k in keys}
    for r in src.filter(F.col("conv_id").isin(keys)).collect():
        out[r["conv_id"]].append(r)
    return {k: row_tuples(v) for k, v in out.items()}
