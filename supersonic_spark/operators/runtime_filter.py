"""Bloom-filter runtime pre-filtering for semi joins — the "runtime
filter" / sideways-information-passing pattern: when the probe side is
huge and the build side's KEY SET is broadcast-sized, push a bloom
filter of the build keys into the probe scan so non-matching rows die
BEFORE the join's exchange. The exact semi join afterwards removes the
bloom's false positives, so results are identical to a plain semi join
(that is this gate's oracle) — the bloom only changes how many rows
reach the shuffle.

Why this exists next to broadcast joins: a broadcast HASH join ships
the whole build relation (all columns) to every task; the bloom ships
n_bits/8 bytes regardless of build width, and the probe-side kill
happens inside WholeStageCodegen as pure integer arithmetic — the right
trade at 100 TB when the build side is "1M keys" but the probe side is
the full lineitem. Spark's own InjectRuntimeFilter does this only
under join-reorderable plans; this operator makes it explicit and
composable.

The filter is a double-hash bloom over the engine-portable 60-bit md5
hash family (same bloom shape as the block manifests' storage blooms,
store.stats._bloom_build — reference semantics: supersonic/utils/
bloom_filter.h, re-derived, not ported; md5 instead of splitmix so the
PROBE is a plain relational expression both engines evaluate
identically), embedded in the plan as an array<long> literal probed
with element_at + shiftright — zero UDFs, zero extra jobs beyond the
one bounded key collect (same bound a broadcast join already imposes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MAX_BUILD_KEYS = 4_000_000  # ~ the same order a broadcast join tolerates


def _portable_hashes(s: str) -> tuple[int, int]:
    """The two 60-bit md5 hashes bloom_probe_expr derives in-plan —
    built here in Python so the literal words and the probe expression
    agree bit-for-bit (h1 = md5(s), h2 = md5('\\x1f' + s))."""
    import hashlib
    h1 = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    h2 = int(hashlib.md5(("\x1f" + s).encode()).hexdigest()[:15], 16)
    return h1, h2


def bloom_words(keys, n_bits: int, k: int = 2) -> list[int]:
    """Bloom bit array over string keys as signed 64-bit words (Spark
    long literals), double-hashed with the engine-portable md5 family
    (bit_i = (h1 + i*h2) mod n_bits) so the in-plan probe expression
    reads the same bits the builder set."""
    import numpy as np
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    bits = np.zeros(n_bits // 64, dtype=np.uint64)
    for key in keys:
        h1, h2 = _portable_hashes(str(key))
        for i in range(k):
            b = (h1 + i * h2) % n_bits
            bits[b >> 6] |= np.uint64(1) << np.uint64(b & 63)
    return [int(w) for w in bits.view(np.int64)]


def bloom_probe_expr(col: Column, words: list[int], n_bits: int,
                     k: int = 2) -> Column:
    """True iff `col` (cast to string) might be in the bloom: for each
    of the k probes, word = element_at(lit_words, 1 + bit div 64) and
    (word >> (bit % 64)) & 1 must be set. Pure codegen arithmetic over
    the two md5-derived hashes _portable_hashes builds the words from
    (60-bit values, so h1 + i*h2 cannot overflow a long — ANSI-safe)."""
    lit_words = F.array(*[F.lit(w).cast("long") for w in words])
    s = col.cast("string")
    from supersonic_spark.text.analysis import portable_hash64
    h1 = portable_hash64(s)
    h2 = portable_hash64(F.concat(F.lit("\x1f"), s))
    cond = F.lit(True)
    for i in range(k):
        bit = F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits))
        word = F.element_at(lit_words, (bit / 64).cast("int") + 1)
        cond = cond & (F.bit_get(word, F.pmod(bit, F.lit(64)).cast("int"))
                       == 1)
    return cond


def bloom_prefilter_semi_join(probe: DataFrame, build: DataFrame,
                              probe_key: str, build_key: str,
                              n_bits: int = 1 << 16,
                              k: int = 2) -> DataFrame:
    """Semi join `probe` to `build` with a bloom pre-filter on the probe
    scan. Exact: identical rows to probe SEMI JOIN build. Raises if the
    build key set exceeds the broadcast-sized bound — above that, a
    plain shuffled semi join is the honest plan and the caller should
    use it directly."""
    keys = [r[0] for r in build.select(build_key).distinct()
            .limit(_MAX_BUILD_KEYS + 1).collect()]
    if len(keys) > _MAX_BUILD_KEYS:
        raise ValueError(
            f"build side exceeds {_MAX_BUILD_KEYS} distinct keys; a bloom "
            "prefilter no longer pays — use a shuffled semi join")
    words = bloom_words(keys, n_bits, k)
    pre = probe.filter(bloom_probe_expr(F.col(probe_key), words,
                                        n_bits, k))
    return pre.join(F.broadcast(build.select(
        F.col(build_key).alias(probe_key)).distinct()),
        on=probe_key, how="left_semi")
