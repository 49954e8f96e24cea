"""Distributed encode/decode pipeline: the public API of the block-table
store, re-exported eagerly from the supersonic_spark.store modules that
own it, so importing this module in a worker loads the whole engine.
One module per decision; imports run one way, stats -> layout ->
encode, read -> maintain:

- ``stats``    — the manifest-stats contract: schema, version, zone maps,
                 blooms and the ns unit of datetime bounds.
- ``layout``   — the on-disk contracts: every file name, and which files
                 are live (install_current ends every write).
- ``encode``   — the shuffle, z-order and prebucketed encodes.
- ``read``     — chunk pruning, the block decode kernel, decode_table.
- ``maintain`` — bucket layouts, snapshots and compaction.

Design lineage: BestEffortGroupAggregate -> shuffle -> final aggregation is
the reference's own partial/shuffle/final pattern (reference:
supersonic/cursor/core/aggregate.h:230-250); restartable spill files in its
external sort are the checkpoint precedent (reference:
supersonic/cursor/core/sort.cc:324-366); Spy/benchmark listeners are the
per-operator metrics precedent (reference: supersonic/cursor/core/spy.h:36-57).
"""

from .store.encode import (EncodeConfig, encode_table,
                           encode_table_prebucketed, encode_table_zordered,
                           salted_repartition, zorder_key_expr)
from .store.maintain import (bucketize_table, compact_blocks,
                             delete_bucketized, expire_snapshots,
                             list_snapshots, merge_bucketized, rebucket_table,
                             snapshot_diff, snapshot_table, upsert_bucketized)
from .store.read import (decode_table, manifest_stats,
                         roundtrip_mismatch_count, validate_blocks)
from .store.stats import (MANIFEST_SCHEMA, STATS_VERSION, bloom_probe_b64,
                          manifest_summary)
