"""supersonic_spark — a from-scratch PySpark-native columnar analytics engine.

Re-expresses the capabilities of the Supersonic C++ columnar query executor
(reference: mtanski/supersonic) in idiomatic PySpark:

- ``codecs``    — vectorized per-column lightweight compression kernels
                  (dictionary, RLE, frame-of-reference + bit-packing, delta,
                  FSST-style symbol-table text compression) in numpy/pyarrow.
                  Analogue of Supersonic's columnar block / file_io chunk
                  discipline (reference: supersonic/cursor/infrastructure/
                  file_io.cc:16-29, supersonic/base/infrastructure/block.h).
- ``selector``  — per-(partition, column) codec auto-selection from sampled
                  cardinality / run-length / byte-entropy statistics.
- ``store``     — distributed encode/decode over Spark, one module per
                  decision: ``stats`` (manifest schema, zone maps, blooms),
                  ``layout`` (on-disk names, which files are live),
                  ``encode`` (salted shuffle, z-order and prebucketed
                  encodes with per-partition checkpoint/resume), ``read``
                  (pruned decode), ``maintain`` (bucket layouts,
                  snapshots, compaction). ``pipeline`` re-exports its API.
- ``datagen``   — deterministic synthetic multi-turn transcript generator.
- ``operators`` — Spark-first re-expressions of the reference operator
                  inventory (SURVEY.md §2).
- ``ann`` / ``pq`` — embedding similarity search: exact cosine top-k,
                  LSH / IVF indexes with directory pruning, and product
                  quantization (IVF-PQ) with ADC scoring + exact re-rank.
"""

__version__ = "0.1.0"
