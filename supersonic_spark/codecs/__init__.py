"""Columnar codec kernels and block framing (numpy/pyarrow, Spark-free)."""

from .framing import (
    block_codec_report,
    block_column_sizes,
    block_span,
    decode_block,
    decode_column,
    encode_block,
    encode_column,
    iter_block_spans,
)
from .kernels import CODEC_IDS, CODEC_NAMES, typecode_of
from .reference_layout import reference_column_size, reference_table_size

__all__ = [
    "CODEC_IDS",
    "CODEC_NAMES",
    "block_codec_report",
    "block_column_sizes",
    "block_span",
    "decode_block",
    "decode_column",
    "encode_block",
    "encode_column",
    "iter_block_spans",
    "reference_column_size",
    "reference_table_size",
    "typecode_of",
]
