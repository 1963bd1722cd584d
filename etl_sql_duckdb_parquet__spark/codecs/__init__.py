"""Lightweight columnar compression codecs (pure numpy kernels).

The reference repo's columnar encoding is delegated to Parquet/ZSTD
(reference ``src/etl/load.py:44-48``; the win is attributed to dictionary /
delta / bit-packing in ``docs/benchmark_results.md:72-77``).  Here the codec
family is implemented from scratch so the engine owns the encoding:

- ``core``     — integer codecs: PLAIN, FOR (frame-of-reference + bit-pack),
                 DELTA, RLE, DICT, VARDICT (frequency-ranked dictionary),
                 with exact-size statistics-driven auto-selection
                 (``encode_int_best``); and ``zwrap_best``, the ZSTD entropy
                 layer over any blob.  pyarrow with the zstd codec is
                 required.  The retired VARINT (id 9), FORBLOCK (11) and
                 DEFLATE wrap (13) are not readable: such blobs raise and
                 must be re-encoded from source.
- ``strings``  — string-array container over an Arrow string array's
                 offsets and bytes buffers: pattern-id / dictionary /
                 plain, selected by shape and cardinality; the byte buffer is
                 left to the zstd layer.  Blobs of the retired byte codec
                 (id 5) raise too and must be re-encoded from source.

All kernels are vectorized numpy over contiguous buffers — they are invoked
from Arrow-batched UDFs (``mapInArrow``, ``applyInArrow``), never per row.  Every blob is
self-describing: ``decode_int(encode_int(x)) == x`` bit-identical.
"""

from .core import (
    CODEC_NAMES,
    analyze_int,
    decode_int,
    encode_int,
    encode_int_best,
)
from .strings import decode_strings, encode_strings

__all__ = [
    "CODEC_NAMES",
    "analyze_int",
    "decode_int",
    "encode_int",
    "encode_int_best",
    "decode_strings",
    "encode_strings",
]
