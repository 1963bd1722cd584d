"""String-array codecs: pattern-id / dictionary / plain, auto-selected.

Handles the ``doc_id`` and ``source`` columns of the token table.  The
kernels work on an Arrow string array's two buffers (offsets and UTF-8
bytes), never on one string at a time: :func:`encode_strings` reads them
from a ``pa.string()`` array and :func:`decode_strings` builds one from
them.  Ids of one shape (shared prefix + fixed-width decimal suffix) are
stored as a prefix and an integer blob.  Other arrays are stored as
lengths (integer blob, auto-selected codec — equal lengths pick FOR at
bit width 0) + the plain byte buffer, which the caller's ``zwrap_best``
zstd layer compresses (a symbol-table byte codec under it never won on a
measured column: CLAUDE.md "Codec family").  Low-cardinality arrays
(``source`` has a handful of distinct values) go through a string
dictionary first.

Blob layouts (little-endian): each header, codec id first, is one
``struct.Struct`` declared below with its payload beside it; "nested" is
the integer codecs' ``_LEN`` byte length + a blob.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .core import (
    _LEN,
    _decode_at,
    _decode_nested,
    _nest,
    encode_int_best,
    zunwrap,
)

CODEC_STRARR = 6
CODEC_PLAINBYTES = 7
CODEC_STRDICT = 8
CODEC_PATTERNID = 12

# n | nested(int blob: utf8 lengths) + nested(PLAINBYTES: concatenated utf8)
_STRARR_HDR = struct.Struct("<BQ")
_PLAINBYTES_HDR = struct.Struct("<BQ")  # byte length | the bytes
# n | nested(int blob: codes) + nested(STRARR: sorted uniques)
_STRDICT_HDR = struct.Struct("<BQ")
# n, digits, prefix length | prefix + int blob (not nested): suffix values
_PATTERNID_HDR = struct.Struct("<BQBH")


def _buffers(arr: pa.StringArray) -> tuple[np.ndarray, np.ndarray]:
    """The int64 offsets (rebased to 0) and uint8 bytes of a
    ``pa.string()`` array, honouring a slice's ``arr.offset``."""
    if len(arr) == 0:
        return np.zeros(1, np.int64), np.zeros(0, np.uint8)
    _, obuf, dbuf = arr.buffers()
    offsets = np.frombuffer(obuf, np.int32, len(arr) + 1, 4 * arr.offset)
    data = np.frombuffer(dbuf or b"", np.uint8)[offsets[0] : offsets[-1]]
    return offsets.astype(np.int64) - offsets[0], data


def _string_array(offsets: np.ndarray, data) -> pa.StringArray:
    if offsets[-1] > 2**31 - 1:
        raise ValueError(
            f"string blob holds {offsets[-1]} bytes, beyond the int32 "
            "Arrow offset range"
        )
    return pa.StringArray.from_buffers(
        len(offsets) - 1,
        pa.py_buffer(offsets.astype(np.int32)),
        pa.py_buffer(data),
    )


def _try_pattern_id(offsets: np.ndarray, data: np.ndarray) -> bytes | None:
    """PATTERNID: every string = shared prefix + fixed-width decimal suffix
    (e.g. ``doc_0000000042``) → store prefix once + the ints (delta/FOR).

    The dominant id shape for sequence tables; beats generic byte codecs by
    orders of magnitude.  Equal lengths make the bytes an (n, length)
    matrix; returns None when the shape doesn't hold.
    """
    n = len(offsets) - 1
    if n == 0 or (np.diff(offsets) != offsets[1]).any():
        return None
    buf = data.reshape(n, int(offsets[1]))
    digit = (buf >= 48) & (buf <= 57)
    # suffix = trailing decimal digits of the first string, capped at 18
    ndig = int(np.cumprod(digit[0, ::-1][:18]).sum())
    plen = buf.shape[1] - ndig
    if (
        ndig == 0
        or not digit[:, plen:].all()
        or not (buf[:, :plen] == buf[0, :plen]).all()
    ):
        return None
    powers = 10 ** np.arange(ndig - 1, -1, -1, dtype=np.int64)
    vals = (buf[:, plen:].astype(np.int64) - 48) @ powers
    return (
        _PATTERNID_HDR.pack(CODEC_PATTERNID, n, ndig, plen)
        + buf[0, :plen].tobytes()
        + encode_int_best(vals)
    )


def _decode_pattern_id(buf: memoryview) -> pa.StringArray:
    _, n, ndig, plen = _PATTERNID_HDR.unpack_from(buf)
    p = _PATTERNID_HDR.size
    vals, _ = _decode_at(buf, p + plen)
    powers = 10 ** np.arange(ndig - 1, -1, -1, dtype=np.int64)
    chars = np.empty((n, plen + ndig), dtype=np.uint8)
    chars[:, :plen] = np.frombuffer(buf[p : p + plen], np.uint8)
    chars[:, plen:] = vals[:, None] // powers % 10 + 48
    return _string_array(np.arange(n + 1) * (plen + ndig), chars)


def _encode_strarr(offsets: np.ndarray, data: np.ndarray) -> bytes:
    return (
        _STRARR_HDR.pack(CODEC_STRARR, len(offsets) - 1)
        + _nest(encode_int_best(np.diff(offsets)))
        + _nest(
            _PLAINBYTES_HDR.pack(CODEC_PLAINBYTES, data.nbytes) + data.tobytes()
        )
    )


def _decode_strarr(buf: memoryview, off: int) -> pa.StringArray:
    lengths, end = _decode_nested(buf, off + _STRARR_HDR.size)
    off = end + _LEN.size  # the nested bytes blob
    codec_id, nbytes = _PLAINBYTES_HDR.unpack_from(buf, off)
    if codec_id != CODEC_PLAINBYTES:
        raise ValueError(f"unknown bytes codec id {codec_id}")
    off += _PLAINBYTES_HDR.size
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    return _string_array(offsets, buf[off : off + nbytes])


def encode_strings(values) -> bytes:
    """Encode a string array: pattern-id → dictionary → plain.

    ``values`` is a ``pa.string()`` array (sliced or chunked), or any
    sequence of ``str``, which is converted once here."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array):
        values = pa.array(values, pa.string())
    if values.null_count:
        raise ValueError("string codecs take no nulls")
    arr = values.cast(pa.string())
    offsets, data = _buffers(arr)
    pat = _try_pattern_id(offsets, data)
    if pat is not None:
        return pat
    n = len(arr)
    uniq = pc.unique(arr)
    if n > 0 and len(uniq) <= n // 2:
        uniq = uniq.take(pc.array_sort_indices(uniq))
        codes = pc.index_in(arr, value_set=uniq).to_numpy().astype(np.int64)
        return (
            _STRDICT_HDR.pack(CODEC_STRDICT, n)
            + _nest(encode_int_best(codes))
            + _nest(_encode_strarr(*_buffers(uniq)))
        )
    return _encode_strarr(offsets, data)


def decode_strings(blob: bytes) -> pa.StringArray:
    buf = memoryview(zunwrap(blob))
    codec_id = buf[0]
    if codec_id == CODEC_STRARR:
        return _decode_strarr(buf, 0)
    if codec_id == CODEC_STRDICT:
        codes, end = _decode_nested(buf, _STRDICT_HDR.size)
        return _decode_strarr(buf, end + _LEN.size).take(pa.array(codes))
    if codec_id == CODEC_PATTERNID:
        return _decode_pattern_id(buf)
    raise ValueError(f"unknown string codec id {codec_id}")
