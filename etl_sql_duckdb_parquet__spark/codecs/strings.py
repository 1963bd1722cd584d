"""String-array codecs: pattern-id / dictionary / plain, auto-selected.

Handles the ``doc_id`` and ``source`` columns of the token table.  Ids of
one shape (shared prefix + fixed-width decimal suffix) are stored as a
prefix and an integer blob.  Other arrays are stored as lengths (integer
blob, auto-selected codec — RLE shines for fixed-width ids) + the plain
byte buffer, which the caller's ``zwrap_best`` zstd layer compresses (a
symbol-table byte codec under it never won on a measured column: CLAUDE.md
"Codec family").  Low-cardinality arrays (``source`` has a handful of
distinct values) go through a string dictionary first.

Blob layouts (little-endian)::

    PLAINBYTES(7): [u8=7][u64 len][bytes]
    STRARR(6)    : [u8=6][u64 n][nested int blob: utf8 lengths]
                   [nested bytes blob: concatenated utf8]
    STRDICT(8)   : [u8=8][u64 n][nested int blob: codes][nested STRARR: uniques]
    PATTERNID(12): [u8=12][u64 n][u8 digits][u16 prefix len][prefix]
                   [int blob: suffix values]

"nested" = u64 byte-length prefix + blob.
"""

from __future__ import annotations

import struct

import numpy as np

from .core import decode_int, encode_int_best, zunwrap

CODEC_STRARR = 6
CODEC_PLAINBYTES = 7
CODEC_STRDICT = 8
CODEC_PATTERNID = 12


def _try_pattern_id(strs: list[bytes]) -> bytes | None:
    """PATTERNID: every string = shared prefix + fixed-width decimal suffix
    (e.g. ``doc_0000000042``) → store prefix once + the ints (delta/FOR).

    The dominant id shape for sequence tables; beats generic byte codecs by
    orders of magnitude.  Detection is fully vectorized; returns None when
    the shape doesn't hold.
    """
    n = len(strs)
    if n == 0:
        return None
    length = len(strs[0])
    first = strs[0]
    # suffix = trailing decimal digits of the first string, capped at 18
    ndig = 0
    while ndig < min(length, 18) and 48 <= first[length - 1 - ndig] <= 57:
        ndig += 1
    if ndig == 0:
        return None
    prefix = first[: length - ndig]
    if any(len(s) != length for s in strs):
        return None
    buf = np.frombuffer(b"".join(strs), dtype=np.uint8).reshape(n, length)
    plen = length - ndig
    if plen and not (buf[:, :plen] == np.frombuffer(prefix, np.uint8)).all():
        return None
    dig = buf[:, plen:].astype(np.int64) - 48
    if dig.min() < 0 or dig.max() > 9:
        return None
    powers = 10 ** np.arange(ndig - 1, -1, -1, dtype=np.int64)
    vals = dig @ powers
    return (
        struct.pack("<BQBH", CODEC_PATTERNID, n, ndig, plen)
        + prefix
        + encode_int_best(vals)
    )


def _decode_pattern_id(buf: memoryview, off: int) -> list[bytes]:
    n, ndig, plen = struct.unpack_from("<QBH", buf, off + 1)
    p = off + 12
    prefix = bytes(buf[p : p + plen])
    vals = decode_int(bytes(buf[p + plen :]))
    digits = np.empty((n, ndig), dtype=np.uint8)
    v = vals.copy()
    for k in range(ndig - 1, -1, -1):
        digits[:, k] = (v % 10) + 48
        v //= 10
    flat = digits.tobytes()
    return [prefix + flat[i * ndig : (i + 1) * ndig] for i in range(n)]


def _encode_bytes(data: bytes) -> bytes:
    return struct.pack("<BQ", CODEC_PLAINBYTES, len(data)) + data


def _decode_bytes(buf: memoryview, off: int) -> bytes:
    if buf[off] != CODEC_PLAINBYTES:
        raise ValueError(f"unknown bytes codec id {buf[off]}")
    (n,) = struct.unpack_from("<Q", buf, off + 1)
    return bytes(buf[off + 9 : off + 9 + n])


def _nested(blob: bytes) -> bytes:
    return struct.pack("<Q", len(blob)) + blob


def _encode_strarr(strs: list[bytes]) -> bytes:
    lengths = np.fromiter((len(s) for s in strs), dtype=np.int64, count=len(strs))
    data = b"".join(strs)
    return (
        struct.pack("<BQ", CODEC_STRARR, len(strs))
        + _nested(encode_int_best(lengths))
        + _nested(_encode_bytes(data))
    )


def _decode_strarr(buf: memoryview, off: int) -> tuple[list[bytes], int]:
    (n,) = struct.unpack_from("<Q", buf, off + 1)
    p = off + 9
    (ln,) = struct.unpack_from("<Q", buf, p)
    lengths = decode_int(bytes(buf[p + 8 : p + 8 + ln]))
    p += 8 + ln
    (ln2,) = struct.unpack_from("<Q", buf, p)
    data = _decode_bytes(buf, p + 8)
    p += 8 + ln2
    out = []
    pos = 0
    for length in lengths:
        out.append(data[pos : pos + length])
        pos += length
    return out, p


def encode_strings(values) -> bytes:
    """Encode a sequence of strings: pattern-id → dictionary → plain."""
    strs = [v.encode("utf-8") if isinstance(v, str) else bytes(v) for v in values]
    n = len(strs)
    pat = _try_pattern_id(strs)
    if pat is not None:
        return pat
    uniq = sorted(set(strs))
    if n > 0 and len(uniq) <= n // 2:
        code_of = {s: i for i, s in enumerate(uniq)}
        codes = np.fromiter((code_of[s] for s in strs), dtype=np.int64, count=n)
        return (
            struct.pack("<BQ", CODEC_STRDICT, n)
            + _nested(encode_int_best(codes))
            + _nested(_encode_strarr(uniq))
        )
    return _encode_strarr(strs)


def decode_strings(blob: bytes) -> list[str]:
    blob = zunwrap(blob)
    buf = memoryview(blob)
    codec_id = buf[0]
    if codec_id == CODEC_STRARR:
        strs, _ = _decode_strarr(buf, 0)
        return [s.decode("utf-8") for s in strs]
    if codec_id == CODEC_STRDICT:
        (n,) = struct.unpack_from("<Q", buf, 1)
        p = 9
        (ln,) = struct.unpack_from("<Q", buf, p)
        codes = decode_int(bytes(buf[p + 8 : p + 8 + ln]))
        p += 8 + ln
        uniq, _ = _decode_strarr(buf, p + 8)
        return [uniq[c].decode("utf-8") for c in codes]
    if codec_id == CODEC_PATTERNID:
        return [s.decode("utf-8") for s in _decode_pattern_id(buf, 0)]
    raise ValueError(f"unknown string codec id {codec_id}")
