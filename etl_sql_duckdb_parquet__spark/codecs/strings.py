"""String-array codecs: dictionary / FSST / plain, auto-selected.

Handles the ``doc_id`` and ``source`` columns of the token table.  A string
array is stored as lengths (integer blob, auto-selected codec — RLE shines
for fixed-width ids) + a byte buffer (FSST when the sampled ratio says it
wins, plain otherwise).  Low-cardinality arrays (``source`` has a handful of
distinct values) go through a string dictionary first.

Blob layouts (little-endian)::

    PLAINBYTES(7): [u8=7][u64 len][bytes]
    STRARR(6)    : [u8=6][u64 n][nested int blob: utf8 lengths]
                   [nested bytes blob: concatenated utf8]
    STRDICT(8)   : [u8=8][u64 n][nested int blob: codes][nested STRARR: uniques]

"nested" = u64 byte-length prefix + blob.
"""

from __future__ import annotations

import struct

import numpy as np

from .core import _ZSTD, decode_int, encode_int_best, zunwrap
from .fsst import CODEC_FSST, _sample, decode_fsst, encode_fsst, estimate_ratio

CODEC_STRARR = 6
CODEC_PLAINBYTES = 7
CODEC_STRDICT = 8
CODEC_PATTERNID = 12

# FSST selection decision table (round-5 cost guard).  The numpy FSST
# compress kernel is a measured local optimum at ~11-14 MB/s warm
# (fsst.py docstring) while the zstd-L1 wrap the caller applies to a
# PLAIN buffer runs ~300+ MB/s — a ~10-25× encode-throughput gap.  FSST
# therefore has to BUY its slot: it is selected only when its sampled
# compressed size (table overhead included) undercuts the sampled
# zstd-L1-on-plain size by ≥10% — a size win the entropy wrap cannot
# recover, worth the throughput cost on cold-archive string columns.
# Anything closer goes PLAIN and lets the caller's zwrap_best entropy
# layer do the work at wire speed.
#   sampled fsst/raw   sampled zstd/raw   pick
#   0.50               0.90               FSST  (0.50 ≤ 0.9·0.90)
#   0.85               0.90               PLAIN (zstd within 10%)
#   0.95               0.40               PLAIN (zstd crushes text)
_FSST_VS_ZSTD = 0.90


def _zstd_sampled_ratio(sample: bytes) -> float:
    """Sampled (compressed+header)/raw of the plain+zstd-L1 alternative —
    what the caller's ``zwrap_best`` would achieve on a PLAIN buffer."""
    z = _ZSTD.compress(sample)
    return (len(z) + 17) / len(sample)  # 17 = zwrap frame header


def _fsst_pays(fsst_ratio: float, zstd_ratio: float) -> bool:
    """True when FSST's sampled size win over zstd-on-plain clears the
    threshold that pays for its ~10× slower encode kernel."""
    return fsst_ratio <= _FSST_VS_ZSTD * zstd_ratio


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


def encode_bytes_best(data: bytes) -> bytes:
    """Byte buffer: FSST only when it pays (see the decision table above),
    else plain — the caller's ``zwrap_best`` entropy layer then captures
    whatever redundancy is left at wire speed."""
    if len(data) >= 64 and _fsst_pays(
        estimate_ratio(data), _zstd_sampled_ratio(_sample(data))
    ):
        blob = encode_fsst(data)
        if len(blob) < 9 + len(data):
            return blob
    return struct.pack("<BQ", CODEC_PLAINBYTES, len(data)) + data


def decode_bytes(blob: bytes | memoryview, off: int = 0) -> tuple[bytes, int]:
    buf = memoryview(blob)
    codec_id = buf[off]
    if codec_id == CODEC_PLAINBYTES:
        (n,) = struct.unpack_from("<Q", buf, off + 1)
        start = off + 9
        return bytes(buf[start : start + n]), start + n
    if codec_id == CODEC_FSST:
        return decode_fsst(buf, off)
    raise ValueError(f"unknown bytes codec id {codec_id}")


def _nested(blob: bytes) -> bytes:
    return struct.pack("<Q", len(blob)) + blob


def _encode_strarr(strs: list[bytes]) -> bytes:
    lengths = np.fromiter((len(s) for s in strs), dtype=np.int64, count=len(strs))
    data = b"".join(strs)
    return (
        struct.pack("<BQ", CODEC_STRARR, len(strs))
        + _nested(encode_int_best(lengths))
        + _nested(encode_bytes_best(data))
    )


def _decode_strarr(buf: memoryview, off: int) -> tuple[list[bytes], int]:
    (n,) = struct.unpack_from("<Q", buf, off + 1)
    p = off + 9
    (ln,) = struct.unpack_from("<Q", buf, p)
    lengths = decode_int(bytes(buf[p + 8 : p + 8 + ln]))
    p += 8 + ln
    (ln2,) = struct.unpack_from("<Q", buf, p)
    data, _ = decode_bytes(buf, p + 8)
    p += 8 + ln2
    out = []
    pos = 0
    for length in lengths:
        out.append(data[pos : pos + length])
        pos += length
    return out, p


def encode_strings(values) -> bytes:
    """Encode a sequence of strings: pattern-id → dictionary → FSST/plain."""
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
