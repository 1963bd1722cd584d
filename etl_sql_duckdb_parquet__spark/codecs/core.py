"""Integer codec kernels: PLAIN / FOR / DELTA / RLE / DICT / VARDICT +
auto-selector, and the ZSTD entropy layer over any blob.

Numpy kernels plus pyarrow's bundled ZSTD, no Spark dependency —
unit-testable standalone and invoked from Arrow-batched UDFs in
``encode.encode_job``.

Blob layout (all little-endian)::

    [u8 codec_id][codec-specific header][payload]

    PLAIN : u64 n, u8 itemsize(4|8)      | n * int32 or int64
    FOR   : u64 n, i64 ref, u8 width     | bit-packed (v - ref), width bits each
    DELTA : u64 n, i64 first             | nested blob of diffs (n-1 values)
    RLE   : u64 n                        | nested(run values) + nested(run lengths)
    DICT  : u64 n, u32 card, u8 codewidth| nested(sorted unique) + bit-packed codes
    VARDICT: u64 n, u32 card             | nested(uniques by frequency rank)
                                           + u64 len + LEB128 rank codes
    ZSTD  : u64 raw_len, u64 zlen        | zstd frame of any other blob

"nested blob" = u64 byte-length prefix + a recursively encoded blob, so every
blob is self-describing and ``decode_int`` needs no side metadata.

All values flow as int64 internally (DELTA diffs of int32 inputs can exceed
the int32 range, e.g. INT32_MAX - INT32_MIN); the token layer casts back to
int32 at the boundary.  Bit-identity invariant:
``decode_int(encode_int_best(x)) == x`` elementwise for any int64 input whose
pairwise differences fit in int64 (always true for int32-range tokens).

Design notes for scale: kernels operate on one Spark-partition's worth of
concatenated token values at a time (tens of MB).  Bit-packing is chunked
(``_CHUNK`` values per step) to bound intermediate memory; the chunk size is
a multiple of 8 so per-chunk bit counts stay byte-aligned and chunks
concatenate exactly.

Capability parity: the reference attributes its compression win to
dictionary/delta/bit-packing inside Parquet (reference
``docs/benchmark_results.md:72-77``); these are those codecs, owned by us.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

CODEC_PLAIN = 0
CODEC_FOR = 1
CODEC_DELTA = 2
CODEC_RLE = 3
CODEC_DICT = 4
# 6..8 and 12 are byte/string codecs — see strings.py.
# 5 (FSST), 9 (VARINT), 11 (FORBLOCK) and 13 (DEFLATE wrap) are retired:
# blobs that carry them raise "unknown ... codec id" and must be re-encoded
# from source.
CODEC_VARDICT = 10  # frequency-ordered dictionary + LEB128 rank codes
CODEC_ZSTD = 14  # ZSTD entropy layer over any other blob (when it wins)

CODEC_NAMES = {
    CODEC_PLAIN: "plain",
    CODEC_FOR: "for",
    CODEC_DELTA: "delta",
    CODEC_RLE: "rle",
    CODEC_DICT: "dict",
    6: "strarr",
    7: "plainbytes",
    8: "strdict",
    CODEC_VARDICT: "vardict",
    12: "patternid",
    CODEC_ZSTD: "zstd",
}

# Values per bit-pack chunk. Must be a multiple of 8 (byte alignment of
# chunk boundaries for every width). 2^18 values * 32 bits = 1 MiB packed,
# ~16 MiB transient uint8 bit matrix at width 64 — bounded regardless of
# partition size.
_CHUNK = 1 << 18

_MAX_NEST_DEPTH = 3

# The entropy layer is pyarrow's bundled ZSTD, a hard requirement: building
# the codec here fails the import on a pyarrow without it.  Level 1: on
# already-packed blobs higher levels measured BOTH larger and slower (e.g.
# vardict tokens: L1 0.768@789 MB/s vs L3 0.775@187 MB/s vs L6 0.784@68
# MB/s), since match-finding beyond greedy buys nothing once the light codec
# removed the structure.
_ZSTD = pa.Codec("zstd", compression_level=1)
# keep the frame only when it saves ≥ 2% (17-byte header included)
_ZSTD_MIN_RATIO = 0.98


# ---------------------------------------------------------------------------
# bit packing
# ---------------------------------------------------------------------------


_BYTE_WIDTH_DTYPE = {8: ">u1", 16: ">u2", 32: ">u4", 64: ">u8"}


def pack_uint(vals: np.ndarray, width: int) -> bytes:
    """Pack non-negative uint64 values into ``width`` bits each (MSB first).

    Fast paths: byte-multiple widths are raw big-endian truncation.  The
    general path is pure word arithmetic — each value contributes its bits
    to at most two 64-bit words (a shift pair), and because bit offsets are
    monotonic the per-word OR-reduction is a single
    ``np.bitwise_or.reduceat`` over contiguous segments.  No
    ``unpackbits`` round-trip (8 bytes of transient per bit), no per-value
    Python.
    """
    n = len(vals)
    if width == 0 or n == 0:
        return b""
    vals = vals.astype(np.uint64, copy=False)
    if width in _BYTE_WIDTH_DTYPE:
        return vals.astype(_BYTE_WIDTH_DTYPE[width]).tobytes()
    total_bits = n * width
    n_words = (total_bits + 63) // 64
    shifted = vals << np.uint64(64 - width)  # value bits at the top
    start = np.arange(n, dtype=np.uint64) * np.uint64(width)
    k = (start >> np.uint64(6)).astype(np.int64)  # first word of value i
    off = start & np.uint64(63)
    left = shifted >> off
    # spill into word k+1; the double shift == `<< (64-off)` but stays
    # defined at off == 0 (single shifts of 64 are UB)
    right = (shifted << np.uint64(1)) << (np.uint64(63) - off)

    def _or_by_word(contrib: np.ndarray, word_idx: np.ndarray) -> np.ndarray:
        # word_idx is nondecreasing, so each word's contributions are one
        # contiguous run; reduceat over the first-occurrence boundaries
        # ORs exactly those runs (no empty-segment quirks)
        # +1 slot: the last value's (possibly zero) spill word may be
        # n_words when it doesn't actually cross the final word boundary
        out = np.zeros(n_words + 1, dtype=np.uint64)
        starts = np.flatnonzero(np.diff(word_idx, prepend=-1))
        seg = np.bitwise_or.reduceat(contrib, starts)
        out[word_idx[starts]] = seg
        return out[:n_words]

    words = _or_by_word(left, k) | _or_by_word(right, k + 1)
    nbytes = (total_bits + 7) // 8
    return words.astype(">u8").tobytes()[:nbytes]


def unpack_uint(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack_uint`; returns uint64 array of length ``n``.

    General widths read two 64-bit words per value and shift the bits out —
    ~6 vector ops total, an order of magnitude faster than the previous
    ``unpackbits``/``packbits`` round-trip.
    """
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    if width in _BYTE_WIDTH_DTYPE:
        return np.frombuffer(buf, dtype=_BYTE_WIDTH_DTYPE[width]).astype(np.uint64)
    nbytes = (n * width + 7) // 8
    padded = np.zeros((nbytes + 7) // 8 * 8 + 8, dtype=np.uint8)
    padded[:nbytes] = np.frombuffer(buf, dtype=np.uint8, count=nbytes)
    words = padded.view(">u8").astype(np.uint64)  # native-endian copy
    start = np.arange(n, dtype=np.uint64) * np.uint64(width)
    k = (start >> np.uint64(6)).astype(np.int64)
    off = start & np.uint64(63)
    x = (words[k] << off) | ((words[k + 1] >> np.uint64(1)) >> (np.uint64(63) - off))
    return x >> np.uint64(64 - width)


# ---------------------------------------------------------------------------
# LEB128 varints (vectorized) — VARDICT's frequency-rank codes
# ---------------------------------------------------------------------------

_VARINT_THRESHOLDS = [1 << (7 * k) for k in range(1, 10)]


def _varint_nbytes(u: np.ndarray) -> np.ndarray:
    nb = np.ones(len(u), dtype=np.int64)
    if len(u) == 0:
        return nb
    top = int(u.max())
    for th in _VARINT_THRESHOLDS:
        if th > top:
            break
        nb += u >= np.uint64(th)
    return nb


def varint_encode(u: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of uint64 values (LSB-first 7-bit groups)."""
    n = len(u)
    if n == 0:
        return b""
    u = u.astype(np.uint64, copy=True)
    nb = _varint_nbytes(u)
    pos = np.zeros(n, dtype=np.int64)
    np.cumsum(nb[:-1], out=pos[1:])
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    for b in range(int(nb.max())):
        mask = nb > b
        idx = pos[mask] + b
        byte = (u[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] > b + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        u >>= np.uint64(7)
    return out.tobytes()


def varint_decode(buf: bytes, n: int) -> np.ndarray:
    """Inverse of :func:`varint_encode`."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 128)[:n]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    out = np.zeros(n, dtype=np.uint64)
    for k in range(int(lens.max())):
        mask = lens > k
        out[mask] |= (
            b[starts[mask] + k].astype(np.uint64) & np.uint64(0x7F)
        ) << np.uint64(7 * k)
    return out


def _width(lo: int, hi: int) -> int:
    """Bits needed for values in [lo, hi] after subtracting lo."""
    return int(hi - lo).bit_length()


def _packed_bytes(n: int, width: int) -> int:
    return (n * width + 7) // 8


def _plain_itemsize(vmin: int, vmax: int) -> int:
    return 4 if (vmin >= -(2**31) and vmax < 2**31) else 8


# ---------------------------------------------------------------------------
# statistics + selection
# ---------------------------------------------------------------------------


def _prepare(v64: np.ndarray) -> dict:
    """One pass of shared statistics feeding both sizing and encoding.

    Uses a single ``np.sort`` (not ``np.unique(return_inverse=True)``, whose
    argsort is ~2× slower); the code assignment needed by dict/vardict is
    recovered lazily with ``np.searchsorted`` only when one of them wins.
    """
    n = len(v64)
    vmin = int(v64.min())
    vmax = int(v64.max())
    d = np.diff(v64)
    change = np.flatnonzero(d)
    vs = np.sort(v64)
    starts = np.r_[0, np.flatnonzero(np.diff(vs)) + 1]
    uniq = vs[starts]
    counts = np.diff(np.r_[starts, n])
    order = np.lexsort((uniq, -counts))  # rank 0 = most frequent
    ranks = np.empty(len(uniq), dtype=np.int64)
    ranks[order] = np.arange(len(uniq))
    return {
        "v": v64,
        "n": n,
        "vmin": vmin,
        "vmax": vmax,
        "d": d,
        "change": change,
        "n_runs": len(change) + 1,
        "uniq": uniq,
        "counts": counts,
        "order": order,
        "ranks": ranks,
    }


def _inverse(prep: dict) -> np.ndarray:
    """Codes of each value into prep['uniq'] (lazy, O(n log card))."""
    return np.searchsorted(prep["uniq"], prep["v"])


def _sizes(prep: dict) -> dict[str, int]:
    n = prep["n"]
    vmin, vmax = prep["vmin"], prep["vmax"]
    sizes: dict[str, int] = {}
    sizes["plain"] = 10 + _plain_itemsize(vmin, vmax) * n
    w_for = _width(vmin, vmax)
    sizes["for"] = 18 + _packed_bytes(n, w_for)

    if n >= 2:
        d = prep["d"]
        w_d = _width(int(d.min()), int(d.max()))
        # DELTA = header(17) + nested-len(8) + FOR blob of n-1 diffs
        sizes["delta"] = 17 + 8 + 18 + _packed_bytes(n - 1, w_d)

    n_runs = prep["n_runs"]
    if n_runs < n:
        run_lens = np.diff(np.r_[0, prep["change"] + 1, n])
        w_rl = _width(int(run_lens.min()), int(run_lens.max()))
        sizes["rle"] = (
            9
            + 8
            + 18
            + _packed_bytes(n_runs, w_for)  # run values share the range
            + 8
            + 18
            + _packed_bytes(n_runs, w_rl)
        )

    card = len(prep["uniq"])
    dict_blob_bound = 18 + _packed_bytes(card, w_for)
    if card < n:
        w_codes = max(card - 1, 0).bit_length()
        sizes["dict"] = 14 + 8 + dict_blob_bound + _packed_bytes(n, w_codes)

    # vardict: frequency-rank codes as varints + dictionary in rank order
    rank_nb = _varint_nbytes(prep["ranks"].astype(np.uint64))
    sizes["vardict"] = (
        13 + 8 + dict_blob_bound + 8 + int((rank_nb * prep["counts"]).sum())
    )
    return sizes


def analyze_int(vals: np.ndarray) -> dict:
    """Exact per-buffer statistics driving codec selection.

    Returns n, vmin, vmax, n_runs, n_distinct, and the exact-or-upper-bound
    encoded size per candidate codec — selection is a pure argmin, fully
    deterministic and unit-testable.
    """
    v = np.asarray(vals)
    n = len(v)
    if n == 0:
        return {
            "n": 0,
            "vmin": 0,
            "vmax": 0,
            "n_runs": 0,
            "n_distinct": 0,
            "mean_run_len": 0.0,
            "sizes": {"plain": 10},
        }
    v64 = np.ascontiguousarray(v, dtype=np.int64)
    prep = _prepare(v64)
    return {
        "n": n,
        "vmin": prep["vmin"],
        "vmax": prep["vmax"],
        "n_runs": prep["n_runs"],
        "n_distinct": len(prep["uniq"]),
        "mean_run_len": n / prep["n_runs"],
        "sizes": _sizes(prep),
    }


_TIE_ORDER = {
    "for": 0,
    "rle": 1,
    "dict": 2,
    "delta": 3,
    "vardict": 4,
    "plain": 5,
}


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def encode_int(
    vals: np.ndarray, codec: str, _depth: int = 0, _prep: dict | None = None
) -> bytes:
    """Encode an integer array (int64-safe) with a specific codec."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if codec == "plain":
        itemsize = 4 if n == 0 else _plain_itemsize(int(v.min()), int(v.max()))
        payload = v.astype("<i4" if itemsize == 4 else "<i8").tobytes()
        return struct.pack("<BQB", CODEC_PLAIN, n, itemsize) + payload
    if codec == "for":
        if n == 0:
            return struct.pack("<BQqB", CODEC_FOR, 0, 0, 0)
        ref = int(v.min())
        w = _width(ref, int(v.max()))
        return struct.pack("<BQqB", CODEC_FOR, n, ref, w) + pack_uint(
            (v - ref).astype(np.uint64), w
        )
    if codec == "delta":
        if n < 2:
            return encode_int(v, "plain")
        first = int(v[0])
        nested = _encode_nested(np.diff(v), _depth + 1)
        return struct.pack("<BQq", CODEC_DELTA, n, first) + nested
    if codec == "rle":
        if n == 0:
            return encode_int(v, "plain")
        change = np.flatnonzero(np.diff(v))
        starts = np.r_[0, change + 1]
        run_vals = v[starts]
        run_lens = np.diff(np.r_[starts, n])
        return (
            struct.pack("<BQ", CODEC_RLE, n)
            + _encode_nested(run_vals, _depth + 1)
            + _encode_nested(run_lens, _depth + 1)
        )
    if codec == "dict":
        if n == 0:
            return encode_int(v, "plain")
        if _prep is not None:
            uniq, codes = _prep["uniq"], _inverse(_prep)
        else:
            uniq, codes = np.unique(v, return_inverse=True)
        card = len(uniq)
        w_codes = max(card - 1, 0).bit_length()
        return (
            struct.pack("<BQIB", CODEC_DICT, n, card, w_codes)
            + _encode_nested(uniq, _depth + 1)
            + pack_uint(codes.astype(np.uint64), w_codes)
        )
    if codec == "vardict":
        if n == 0:
            return encode_int(v, "plain")
        if _prep is not None:
            uniq, inv, ranks, order = (
                _prep["uniq"],
                _inverse(_prep),
                _prep["ranks"],
                _prep["order"],
            )
        else:
            uniq, inv, counts = np.unique(
                v, return_inverse=True, return_counts=True
            )
            order = np.lexsort((uniq, -counts))
            ranks = np.empty(len(uniq), dtype=np.int64)
            ranks[order] = np.arange(len(uniq))
        payload = varint_encode(ranks[inv].astype(np.uint64))
        return (
            struct.pack("<BQI", CODEC_VARDICT, n, len(uniq))
            + _encode_nested(uniq[order], _depth + 1)
            + struct.pack("<Q", len(payload))
            + payload
        )
    raise ValueError(f"unknown integer codec: {codec!r}")


def _encode_nested(vals: np.ndarray, depth: int) -> bytes:
    blob = encode_int_best(vals, _depth=depth)
    return struct.pack("<Q", len(blob)) + blob


def encode_int_best(vals: np.ndarray, _depth: int = 0) -> bytes:
    """Auto-select the codec by exact size and encode (the hot path)."""
    blob, _stats = encode_int_best_with_stats(vals, _depth=_depth)
    return blob


def encode_int_best_with_stats(
    vals: np.ndarray, _depth: int = 0
) -> tuple[bytes, dict]:
    """Like :func:`encode_int_best` but also returns the selector's
    statistics (cardinality / run structure / value range) — recorded in
    the encode manifest so every partition's codec choice is auditable."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    if len(v) == 0:
        return encode_int(v, "plain"), {
            "n": 0,
            "n_distinct": 0,
            "n_runs": 0,
            "vmin": 0,
            "vmax": 0,
            "codec": "plain",
        }
    if _depth >= _MAX_NEST_DEPTH:
        vmin, vmax = int(v.min()), int(v.max())
        sz_for = 18 + _packed_bytes(len(v), _width(vmin, vmax))
        sz_plain = 10 + _plain_itemsize(vmin, vmax) * len(v)
        codec = "for" if sz_for < sz_plain else "plain"
        return encode_int(v, codec), {
            "n": len(v),
            "n_distinct": -1,
            "n_runs": -1,
            "vmin": vmin,
            "vmax": vmax,
            "codec": codec,
        }
    prep = _prepare(v)
    sizes = _sizes(prep)
    codec = min(sizes, key=lambda k: (sizes[k], _TIE_ORDER[k]))
    stats = {
        "n": prep["n"],
        "n_distinct": len(prep["uniq"]),
        "n_runs": prep["n_runs"],
        "vmin": prep["vmin"],
        "vmax": prep["vmax"],
        "codec": codec,
    }
    return encode_int(v, codec, _depth=_depth, _prep=prep), stats


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def zwrap_best(blob: bytes) -> bytes:
    """Add a ZSTD entropy layer on top of a finished blob when it wins.

    Bit-packed/dictionary output still carries residual entropy skew that a
    general-purpose entropy coder captures (the same layering the reference
    relies on: Parquet's light encodings + ZSTD on top, reference
    ``docs/benchmark_results.md:72-77``).  The frame is kept only when it
    undercuts the blob by ``_ZSTD_MIN_RATIO``; otherwise the blob is
    returned unchanged.  Works over ANY blob (integer or string
    containers) — decoders dispatch on the leading codec id.
    """
    z = bytes(_ZSTD.compress(blob))
    if len(z) + 17 < _ZSTD_MIN_RATIO * len(blob):
        return struct.pack("<BQQ", CODEC_ZSTD, len(blob), len(z)) + z
    return blob


def zunwrap(blob: bytes | memoryview) -> bytes:
    """Remove the ZSTD entropy layer if present."""
    buf = memoryview(blob)
    if len(buf) and buf[0] == CODEC_ZSTD:
        raw_len, zlen = struct.unpack_from("<QQ", buf, 1)
        try:
            return bytes(
                _ZSTD.decompress(
                    bytes(buf[17 : 17 + zlen]), decompressed_size=raw_len
                )
            )
        except OSError as e:
            # pyarrow raises when the frame does not decompress to exactly
            # the header's raw_len: a truncated or corrupt blob must never
            # decode silently
            raise ValueError(
                f"zwrap blob corrupt (header raw_len {raw_len}): {e}"
            ) from None
    return bytes(buf)


def decode_int(blob: bytes) -> np.ndarray:
    """Decode any integer blob back to int64, bit-identical to the source."""
    blob = zunwrap(blob)
    out, _ = _decode_at(memoryview(blob), 0)
    return out


def _decode_at(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    codec_id = buf[off]
    if codec_id == CODEC_PLAIN:
        n, itemsize = struct.unpack_from("<QB", buf, off + 1)
        start = off + 10
        end = start + itemsize * n
        dt = "<i4" if itemsize == 4 else "<i8"
        return np.frombuffer(buf[start:end], dtype=dt).astype(np.int64), end
    if codec_id == CODEC_FOR:
        n, ref, w = struct.unpack_from("<QqB", buf, off + 1)
        start = off + 18
        nbytes = _packed_bytes(n, w)
        u = unpack_uint(bytes(buf[start : start + nbytes]), n, w)
        return u.astype(np.int64) + ref, start + nbytes
    if codec_id == CODEC_DELTA:
        n, first = struct.unpack_from("<Qq", buf, off + 1)
        diffs, end = _decode_nested(buf, off + 17)
        v = np.empty(n, dtype=np.int64)
        v[0] = first
        if n > 1:
            np.cumsum(diffs, out=v[1:])
            v[1:] += first
        return v, end
    if codec_id == CODEC_RLE:
        (n,) = struct.unpack_from("<Q", buf, off + 1)
        run_vals, mid = _decode_nested(buf, off + 9)
        run_lens, end = _decode_nested(buf, mid)
        return np.repeat(run_vals, run_lens), end
    if codec_id == CODEC_DICT:
        n, card, w_codes = struct.unpack_from("<QIB", buf, off + 1)
        uniq, mid = _decode_nested(buf, off + 14)
        nbytes = _packed_bytes(n, w_codes)
        codes = unpack_uint(bytes(buf[mid : mid + nbytes]), n, w_codes)
        return uniq[codes.astype(np.int64)], mid + nbytes
    if codec_id == CODEC_VARDICT:
        n, card = struct.unpack_from("<QI", buf, off + 1)
        dictvals, mid = _decode_nested(buf, off + 13)
        (plen,) = struct.unpack_from("<Q", buf, mid)
        codes = varint_decode(bytes(buf[mid + 8 : mid + 8 + plen]), n)
        return dictvals[codes.astype(np.int64)], mid + 8 + plen
    raise ValueError(f"unknown codec id {codec_id} at offset {off}")


def _decode_nested(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (length,) = struct.unpack_from("<Q", buf, off)
    start = off + 8
    vals, _ = _decode_at(buf, start)
    return vals, start + length


def codec_of(blob: bytes) -> str:
    """Name of the top-level codec in a blob (for the manifest)."""
    return CODEC_NAMES[blob[0]]
