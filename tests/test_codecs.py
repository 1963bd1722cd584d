"""Round-trip + selection tests for the codec kernels.

Mirrors the reference's unit-test philosophy (reference
``tests/test_transform.py``, ``tests/test_validate.py``: each rule gets
pass+fail adversarial cases) applied to our codecs: the north-rule invariant
is bit-identical decode on every input, including degenerate ones.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_sql_duckdb_parquet__spark.codecs import (
    analyze_int,
    decode_int,
    decode_strings,
    encode_int,
    encode_int_best,
    encode_strings,
)
from etl_sql_duckdb_parquet__spark.codecs.core import (
    CODEC_ZSTD,
    codec_of,
    pack_uint,
    unpack_uint,
    zunwrap,
    zwrap_best,
)

I32 = np.int32
INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1

RNG = np.random.default_rng(42)

ADVERSARIAL = {
    "empty": np.array([], dtype=I32),
    "single": np.array([7], dtype=I32),
    "single_min": np.array([INT32_MIN], dtype=I32),
    "constant": np.full(1000, 42, dtype=I32),
    "constant_zero": np.zeros(999, dtype=I32),
    "two_values": np.array([INT32_MIN, INT32_MAX], dtype=I32),
    "full_range": RNG.integers(INT32_MIN, INT32_MAX, 5000, endpoint=True).astype(I32),
    "negatives": -RNG.integers(0, 1000, 2000).astype(I32),
    "sorted": np.sort(RNG.integers(0, 10**9, 3000)).astype(I32),
    "sorted_desc": np.sort(RNG.integers(0, 10**9, 3000))[::-1].astype(I32),
    "runs": np.repeat(RNG.integers(0, 50, 100), RNG.integers(1, 200, 100)).astype(I32),
    "low_card": RNG.integers(0, 7, 10000).astype(I32),
    "high_card": RNG.integers(0, 2**30, 10000).astype(I32),
    "zipf_tokens": np.minimum(RNG.zipf(1.3, 20000), 50257).astype(I32) - 1,
    "alternating": np.tile([0, 1], 5000).astype(I32),
    "boundary_runs": np.repeat([INT32_MIN, 0, INT32_MAX], 100).astype(I32),
}


@pytest.mark.parametrize("name", sorted(ADVERSARIAL))
@pytest.mark.parametrize("codec", ["plain", "for", "delta", "rle", "dict", "vardict"])
def test_roundtrip_every_codec(name, codec):
    vals = ADVERSARIAL[name]
    decoded = decode_int(encode_int(vals, codec))
    np.testing.assert_array_equal(decoded.astype(np.int64), vals.astype(np.int64))


@pytest.mark.parametrize("name", sorted(ADVERSARIAL))
def test_roundtrip_auto(name):
    vals = ADVERSARIAL[name]
    blob = encode_int_best(vals)
    decoded = decode_int(blob)
    np.testing.assert_array_equal(decoded.astype(np.int64), vals.astype(np.int64))


def test_auto_never_bigger_than_plain():
    for name, vals in ADVERSARIAL.items():
        best = len(encode_int_best(vals))
        plain = len(encode_int(vals, "plain"))
        assert best <= plain, f"{name}: auto {best} > plain {plain}"


def test_selector_picks_sensible_codecs():
    def picked(vals):
        return codec_of(encode_int_best(vals))

    assert picked(ADVERSARIAL["constant"]) in ("for", "rle")
    # long runs → rle
    assert picked(ADVERSARIAL["runs"]) == "rle"
    # sorted ascending → delta wins (tiny diffs)
    assert picked(ADVERSARIAL["sorted"]) == "delta"
    # low cardinality, wide range → dict or small-width for
    low_wide = (RNG.integers(0, 5, 5000) * 10**8).astype(I32)
    assert picked(low_wide) == "dict"


def test_selector_wrapped_size_not_worse_than_for():
    """On u⁶-skewed tokens the selector's pick must not lose to FOR once
    both are ZSTD-wrapped.  The retired VARINT won here before the wrap
    (and was picked) but came out ~6% larger after it."""
    rng = np.random.default_rng(7)
    x = np.floor(50257 * rng.random(140_000) ** 6).astype(np.int64)
    best = zwrap_best(encode_int_best(x))
    assert len(best) <= len(zwrap_best(encode_int(x, "for")))
    np.testing.assert_array_equal(decode_int(best), x)


@pytest.mark.parametrize("codec_id", [5, 9, 11, 13])
def test_retired_codec_ids_raise(codec_id):
    """FSST (5), VARINT (9), FORBLOCK (11) and the DEFLATE wrap (13) are
    retired: a blob led by one of them, or a STRARR whose nested bytes blob
    is, must raise, never decode to something."""
    blob = struct.pack("<BQQ", codec_id, 4, 4) + b"\x00" * 32
    with pytest.raises(ValueError, match="unknown"):
        decode_int(blob)
    with pytest.raises(ValueError, match="unknown"):
        decode_strings(blob)
    strarr = bytearray(encode_strings(STRING_CASES["urls"]))
    strarr[_bytes_blob_offset(strarr)] = codec_id
    with pytest.raises(ValueError, match="unknown"):
        decode_strings(bytes(strarr))


def _bytes_blob_offset(blob: bytes) -> int:
    """Offset of the nested bytes blob in a STRARR blob."""
    (ln,) = struct.unpack_from("<Q", blob, 9)
    return 9 + 8 + ln + 8


def test_analyze_sizes_are_exact():
    """Selection is only sound if predicted sizes equal actual sizes."""
    for name, vals in ADVERSARIAL.items():
        stats = analyze_int(vals)
        for codec, predicted in stats["sizes"].items():
            actual = len(encode_int(vals, codec))
            # nested blobs are auto-selected, so predictions for delta/rle/
            # dict are upper bounds (nested FOR assumed); plain & for exact
            if codec in ("plain", "for"):
                assert actual == predicted, (name, codec, actual, predicted)
            else:
                assert actual <= predicted, (name, codec, actual, predicted)


def test_compression_wins_on_token_like_data():
    toks = ADVERSARIAL["zipf_tokens"]
    ratio = len(encode_int_best(toks)) / (4 * len(toks))
    assert ratio < 0.7, f"expected <0.7 raw ratio on zipf tokens, got {ratio:.3f}"


def test_blob_is_self_describing():
    vals = ADVERSARIAL["runs"]
    blob = encode_int_best(vals)
    assert codec_of(blob) == "rle"


@given(
    st.lists(st.integers(min_value=INT32_MIN, max_value=INT32_MAX), max_size=300),
    st.sampled_from(["plain", "for", "delta", "rle", "dict", "vardict"]),
)
@settings(max_examples=200, deadline=None)
def test_roundtrip_property(xs, codec):
    vals = np.array(xs, dtype=I32)
    decoded = decode_int(encode_int(vals, codec))
    np.testing.assert_array_equal(decoded.astype(np.int64), vals.astype(np.int64))


@given(st.integers(0, 64), st.lists(st.integers(0, 2**63 - 1), max_size=100))
@settings(max_examples=100, deadline=None)
def test_pack_unpack_property(width, xs):
    lim = (1 << width) if width < 64 else 2**64
    vals = np.array([x % lim for x in xs], dtype=np.uint64)
    out = unpack_uint(pack_uint(vals, width), len(vals), width)
    np.testing.assert_array_equal(out, vals)


def test_zunwrap_rejects_truncated_blob():
    inner = b"payload-bytes" * 10
    good = zwrap_best(inner)
    assert good[0] == CODEC_ZSTD and zunwrap(good) == inner
    # header lies: claims one byte more than the payload decompresses to
    bad = bytes([CODEC_ZSTD]) + (len(inner) + 1).to_bytes(8, "little") + good[9:]
    with pytest.raises(ValueError, match="zwrap blob corrupt"):
        zunwrap(bad)


def _truncation_cases() -> dict[str, bytes]:
    rng = np.random.default_rng(9)
    cases = {}
    for w in (8, 12, 16, 32, 64):
        lo, hi = (-(2**63), 2**63 - 1) if w == 64 else (0, 2**w - 1)
        x = rng.integers(lo, hi, 1000, endpoint=True)
        x[:2] = lo, hi
        cases[f"for_w{w}"] = encode_int(x, "for")
    cases["plain_i4"] = encode_int(rng.integers(INT32_MIN, INT32_MAX, 1000), "plain")
    cases["plain_i8"] = encode_int(rng.integers(-(2**40), 2**40, 1000), "plain")
    low_card = rng.integers(0, 200, 1000) * 1000
    for codec, x in (
        ("delta", np.cumsum(rng.integers(0, 300, 1000))),
        ("rle", np.repeat(rng.integers(0, 300, 400), rng.integers(1, 9, 400))),
        ("dict", low_card),
        ("vardict", low_card),
    ):
        cases[codec] = encode_int(x, codec)
    return cases


TRUNCATION_CASES = _truncation_cases()


@pytest.mark.parametrize("cut", [1, 2, 4, 8])
@pytest.mark.parametrize("name", sorted(TRUNCATION_CASES))
def test_truncated_int_blob_raises(name, cut):
    """A blob cut short must raise, never decode fewer values than its
    header's ``n`` (byte-width FOR codes and PLAIN items were read to
    whatever the buffer held)."""
    blob = TRUNCATION_CASES[name]
    assert len(decode_int(blob)) == struct.unpack_from("<Q", blob, 1)[0]
    with pytest.raises(ValueError):
        decode_int(blob[:-cut])


def _token_regimes(rng, n: int) -> dict[str, np.ndarray]:
    """FIXTURES §1's token regimes, ``n`` tokens each."""
    return {
        "low_cardinality": rng.integers(0, 7, n),
        "long_constant_runs": np.repeat(
            rng.integers(0, 50257, n), rng.integers(1, 51, n)
        )[:n],
        "narrow_range": rng.integers(1000, 1256, n),
        "monotone": np.cumsum(rng.integers(0, 16, n)),
        "random_int32": rng.integers(INT32_MIN, INT32_MAX, n, endpoint=True),
        "zipf": np.minimum(rng.zipf(1.2, n), 50257) - 1,
        "constant": np.full(n, 42),
    }


TOKEN_REGIMES = _token_regimes(np.random.default_rng(7), 200_000)


@pytest.mark.parametrize("regime", sorted(TOKEN_REGIMES))
def test_token_column_not_larger_than_parquet_zstd(regime):
    """The north-star size condition at codec level: selector + zstd bytes
    of a ``list<int32>`` token column (flat tokens plus doc lengths) are at
    most pyarrow's Parquet/ZSTD bytes of the same column.  On long constant
    runs RLE is what gets there: with RLE dropped from the candidates the
    selector's pick came out 1.11× Parquet's bytes."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    toks = TOKEN_REGIMES[regime].astype(I32)
    n = len(toks)
    lens = np.diff(np.r_[0, np.sort(rng.integers(0, n + 1, n // 4096)), n])
    col = pa.ListArray.from_arrays(
        pa.array(np.r_[0, np.cumsum(lens)].astype(I32)), pa.array(toks)
    )
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table({"tokens": col}), sink, compression="zstd")
    tok_blob = encode_int_best(toks)
    ours = len(zwrap_best(tok_blob)) + len(zwrap_best(encode_int_best(lens)))
    assert ours <= sink.getvalue().size, (regime, ours, sink.getvalue().size)
    if regime == "long_constant_runs":
        assert codec_of(tok_blob) == "rle"


# ---------------------------------------------------------------------------
# string arrays
# ---------------------------------------------------------------------------

STRING_CASES = {
    "empty": [],
    "one": ["doc_1"],
    "ids": [f"doc_{i:08d}" for i in range(3000)],
    "low_card": ["web", "books", "code", "wiki"] * 800,
    "mixed_len": ["", "a", "ab" * 50, "x" * 999],
    "unicode": ["żółć", "日本語", "🎉emoji", "plain"] * 100,
    "urls": [f"https://example.com/page/{i}?ref=abc" for i in range(500)],
}


@pytest.mark.parametrize("name", sorted(STRING_CASES))
def test_strings_roundtrip(name):
    vals = STRING_CASES[name]
    assert decode_strings(encode_strings(vals)).to_pylist() == vals


def test_urls_keep_plain_bytes():
    """Distinct URLs go STRARR with a PLAINBYTES (7) buffer: the zstd layer,
    not a byte codec, compresses them."""
    blob = encode_strings(STRING_CASES["urls"])
    assert blob[0] == 6  # CODEC_STRARR
    assert blob[_bytes_blob_offset(blob)] == 7  # CODEC_PLAINBYTES


def test_strdict_picked_for_low_cardinality():
    blob = encode_strings(STRING_CASES["low_card"])
    assert blob[0] == 8  # CODEC_STRDICT
    raw = sum(len(s.encode()) for s in STRING_CASES["low_card"])
    assert len(blob) < 0.2 * raw


@given(st.lists(st.text(max_size=40), max_size=120))
@settings(max_examples=100, deadline=None)
def test_strings_roundtrip_property(vals):
    assert decode_strings(encode_strings(vals)).to_pylist() == vals


def test_pattern_id_roundtrip_and_size():
    ids = [f"doc_{i:010d}" for i in range(5000)]
    blob = encode_strings(ids)
    assert blob[0] == 12  # CODEC_PATTERNID
    assert decode_strings(blob).to_pylist() == ids
    assert len(blob) < 0.02 * sum(len(s) for s in ids)
    # shuffled (non-sequential) still pattern-encodable
    shuffled = [ids[(i * 2654435761) % 5000] for i in range(5000)]
    blob2 = encode_strings(shuffled)
    assert decode_strings(blob2).to_pylist() == shuffled


def test_pattern_id_rejects_non_uniform():
    for vals in (
        ["doc_1", "doc_22"],            # ragged width
        ["doc_01", "dud_02"],           # prefix mismatch
        ["doc_aa", "doc_bb"],           # no digit suffix
        [],
    ):
        blob = encode_strings(vals)
        assert decode_strings(blob).to_pylist() == vals
        assert blob[0] != 12


# one input per string codec, each with non-ASCII bytes
ARROW_CASES = {
    12: [f"żółć_{i:06d}" for i in range(400)],  # PATTERNID
    8: ["web", "wiki-żółć", "日本語", "code"] * 100,  # STRDICT
    6: [f"https://例え.jp/{i}?q={i * 7}" for i in range(400)],  # STRARR
}


def _arrow_shape(vals: list[str], shape: str):
    padded = pa.array(["pad", *vals, "pad"], pa.string())
    return {
        "whole": lambda: pa.array(vals, pa.string()),
        "sliced": lambda: padded.slice(1, len(vals)),
        "chunked": lambda: pa.chunked_array(
            [vals[:150], vals[150:]], pa.string()
        ),
        "empty": lambda: padded.slice(1, 0),
    }[shape]()


@pytest.mark.parametrize("shape", ["whole", "sliced", "chunked", "empty"])
@pytest.mark.parametrize("codec_id", sorted(ARROW_CASES))
def test_strings_arrow_input_roundtrip(codec_id, shape):
    """The encode kernel passes sliced and chunked Arrow arrays: each
    encodes to the bytes of its list form, by the expected codec, and
    decodes to a ``pa.string()`` array of the same values."""
    arr = _arrow_shape(ARROW_CASES[codec_id], shape)
    assert shape != "sliced" or arr.offset == 1
    vals = arr.to_pylist()
    blob = encode_strings(arr)
    assert blob == encode_strings(vals)
    assert blob[0] == (codec_id if vals else 6)
    out = decode_strings(zwrap_best(blob))
    assert out.type == pa.string() and out.to_pylist() == vals


def test_strings_reject_nulls():
    with pytest.raises(ValueError, match="no nulls"):
        encode_strings(pa.array(["a", None, "b"]))


def test_zwrap_roundtrip_and_gate():
    rng = np.random.default_rng(3)
    # skewed data: light codec leaves entropy → the ZSTD layer engages
    x = np.floor(50257 * rng.random(200_000) ** 3).astype(np.int64)
    blob = encode_int_best(x)
    wrapped = zwrap_best(blob)
    assert wrapped[0] == CODEC_ZSTD and len(wrapped) < len(blob)
    assert zunwrap(wrapped) == blob
    assert np.array_equal(decode_int(wrapped), x)
    # incompressible-ish data: gate must refuse (blob returned unchanged)
    y = rng.integers(0, 2**31, 50_000).astype(np.int64)
    blob_y = encode_int_best(y)
    assert np.array_equal(decode_int(zwrap_best(blob_y)), y)


def test_zwrap_strings_dispatch():
    vals = [f"user_{i % 7}@example.com" for i in range(5000)]
    blob = encode_strings(vals)
    assert decode_strings(zwrap_best(blob)).to_pylist() == vals


def test_encode_meta_names_codec_without_decompressing(monkeypatch):
    """The partition meta's ``codec`` comes from the selector's stats and
    the frame's leading byte; encoding a partition must not decompress
    the token blob it just wrapped."""
    import json

    from etl_sql_duckdb_parquet__spark.codecs import core
    from etl_sql_duckdb_parquet__spark.encode import encode_job

    rng = np.random.default_rng(5)
    values = np.floor(50257 * rng.random(20_000) ** 3).astype(np.int32)
    expected = codec_of(encode_int_best(values)) + "+z"

    def boom(blob):
        raise AssertionError("token blob decompressed during encode")

    monkeypatch.setattr(core, "zunwrap", boom)
    monkeypatch.setattr(encode_job, "zunwrap", boom, raising=False)
    part = pa.table(
        {
            "tokens": pa.ListArray.from_arrays(
                pa.array([0, 12_000, 20_000], pa.int32()), pa.array(values)
            ),
            "doc_id": ["doc_0000000001", "doc_0000000002"],
            "source": ["web", "web"],
        }
    )
    row = encode_job._encode_blob_row(3, part, 0.0)
    assert row["tokens_blob"][0] == CODEC_ZSTD
    assert json.loads(row["meta"])["codec"] == expected


def _two_part_batches() -> list:
    """A seeded partition holding two part ids, interleaved over three
    batches: pattern ids in part 0, URL ids in part 1, three sources (one
    non-ASCII)."""
    rng = np.random.default_rng(11)
    n = 600
    part = rng.integers(0, 2, n).astype(np.int32)
    lens = rng.integers(0, 400, n)
    values = np.floor(50257 * rng.random(int(lens.sum())) ** 3).astype(I32)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(I32)
    hashes = rng.integers(0, 2**62, n)
    ids = [
        f"doc_{i:010d}" if p == 0 else f"https://example.com/{h:x}"
        for i, (p, h) in enumerate(zip(part, hashes))
    ]
    sources = np.array(["web", "wiki-żółć", "news"])[rng.integers(0, 3, n)]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(values)
            ),
            "n_tok": pa.array(lens.astype(I32)),
            "source": pa.array(sources.tolist(), pa.string()),
            "part_id": pa.array(part),
        }
    )
    return table.to_batches(max_chunksize=200)


def test_encode_kernel_blob_bytes_pinned():
    """The encode kernel's four blob columns, byte for byte: the sha1 of
    each column over the partition's blob rows in part order.  The digests
    were taken from the per-batch accumulator kernel this one replaced; a
    moved byte in any codec, or a doc reordered within a part, fails."""
    import hashlib
    import json

    from etl_sql_duckdb_parquet__spark.encode import encode_job

    rows = sorted(
        (
            r
            for b in encode_job._encode_arrow_partition(iter(_two_part_batches()))
            for r in b.to_pylist()
        ),
        key=lambda r: r["part_id"],
    )
    digests = {
        c: hashlib.sha1(b"".join(r[c] for r in rows)).hexdigest()
        for c in ("tokens_blob", "lengths_blob", "docids_blob", "sources_blob")
    }
    assert digests == {
        "tokens_blob": "db1df70a7e754c2d6b60f4e5f3e63cab97f438bd",
        "lengths_blob": "dda1ba74d78fef868d5cb9b87578cfcd9d0723be",
        "docids_blob": "f590cd108f414bc9b881a0c9ec5690f23d0bf4fd",
        "sources_blob": "d925f6e470ebedec9b78a8c173d95ef1529991b2",
    }
    metas = [json.loads(r["meta"]) for r in rows]
    assert [(r["part_id"], m["n_docs"], m["raw_bytes"], m["codec"])
            for r, m in zip(rows, metas)] == [
        (0, 302, 246_871, "for+z"),
        (1, 298, 250_734, "for+z"),
    ]
