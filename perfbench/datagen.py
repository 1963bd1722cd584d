"""Seeded benchmark inputs.  Same seed, same bytes.

Everything is drawn here with numpy and written with pyarrow; the program
only receives the files.  The token tables have the program's input schema
``(doc_id, tokens array<int>, n_tok, source)``; the star-schema, event,
document and embedding tables the query suite reads have the schemas and
value ranges of the repository's testdata (TESTDATA.md), so the benchmark
needs no file outside its checkout.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en"] * 6) + ["de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

# rows per unit of scale factor, as in the repository's testdata
ROWS_PER_SF = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "part": 200_000,
    "supplier": 10_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no ``_``/``.`` side files)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _ts(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + off)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int) -> pa.Table:
    """Short texts over a 31-word vocabulary, uniform words, 10-100 per
    doc; one doc in fifty repeats an earlier doc's text exactly.  The
    testdata (TESTDATA.md) has such exact duplicates too; near copies with
    edits are left out because q42's MinHash-LSH is approximate by design
    and its DuckDB twin is the exact pair set, so pairs near the Jaccard
    threshold would make the twin check a coin toss."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    docs = np.split(words, np.cumsum(lens)[:-1])
    for i in rng.choice(np.arange(1, n), max(1, n // 50), replace=False):
        docs[i] = docs[rng.integers(0, i)]
    text = [" ".join(w) for w in docs]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def sf_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables of the query suite at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {k: max(100, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    n_cust, n_ord, n_li = n["customer"], n["orders"], n["lineitem"]
    emb = rng.normal(size=(n["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(
                    rng.integers(0, 25, n["supplier"]), pa.int32()
                ),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        np.array(["blue", "hot", "large", "small"])[
                            rng.integers(0, 4, n["part"])
                        ],
                        np.array(["bolt", "nut", "ring", "screw"])[
                            rng.integers(0, 4, n["part"])
                        ],
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n["part"])],
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + np.arange(n["part"]) % 1000 * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2400),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
                "l_partkey": pa.array(rng.integers(0, n["part"], n_li)),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _ts(rng, n_li, "1995-01-02", 2500),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
                "ts": _ts(rng, n["events"], "2024-01-01", 30),
                "user_id": pa.array(
                    rng.integers(0, max(150, n["events"] // 67), n["events"])
                ),
                "event_type": np.array(EVENT_TYPES)[
                    rng.integers(0, 5, n["events"])
                ],
                "value": _money(rng, 0.01, 500.0, n["events"]),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
            }
        ),
        "documents": documents(rng, n["documents"]),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(len(emb), dtype=np.int64)),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, len(emb)), pa.int32()),
            }
        ),
    }


def write_sf_dir(path: str, seed: int, sf: float) -> None:
    """Write the query-suite tables as ``<path>/<table>.parquet``."""
    os.makedirs(path, exist_ok=True)
    for name, table in sf_tables(seed, sf).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))


VOCAB = 50257  # GPT-2-sized token id space
TOKEN_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def _token_table(doc_ids, lengths: np.ndarray, tokens: np.ndarray, sources) -> pa.Table:
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
            "n_tok": pa.array(lengths, pa.int32()),
            "source": pa.array(sources, pa.string()),
        },
        schema=TOKEN_SCHEMA,
    )


def long_docs(seed: int, n_docs: int, avg_len: int = 256) -> pa.Table:
    """Long documents: lengths uniform in [16, 2*avg_len), token ids
    ``floor(VOCAB * u**3)`` (zipf-like rank frequency), ~70% of docs in one
    hot source — the shape of the program's ``synth_token_table``."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(16, 2 * avg_len, n_docs)
    tokens = np.floor(VOCAB * rng.random(int(lengths.sum())) ** 3).astype(np.int32)
    sources = np.array(["web", "books", "code", "wiki"])[
        rng.choice(4, n_docs, p=[0.7, 0.1, 0.1, 0.1])
    ]
    ids = [f"doc_{i:012d}" for i in range(n_docs)]
    return _token_table(ids, lengths, tokens, sources)


def short_docs(seed: int, n_docs: int) -> pa.Table:
    """Natural-text documents (see :func:`documents`) tokenized word by word
    into a seeded id map, with URL ids (one of 997 hosts plus an md5 path)."""
    rng = np.random.default_rng([seed, 2])
    docs = documents(rng, n_docs)
    word_ids = dict(zip(WORDS, rng.choice(VOCAB, len(WORDS), replace=False)))
    texts = docs.column("text").to_pylist()
    lengths = np.array([t.count(" ") + 1 for t in texts])
    tokens = np.array([word_ids[w] for t in texts for w in t.split(" ")], np.int32)
    ids = []
    for i in range(n_docs):
        h = hashlib.md5(f"{seed}/{i}".encode()).hexdigest()
        ids.append(f"https://www.site{int(h[:8], 16) % 997}.com/articles/{h}")
    return _token_table(ids, lengths, tokens, docs.column("source"))


def write_zstd(table: pa.Table, path: str) -> int:
    """Write ``table`` as one zstd parquet file — the reference method —
    and return its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")
    return os.path.getsize(path)
