"""The benchmark's workloads: inputs, one pass of public calls, checks.

Sizes are fixed here, not by options: the run budget sets them (see
README.md for the sizes, the budget, and why each workload exists).
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import time

from . import datagen
from .eventlog import encode_split
from .stats import median, percentile, reportable_percentile

CODEC_PROBE_TOKENS = 2_000_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pc_sum(table, column: str) -> int:
    import pyarrow.compute as pc

    return pc.sum(table.column(column)).as_py() or 0


def _manifest_totals(b, out: str) -> tuple[int, int, float]:
    """docs, tokens and kernel seconds of the store's ok manifest rows."""
    from pyspark.sql import functions as F

    from etl_sql_duckdb_parquet__spark.encode import read_manifest

    with b.call("manifest.read"):
        r = (
            read_manifest(b.spark, out)
            .filter(F.col("status") == "ok")
            .agg(F.sum("n_docs"), F.sum("n_tokens"), F.sum("encode_s"))
            .first()
        )
    return int(r[0] or 0), int(r[1] or 0), float(r[2] or 0.0)


def probe_codecs(b, table, tag: str) -> None:
    """``codecs.<tag>.*``: the codec calls of one encode partition, made
    from the driver on up to ~2M tokens of the given input (median of 3)."""
    import numpy as np

    from etl_sql_duckdb_parquet__spark.codecs import (
        analyze_int, decode_int, decode_strings, encode_int_best, encode_strings,
    )
    from etl_sql_duckdb_parquet__spark.codecs.core import zwrap_best

    n_docs = max(1, int(CODEC_PROBE_TOKENS * table.num_rows / pc_sum(table, "n_tok")))
    t = table.slice(0, n_docs)
    values = t.column("tokens").combine_chunks().flatten().to_numpy().astype(np.int64)
    docids = t.column("doc_id").to_pylist()
    sources = t.column("source").to_pylist()

    def timed(fn, *args) -> float:
        fn(*args)  # first touch of fresh buffers is not what is measured
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(*args)
            samples.append(time.perf_counter() - t0)
        return median(samples)

    raw = encode_int_best(values)
    tok_blob = zwrap_best(raw)
    ids_blob = zwrap_best(encode_strings(docids))
    probe = {
        "analyze_int_s": timed(analyze_int, values),
        "encode_int_best_s": timed(encode_int_best, values),
        "zwrap_best_s": timed(zwrap_best, raw),
        "encode_strings_docids_s": timed(encode_strings, docids),
        "encode_strings_sources_s": timed(encode_strings, sources),
        "docids_bytes_per_doc": len(ids_blob) / len(docids),
        "decode_int_s": timed(decode_int, tok_blob),
        "decode_strings_s": timed(decode_strings, ids_blob),
    }
    b.info.update({f"codecs.{tag}.{k}": v for k, v in probe.items()})


class StoreInputs:
    """One seeded input set of ``store_lifecycle``, written as zstd parquet
    (the reference method): a long-doc base table and the epoch files."""

    def __init__(self, root: str, seed: int, n_docs: int, n_text: int,
                 epochs: int, n_targets: int) -> None:
        import numpy as np

        self.base = datagen.long_docs(seed, n_docs)
        self.input = os.path.join(root, "input")
        self.ref_bytes = datagen.write_zstd(self.base, os.path.join(self.input, "base.parquet"))
        self.n_docs = self.base.num_rows
        self.n_tokens = int(pc_sum(self.base, "n_tok"))

        self.short = datagen.short_docs(seed, n_text)
        rng = np.random.default_rng([seed, 3])
        epoch = rng.integers(0, epochs, self.short.num_rows)
        self.landing = os.path.join(root, "landing")
        landing_bytes = sum(
            datagen.write_zstd(self.short.filter(epoch == i),
                               os.path.join(self.landing, f"epoch_{i:02d}.parquet"))
            for i in range(epochs)
        )
        self.epoch_tokens = int(pc_sum(self.short, "n_tok"))
        self.all_tokens = self.n_tokens + self.epoch_tokens
        # base and epochs, each written as zstd parquet: the reference
        # method's bytes for the compacted store
        self.union_ref_bytes = self.ref_bytes + landing_bytes
        picks = rng.choice(self.short.num_rows, n_targets, replace=False)
        self.targets = [
            (r["doc_id"], r["tokens"], r["source"]) for r in self.short.take(picks).to_pylist()
        ]


class StoreLifecycle:
    """The token store from bulk write to point read, one pass:

    1. encode a long-doc table (~2.5M u³-zipf tokens, ~70% of docs in one
       hot source) into a fresh store: the int codec kernel, the stats
       scan, the shuffle and the blob sink do the work;
    2. read its manifest totals, decode it into the ``noop`` sink, and
       decode the ``doc_id, n_tok`` projection;
    3. drain two epoch files of short natural-text docs with URL ids
       into the store, one file per micro-batch (``encode_stream``): fixed
       per-run metadata cost and the string path dominate each epoch;
    4. compact (merge every snapshot, re-encode, vacuum): O(store)
       maintenance;
    5. verify the compacted store against base ∪ epochs, bit for bit, and
       look up one drained doc by id.
    """

    name = "store_lifecycle"
    # one pass (~16 s) per run: a second cost ~20% of the run budget and,
    # host noise lasting whole runs, did not narrow the spread
    min_passes = 1
    n_docs = 9_500  # long docs, ~2.5M tokens
    n_docs_text = 5_000  # natural-text docs, ~280k tokens
    epochs = 2
    lookup_targets = 8

    def setup(self, b) -> None:
        self.inp = StoreInputs(b.work, b.seed, self.n_docs, self.n_docs_text,
                               self.epochs, self.lookup_targets)
        self.n_lookups = 0
        self.sizes, self.kernel_cpu, self.epoch_s, self.compact = [], [], [], []
        self.parts_per_lookup = []

    def warm_up(self, b) -> None:
        """One untimed full-size pass: JIT, codegen and Python worker
        start-up land here, not on the timed calls (the first encode of a
        fresh JVM runs ~5x slower than the next).  A pass on smaller inputs
        was tried: it cost as long, and left the first timed pass ~20%
        slow."""
        self.run_pass(b)

    def _union(self, b):
        return b.spark.read.parquet(self.inp.input).unionByName(
            b.spark.read.parquet(self.inp.landing)
        )

    def run_pass(self, b) -> None:
        from etl_sql_duckdb_parquet__spark.encode import (
            candidate_parts, compact_store, decode_token_table, encode_token_table,
            lookup_docs, verify_roundtrip,
        )
        from etl_sql_duckdb_parquet__spark.streaming import encode_stream

        inp = self.inp
        store = b.fresh_dir("store")
        with b.call("encode"):
            st = encode_token_table(b.spark, b.spark.read.parquet(inp.input), store,
                                    resume=False)
        b.check(
            (st["n_docs"], st["n_tokens"]) == (inp.n_docs, inp.n_tokens),
            f"encode stats {st['n_docs']}/{st['n_tokens']} docs/tokens, "
            f"input {inp.n_docs}/{inp.n_tokens}",
        )
        docs, toks, kcpu = _manifest_totals(b, store)
        b.check(
            (docs, toks) == (inp.n_docs, inp.n_tokens),
            f"manifest ok totals {docs}/{toks}, input {inp.n_docs}/{inp.n_tokens}",
        )
        base_bytes = datagen.dir_bytes(os.path.join(store, "blobs"))
        with b.call("decode"):
            _noop(decode_token_table(b.spark, store))
        with b.call("decode.project"):
            _noop(decode_token_table(b.spark, store, columns=["doc_id", "n_tok"]))

        with b.call("drain"):
            q = encode_stream(b.spark, inp.landing, store, max_files_per_trigger=1)
            try:
                done = q.awaitTermination(120)
            finally:
                if q.isActive:
                    q.stop()
        err = q.exception()
        epochs = [p for p in q.recentProgress if p["numInputRows"] > 0]
        b.check(done and err is None and len(epochs) == self.epochs,
                f"drain: done={done} error={err} data batches={len(epochs)}")

        with b.call("compact"):
            res = compact_store(b.spark, store)
        b.check(res.get("compacted") and res.get("encode_n_tokens") == inp.all_tokens,
                f"compact rewrote {res.get('encode_n_tokens')} tokens, want {inp.all_tokens}")
        with b.call("verify"):
            v = verify_roundtrip(self._union(b), decode_token_table(b.spark, store))
        b.check(v["ok"], f"store is not base + epochs, bit for bit: {v}")

        doc_id, tokens, source = inp.targets[self.n_lookups % len(inp.targets)]
        self.n_lookups += 1
        with b.call("lookup.candidate_parts"):
            parts = candidate_parts(b.spark, store, [doc_id], snapshots="latest")
        with b.call("lookup.decode"):
            rows = lookup_docs(b.spark, store, [doc_id], parts=parts).collect()
        b.check(
            len(rows) == 1 and list(rows[0]["tokens"]) == tokens
            and rows[0]["source"] == source,
            f"lookup of {doc_id} returned {len(rows)} rows or other bytes",
        )
        if b.recording:
            self.kernel_cpu.append(kcpu)
            self.epoch_s.extend(p["durationMs"]["triggerExecution"] / 1e3 for p in epochs)
            self.sizes.append((base_bytes, datagen.dir_bytes(os.path.join(store, "blobs"))))
            self.compact.append((res.get("encode_n_tokens", 0),
                                 res.get("vacuum", {}).get("bytes_reclaimed", 0)))
            self.parts_per_lookup.append(len(parts))

    def lookup_walls(self, b) -> list[float]:
        """One lookup = candidate_parts + the pruned decode it feeds."""
        return [
            a["wall_s"] + d["wall_s"]
            for a, d in zip(b.calls, b.calls[1:])
            if (a["name"], d["name"]) == ("lookup.candidate_parts", "lookup.decode")
            and a["ok"] and d["ok"]
        ]

    def headline(self, b) -> dict:
        out = {}
        if b.walls("encode"):
            out["encode_tok_per_s"] = self.inp.n_tokens / median(b.walls("encode"))
        if b.walls("decode"):
            out["decode_tok_per_s"] = self.inp.n_tokens / median(b.walls("decode"))
        if self.sizes:
            out["size_vs_zstd"] = median(s[0] for s in self.sizes) / self.inp.ref_bytes
            out["compacted_size_vs_zstd"] = (
                median(s[1] for s in self.sizes) / self.inp.union_ref_bytes
            )
        walls = self.lookup_walls(b)
        if walls:
            out["lookup_p50_s"] = median(walls)
            p = reportable_percentile(len(walls))
            if p is not None and p > 50:
                out[f"lookup_p{p:g}_s"] = percentile(walls, p)
            out["lookup_samples"] = len(walls)
        if self.epoch_s:
            out["ingest_epoch_p50_s"] = median(self.epoch_s)
        if b.walls("compact"):
            out["compact_s"] = median(b.walls("compact"))
        return out

    def probe_layers(self, b) -> None:
        probe_codecs(b, self.inp.base, "long")
        probe_codecs(b, self.inp.short, "short")

    def layer_metrics(self, b, traces) -> dict:
        out = b.encode_layer(traces, "encode", median(self.kernel_cpu or [0.0]))
        for metric, call in (
            ("decode.full_s", "decode"),
            ("decode.project_s", "decode.project"),
            ("decode.verify_s", "verify"),
            ("manifest.read_s", "manifest.read"),
            ("lookup.candidate_parts_s", "lookup.candidate_parts"),
            ("lookup.decode_s", "lookup.decode"),
            ("compact.wall_s", "compact"),
        ):
            if b.walls(call):
                out[metric] = median(b.walls(call))
        if self.parts_per_lookup:
            out["lookup.parts_per_lookup"] = median(self.parts_per_lookup)
        n = sum(1 for t in traces if t.name == "lookup.decode")
        if n:
            out["lookup.spark_jobs"] = (
                sum(len(t.jobs) for t in traces if t.name.startswith("lookup.")) / n
            )
        drains = [t for t in traces if t.name == "drain"]
        if self.epoch_s:
            out["stream.epoch_s"] = median(self.epoch_s)
        if drains:
            out["stream.spark_jobs_per_epoch"] = median(len(t.jobs) for t in drains) / self.epochs
            split = [encode_split(t) for t in drains]
            for k in ("metadata_s", "driver_self_s"):
                out[f"stream.{k}"] = median(s[k] for s in split) / self.epochs
        if self.compact:
            out["compact.tokens_rewritten"] = median(c[0] for c in self.compact)
            out["compact.rewrite_amp"] = out["compact.tokens_rewritten"] / self.inp.epoch_tokens
            out["vacuum.bytes_reclaimed"] = median(c[1] for c in self.compact)
        return out


# q42 (MinHash-LSH pairs) is left out: at ~7 s warm it alone would cost a
# third of the pass, and the run budget has no room for it; q41 keeps the
# shingle self-join path measured.
CATALYST_QUERIES = (
    "q04_segment_revenue",
    "q10_returnflag_summary",
    "q17_dedup_keep_latest",
    "q41_ngram_jaccard_pairs",
    "q45_cosine_topk",
)
UDF_QUERIES = ("q46_ann_lsh_topk", "q50_codec_selection", "q66_embedding_neardup_sql")


def _canon_hash(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a result (floats at 9
    significant digits, columns by name) — the oracle tests' canon form."""
    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.9g}")
            else:
                vals.append(str(v))
        rows.append("\x1f".join(vals))
    h = hashlib.sha256("\x1e".join(sorted(rows)).encode()).hexdigest()
    return len(rows), h


class QuerySuite:
    """One pass over registry queries: five Catalyst-only ones and three
    that run Python kernels (an LSH UDF, codec kernels in applyInPandas, a
    sequential-fold LSH UDF).  The analytics reads never touch encode."""

    name = "query_suite"
    sf = 0.005
    min_passes = 2  # a pass is ~10 s of sub-second calls

    def setup(self, b) -> None:
        self.sf_dir = os.path.join(b.work, "sf")
        datagen.write_sf_dir(self.sf_dir, b.seed, self.sf)
        self.expected = {}

    def run_pass(self, b) -> None:
        """The warm-up pass checks every query against its DuckDB twin
        (rows only where the query has none) and keeps its row count and
        hash; every timed pass must reproduce both."""
        from etl_sql_duckdb_parquet__spark.queries import ORACLES, REGISTRY

        for q in CATALYST_QUERIES + UDF_QUERIES:
            with b.call(q[:3]):
                got = _canon_hash(REGISTRY[q](b.spark, self.sf_dir).toPandas())
            if q not in self.expected:
                b.check(got[0] > 0, f"{q}: no rows")
                if q in ORACLES:
                    want = _canon_hash(self._duckdb().execute(ORACLES[q]).fetchdf())
                    b.check(got == want, f"{q}: {got} differs from its DuckDB twin {want}")
                self.expected[q] = got
            b.check(got == self.expected[q], f"{q}: {got} != warm-up result {self.expected[q]}")

    def warm_up(self, b) -> None:
        """The first pass, untimed: every query compiles here."""
        self.run_pass(b)

    def _duckdb(self):
        if getattr(self, "_con", None) is None:
            import duckdb

            self._con = duckdb.connect()
            for p in sorted(glob.glob(os.path.join(self.sf_dir, "*.parquet"))):
                t = os.path.basename(p)[: -len(".parquet")]
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def headline(self, b) -> dict:
        out = {}
        for key, qs in (("sql_queries_s", CATALYST_QUERIES), ("udf_queries_s", UDF_QUERIES)):
            names = {q[:3] for q in qs}
            per_pass = {}
            for c in b.calls:
                if c["name"] in names and c["ok"]:
                    per_pass[c["pass"]] = per_pass.get(c["pass"], 0.0) + c["wall_s"]
            if per_pass:
                out[key] = median(per_pass.values())
        return out

    def probe_layers(self, b) -> None:
        pass

    def layer_metrics(self, b, traces) -> dict:
        out = {}
        for q in CATALYST_QUERIES + UDF_QUERIES:
            k = q[:3]
            if b.walls(k):
                out[f"queries.{k}_s"] = median(b.walls(k))
            sb = [t.total("shuffle.write.bytesWritten") for t in traces if t.name == k]
            if sb:
                out[f"queries.{k}.shuffle_bytes"] = median(sb)
        return out


WORKLOADS = {w.name: w for w in (StoreLifecycle, QuerySuite)}
