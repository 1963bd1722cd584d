"""Physical-plan regression guards.

Correctness tests prove the operators compute the right rows; these prove
the PLANS are the ones we'd want on a 1000-executor cluster: broadcast
joins where a side is dimension-sized, predicate/projection pushdown into
the parquet scans, no single-partition exchanges on unbounded data, no
cartesian products outside the documented brute-force baselines, and
similarity pairs scored in one Arrow kernel rather than in huge
interpreted expressions.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sql_duckdb_parquet__spark.queries import REGISTRY  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")


def plan_of(df, mode: str = "formatted") -> str:
    sess = df.sparkSession
    return sess._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_q04_broadcasts_dimension_joins(spark):
    """At sf0.01 the customer side is measurably under the auto-broadcast
    threshold — Catalyst must pick a broadcast exchange on its own (no
    hint in the query, see test_q04_customer_join_is_not_hint_broadcast),
    not a sort-merge over the fact table."""
    plan = plan_of(REGISTRY["q04_segment_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_parquet_scan_pushes_filters_and_prunes_columns(spark):
    """A filtered two-column aggregate must reach the scan as PushedFilters
    + a pruned ReadSchema — never a full-width scan."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    df = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_orderstatus,F)" in plan
    # pruned read schema: only the three referenced columns
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "o_orderkey" not in read_schema and "o_custkey" not in read_schema


def test_q51_has_no_single_partition_exchange(spark):
    """The round-1 weak finding: a global dense_rank window funneled the
    whole vocabulary through one task.  The two-phase ranking must keep
    every exchange partitioned."""
    plan = plan_of(REGISTRY["q51_vocab_ids"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan


def _without_auto_broadcast(spark, builder):
    """Plan with auto-broadcast disabled: any BroadcastExchange left in the
    initial plan can only come from an explicit ``F.broadcast`` hint."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return plan_of(builder())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q51_vocab_join_is_not_hint_broadcast(spark):
    """The vocabulary is unbounded at 100 TB of web text: the words⋈vocab
    join must NOT carry a broadcast hint (round-2 weak finding).  With
    auto-broadcast disabled, the only BroadcastExchange allowed in the
    plan is the metadata-sized per-range-partition offsets table."""
    plan = _without_auto_broadcast(
        spark, lambda: REGISTRY["q51_vocab_ids"](spark, SF_DIR)
    )
    assert plan.count("BroadcastExchange (") <= 1  # tree node occurrences
    # the vocab side must ride a shuffled join on `word`
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Left keys [1]: [word" in plan


def test_q04_customer_join_is_not_hint_broadcast(spark):
    """customer scales linearly with SF (~15 B rows at 100 TB lineitem
    scale): the q04 enrichment join must NOT carry a broadcast hint — a
    hint bypasses AQE's size check and OOMs at 100× (round-3 weak
    finding).  q04 uses no legitimate hints, so with auto-broadcast off
    the plan must contain no BroadcastExchange at all."""
    plan = _without_auto_broadcast(
        spark, lambda: REGISTRY["q04_segment_revenue"](spark, SF_DIR)
    )
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_q19_semijoin_is_not_hint_broadcast(spark):
    """The high-balance customer set is a ~10% slice of an unbounded
    table (output-scale, not metadata): the left-semi must NOT carry a
    broadcast hint (round-3 weak finding)."""
    plan = _without_auto_broadcast(
        spark,
        lambda: REGISTRY["q19_high_balance_order_stats"](spark, SF_DIR),
    )
    assert "BroadcastExchange" not in plan


def test_q42_candidate_semijoin_is_not_hint_broadcast(spark):
    """Candidate-id cardinality is output-scale (billions at 100 TB): the
    verify semi-join must NOT carry a broadcast hint (round-2 weak
    finding).  q42 uses no legitimate hints, so with auto-broadcast off
    the plan must contain no BroadcastExchange at all."""
    plan = _without_auto_broadcast(
        spark, lambda: REGISTRY["q42_minhash_lsh_pairs"](spark, SF_DIR)
    )
    assert "BroadcastExchange" not in plan


def test_q42_lsh_is_not_cartesian(spark):
    """MinHash+LSH near-dup: candidates come from the band-bucket join —
    the plan must contain no cartesian product (the round-1 all-pairs
    verify regression)."""
    plan = plan_of(REGISTRY["q42_minhash_lsh_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_q56_simhash_sql_is_not_cartesian_and_stays_jvm(spark):
    """The oracle-checked SimHash twin must pair via the band join (no
    cartesian) and keep the signature math in JVM built-ins (no Python
    eval nodes in the plan)."""
    plan = plan_of(REGISTRY["q56_simhash_sql_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_q58_asof_is_single_keyed_window_not_range_join(spark):
    """The as-of join must be the union-and-window composition: no
    cartesian/broadcast-nested-loop range join, and a Window over the
    join key present in the plan."""
    plan = plan_of(REGISTRY["q58_asof_click_attribution"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_q59_rollup_is_single_pass_expand(spark):
    """ROLLUP must plan as one Expand + aggregate, not unioned rescans:
    exactly one scan of the orders table."""
    plan = plan_of(REGISTRY["q59_rollup_revenue"](spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("orders.parquet") <= 1


def test_q60_range_join_is_window_not_nested_loop(spark):
    """The 1-hour range join must be a value-range window frame, not an
    inequality join (BroadcastNestedLoop/Cartesian)."""
    plan = plan_of(REGISTRY["q60_range_window_clicks"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_q66_neardup_sql_twin_is_not_cartesian(spark):
    """The embedding near-dup must generate candidates by bucket join,
    never a cartesian product."""
    plan = plan_of(REGISTRY["q66_embedding_neardup_sql"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_encode_sink_has_no_repack_exchange(spark):
    """The blob sink must ride the encode stage's own tasks: exactly ONE
    shuffle in the whole encode plan (the part_id repartition feeding the
    mapInArrow kernel), and in particular no round-robin repack exchange
    between the kernel and the sink — at 100 TB the old
    ``repartition(n_files)`` moved every compressed byte through the
    network a second time purely for file packing (round-4 verdict's top
    at-scale cost; compact_store owns file-count hygiene now)."""
    from etl_sql_duckdb_parquet__spark.encode import (
        plan_partitions,
        synth_token_table,
    )
    from etl_sql_duckdb_parquet__spark.encode.encode_job import (
        encode_sink_frame,
        input_stats,
    )

    df = synth_token_table(spark, n_docs=200, seed=5)
    shares, _ = input_stats(df)
    planned, n_parts, _ = plan_partitions(
        df, target_tokens=20_000, shares=shares
    )
    plan = plan_of(
        encode_sink_frame(planned, n_parts, "run_plan_test"), "simple"
    )
    # the single data shuffle: hash on part_id into the kernel
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # no repack between kernel and sink (and no other shuffle shape)
    assert "RoundRobinPartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # the kernel sits ABOVE the exchange (top-down plan print), i.e. the
    # frame the sink writes is the kernel's direct output
    assert plan.index("MapInArrow") < plan.index("Exchange"), plan


def test_one_part_encode_sink_has_no_plan_join(spark):
    """With ONE planned partition every doc's part is 0: the plan is a
    literal, with no broadcast join, but the part_id hash exchange stays
    (a narrow ``coalesce(1)`` would pull the whole upstream, e.g. a
    selective filter over a large table, into one task)."""
    from etl_sql_duckdb_parquet__spark.encode import (
        plan_partitions,
        synth_token_table,
    )
    from etl_sql_duckdb_parquet__spark.encode.encode_job import (
        encode_sink_frame,
        input_stats,
    )

    df = synth_token_table(spark, n_docs=20, seed=5)
    shares, _ = input_stats(df)
    planned, n_parts, _ = plan_partitions(
        df, target_tokens=20_000, shares=shares
    )
    assert n_parts == 1
    plan = plan_of(
        encode_sink_frame(planned, n_parts, "run_plan_test"), "simple"
    )
    assert "BroadcastHashJoin" not in plan, plan
    # repartition(1, part_id) plans as a one-partition SHUFFLE exchange
    # (Spark prints it as SinglePartition, not hashpartitioning)
    assert plan.count("- Exchange ") == 1, plan
    assert "Exchange SinglePartition, REPARTITION_BY_NUM" in plan, plan
    assert "Coalesce" not in plan, plan


def _jobs_run_by(spark, call) -> int:
    """Spark jobs a driver call submits (its own job group; the status
    store is fed by the async listener bus, so drain it first)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_calls_run_one_job_per_metadata_read(spark, tmp_path):
    """Store-layer calls pay one Spark job per metadata read on a remote
    store and none on a filesystem store, where ``manifest.read_rows``
    reads the metadata files on the driver with pyarrow (as
    ``write_rows`` writes them); every decision runs on the driver and
    driver-built frames are LocalRelations.  An encode is then the stats
    scan (2) and the sink write (3: plan broadcast, shuffle, write); a
    decode plan, a candidate lookup and the manifest report run none."""
    from etl_sql_duckdb_parquet__spark.encode import (
        candidate_parts,
        decode_token_table,
        encode_token_table,
        synth_token_table,
    )
    from etl_sql_duckdb_parquet__spark.encode.report import manifest_report
    from etl_sql_duckdb_parquet__spark.etl.history import EventLog

    df = synth_token_table(spark, n_docs=200, seed=5)
    out = str(tmp_path / "jobs_store")
    assert _jobs_run_by(
        spark, lambda: encode_token_table(spark, df, out, target_tokens=20_000)
    ) == 5
    assert _jobs_run_by(spark, lambda: decode_token_table(spark, out)) == 0
    assert _jobs_run_by(
        spark, lambda: candidate_parts(spark, out, ["doc_000000000001"])
    ) == 0
    log = EventLog(spark, out)
    log.start("docs", "encode")
    log.end("docs", "encode", n_rows=200)
    log.flush()
    report = []
    assert _jobs_run_by(
        spark, lambda: report.append(manifest_report(spark, out))
    ) == 0
    assert "| docs | encode | ok | 200 |" in report[0], report[0]


def test_store_call_job_budgets(spark, tmp_path):
    """The rest of a store's life on a filesystem store, one pin per
    call (a remote store adds one job per metadata read):

    - a resumed one-part encode (a drain epoch): stats scan (2), shuffle
      and write — no plan broadcast (the one part is a literal), and the
      completed-parts read, the commit read and the manifest write run
      on the driver (4);
    - a decode run: the scan alone, winners being a run filter, not a
      broadcast join (1);
    - ``lookup_docs(...).collect()``: the scan, ids being a filter (1);
    - ``compact_store``: a resumed multi-part encode (5); its one
      manifest read (the in-flight pre-check, the live set and the union
      decode's winners), the merge-row write and vacuum's read and
      pre-swap re-read run none (5).
    """
    from etl_sql_duckdb_parquet__spark.encode import (
        compact_store,
        decode_token_table,
        encode_token_table,
        lookup_docs,
        synth_token_table,
    )

    out = str(tmp_path / "jobs_life")
    encode_token_table(
        spark, synth_token_table(spark, n_docs=200, seed=5), out,
        target_tokens=20_000,
    )
    epoch = synth_token_table(spark, n_docs=20, seed=6).withColumn(
        "doc_id", F.concat(F.lit("e_"), F.col("doc_id"))
    )
    stats = {}

    def drain_epoch():
        stats.update(
            encode_token_table(spark, epoch, out, target_tokens=20_000)
        )

    assert _jobs_run_by(spark, drain_epoch) == 4
    assert stats["n_parts_planned"] == 1
    assert _jobs_run_by(
        spark,
        lambda: decode_token_table(spark, out, snapshots="all")
        .write.format("noop").mode("overwrite").save(),
    ) == 1
    found = []
    assert _jobs_run_by(
        spark,
        lambda: found.extend(
            lookup_docs(
                spark, out, ["e_doc_000000000001"], snapshots="all"
            ).collect()
        ),
    ) == 1
    assert [r["doc_id"] for r in found] == ["e_doc_000000000001"]
    assert _jobs_run_by(
        spark, lambda: compact_store(spark, out, target_tokens=20_000)
    ) == 5


def _classes_compiled_by(spark, call) -> int:
    """Janino compiles a driver call causes, i.e. generated-code cache
    misses (local mode runs the tasks' compiles in the driver JVM)."""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    before = compiles.getCount()
    call()
    return compiles.getCount() - before


def test_warm_calls_compile_nothing(spark, sf_dir, tmp_path):
    """A warm pass over the benchmark's queries plus one store round
    reuses every generated class: the codegen cache holds the working set
    (a 100-entry cache evicts each class before its reuse, and every warm
    query recompiles 11-33).  q41 and q42 are left out: their AQE plan
    shape varies between calls, so they compile a few classes until every
    variant is cached."""
    from etl_sql_duckdb_parquet__spark.encode import (
        decode_token_table,
        encode_token_table,
        lookup_docs,
        synth_token_table,
    )

    queries = (
        "q04_segment_revenue",
        "q10_returnflag_summary",
        "q17_dedup_keep_latest",
        "q45_cosine_topk",
        "q46_ann_lsh_topk",
        "q50_codec_selection",
        "q66_embedding_neardup_sql",
    )

    def one_pass(out):
        for q in queries:
            REGISTRY[q](spark, sf_dir).toPandas()
        encode_token_table(
            spark, synth_token_table(spark, n_docs=200, seed=5), out,
            target_tokens=20_000,
        )
        decode_token_table(spark, out).write.format("noop").mode(
            "overwrite"
        ).save()
        lookup_docs(spark, out, ["doc_000000000001"]).collect()

    one_pass(str(tmp_path / "cold"))
    assert _classes_compiled_by(
        spark, lambda: one_pass(str(tmp_path / "warm"))
    ) == 0


def test_similarity_pairs_are_scored_by_one_arrow_kernel(spark):
    """q44 and q45 score each pair in ONE Arrow kernel, below which
    Catalyst has already applied the pair filter: exactly one
    ``ArrowEvalPython`` node, the filter in its subtree, and no unrolled
    per-element term or higher-order-function lambda left in the plan.
    q66 is built first: its unpushed cosine must not change theirs."""
    import re

    REGISTRY["q66_embedding_neardup_sql"](spark, SF_DIR)
    for name, pair_filter in (
        ("q44_top20_similar_pairs", r"a_id#\d+L < b_id#\d+L"),
        ("q45_cosine_topk", r"NOT \(a_id#\d+L = b_id#\d+L\)"),
    ):
        df = REGISTRY[name](spark, SF_DIR)
        lines = df._jdf.queryExecution().optimizedPlan().toString().split("\n")
        evals = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
        assert len(evals) == 1, name
        assert "cosine_kernel" in lines[evals[0]], name
        below = [i for i, ln in enumerate(lines) if re.search(pair_filter, ln)]
        assert below and min(below) > evals[0], name
        plan = "\n".join(lines)
        assert "lambdafunction" not in plan, name
        assert "[63]" not in plan, name
