"""Physical-plan regression guards for the 100 TB design story.

These assert the properties that make the engine scale — filters reaching
the parquet scan, dimension sides broadcast, aggregations single-shuffle,
decode shuffle-free, top-k without a global sort — so an operator rewrite
that silently trades them away fails CI, not the cluster.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
from dbc_informed_socketcan_to_parquet_spark.queries import EXTRA_QUERIES, QUERIES, _SYNTH_DBC, _synth_frames

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    m = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(m)


def n_exchanges(plan: str) -> int:
    """Shuffle exchanges in a formatted plan (each node prints once as
    '(k) Exchange'; BroadcastExchange is counted separately)."""
    return len(re.findall(r"^\(\d+\) Exchange$", plan, re.M))


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(QUERIES["tpch_q1_pricing_summary"](spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # partial + final hash aggregation around exactly one exchange
    assert n_exchanges(plan) == 1


def test_q3_broadcasts_dimensions(spark):
    plan = plan_of(QUERIES["tpch_q3_shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan
    # top-10 must not be a global sort
    assert "TakeOrderedAndProject" in plan


def test_bucket_last_single_shuffle(spark):
    plan = plan_of(QUERIES["bucket_last"](spark, SF))
    assert n_exchanges(plan) == 1
    assert "partial_max_by" in plan          # map-side partial aggregation


def test_decode_is_shuffle_free_and_codegen(spark):
    frames = _synth_frames(spark, SF)
    comp = DecodeCompiler(_SYNTH_DBC)
    cols = [comp.phys_expr(s, m).alias(s.column_name) for m in _SYNTH_DBC.messages for s in m.signals]
    df = frames.select("event_id", *cols)
    # the only exchange allowed is the round-robin fan-out of the narrow
    # single-file input (functions/partitioning.fan_out); the decode itself
    # must not add a hash/range shuffle
    plan = plan_of(df)
    assert n_exchanges(plan) <= 1
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    # the decode projection must live inside a whole-stage-codegen span;
    # AQE prints no codegen markers pre-execution, so re-plan with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df2 = frames.select("event_id", *[
            comp.phys_expr(s, m).alias(s.column_name)
            for m in _SYNTH_DBC.messages for s in m.signals])
        # formatted mode marks codegen'd nodes with a '*' prefix
        assert "* Project" in plan_of(df2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_order_limit_no_global_sort(spark):
    plan = plan_of(EXTRA_QUERIES["order_limit"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_run_batch_cache0_no_global_sort(spark, tiny_spec, tmp_path):
    """The default row-per-frame path (cache 0) must NOT globally sort
    every frame before the sink (VERDICT r1 scale-killer #1): partition-
    local sort only — no range-partitioning exchange in the plan."""
    from tests.conftest import le_line

    from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import (
        DecodePipeline,
        PipelineConfig,
    )

    log = tmp_path / "cap.log"
    log.write_text("\n".join(le_line(1700000000.0 + 0.01 * i, 0x100, i) for i in range(50)) + "\n")
    cfg = PipelineConfig(input_path=str(log), cache_ms=0)
    out = DecodePipeline(cfg, spec=tiny_spec).run_batch(spark)
    plan = plan_of(out)
    assert "rangepartitioning" not in plan       # global sort's exchange
    # the only exchange is the SinglePartition reduce of partial mins for
    # the time-normalization scalar (tiny); the frame stream itself never
    # shuffles
    assert n_exchanges(plan) <= 1
    if n_exchanges(plan) == 1:                   # formatted plan puts the
        assert "SinglePartition" in plan         # partitioning in Arguments
    # the downsampled path (cache > 0) still totally orders its small output
    cfg2 = PipelineConfig(input_path=str(log), cache_ms=100)
    plan2 = plan_of(DecodePipeline(cfg2, spec=tiny_spec).run_batch(spark))
    assert "rangepartitioning" in plan2


def test_decode_wide_word_subtree_independent_of_width(spark, tmp_path):
    """decode_wide computes the payload word once per frame in its own
    projection; every signal references that column.  The optimized plan
    must therefore hold as many ``conv(`` calls (the hex → word step) at
    64 signals as at 16, i.e. the projection survives CollapseProject."""
    from tests.conftest import le_line, wide_spec

    from dbc_informed_socketcan_to_parquet_spark.functions.candump import parse_candump_lines

    log = tmp_path / "cap.log"
    log.write_text(le_line(1700000000.0, 0x200, 0x0102030405060708) + "\n")
    frames = parse_candump_lines(spark.read.text(str(log)))

    def convs(n_messages: int) -> int:
        wide = DecodeCompiler(wide_spec(n_messages)).decode_wide(frames)
        return wide._jdf.queryExecution().optimizedPlan().toString().count("conv(")

    n16, n64 = convs(2), convs(8)
    assert n16 > 0
    assert n16 == n64


def test_run_batch_cache_ffill_scans_log_twice(spark, tiny_spec, tmp_path):
    """--cache 10 --forward-fill reads the log once for the data and once
    for the time-normalization minimum; the forward-fill block width is
    fixed, so no third scan derives it from data bounds."""
    from tests.conftest import le_line

    from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import (
        DecodePipeline,
        PipelineConfig,
    )

    log = tmp_path / "cap.log"
    log.write_text("\n".join(le_line(1700000000.0 + 0.004 * i, 0x100, i) for i in range(50)) + "\n")
    cfg = PipelineConfig(input_path=str(log), cache_ms=10, forward_fill=True)
    out = DecodePipeline(cfg, spec=tiny_spec).run_batch(spark)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("FileScan text") == 2


def _plan_build_commands(spark, spec, log, monkeypatch) -> int:
    """py4j commands sent while building (not running) the
    ``--cache 10 --forward-fill`` ``run_batch`` plan.  py4j's ``m``
    commands are skipped: they are garbage-collection detaches and arrive
    whenever Python's GC runs."""
    from py4j import clientserver, protocol

    from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import (
        DecodePipeline,
        PipelineConfig,
    )

    sent = [0]
    send = clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    cfg = PipelineConfig(input_path=str(log), cache_ms=10, forward_fill=True)
    with monkeypatch.context() as m:
        m.setattr(clientserver.ClientServerConnection, "send_command", counting)
        DecodePipeline(cfg, spec=spec).run_batch(spark)
    return sent[0]


def test_run_batch_plan_build_commands_per_signal(spark, tmp_path, monkeypatch):
    """Building the CAN spine's plan costs about one JVM call per output
    column per stage: every stage is SQL text applied in one call, not a
    Column method (one JVM round trip each, plus a Python call-site
    capture when DataFrame debugging is on) per operator per signal.  The
    Column-algebra spine cost ~350 commands per added signal."""
    from tests.conftest import le_line, wide_spec

    log = tmp_path / "cap.log"
    log.write_text(le_line(1700000000.0, 0x200, 0x0102030405060708) + "\n")
    _plan_build_commands(spark, wide_spec(2), log, monkeypatch)   # warm-up
    n16 = _plan_build_commands(spark, wide_spec(2), log, monkeypatch)
    n64 = _plan_build_commands(spark, wide_spec(8), log, monkeypatch)
    assert n16 > 0
    assert (n64 - n16) / 48 <= 16, (n16, n64)


def test_spine_literals_are_never_decimal(spark, tmp_path):
    """A bare ``0.5`` in Spark SQL is a DECIMAL literal.  The SQL-text
    decode and forward-fill must write doubles as doubles: no DecimalType
    anywhere in their analyzed plans."""
    from tests.conftest import le_line, wide_spec

    from dbc_informed_socketcan_to_parquet_spark.functions.candump import parse_candump_lines
    from dbc_informed_socketcan_to_parquet_spark.operators.ffill import forward_fill_blocks

    log = tmp_path / "cap.log"
    log.write_text(le_line(1700000000.0, 0x200, 0x0102030405060708) + "\n")
    spec = wide_spec(8)
    wide = DecodeCompiler(spec).decode_wide(parse_candump_lines(spark.read.text(str(log))))
    filled = forward_fill_blocks(wide, "Time_ms", [s.column_name for _, s in spec.all_signals()])
    for df in (wide, filled):
        analyzed = df._jdf.queryExecution().analyzed().toJSON()
        assert "decimal" not in analyzed.lower()


def test_phys_expr_doubles_unchanged(spark):
    """``phys_expr`` yields the values of double arithmetic: a scaled
    signal, a signed scaled signal and a float32 reinterpret (normal and
    subnormal) decode to exactly the doubles Python computes."""
    import struct

    from dbc_informed_socketcan_to_parquet_spark.dbc.spec import DbcSpec, MessageSpec, SignalSpec

    scaled = SignalSpec("Scaled", 0, 32, "little", False, 0.1, -40.3)
    signed = SignalSpec("Signed", 32, 32, "little", True, 0.25, 0.1)
    f32 = SignalSpec("flt32_F", 0, 32, "little", False, 1.0, 0.0)
    mix = MessageSpec(0x300, "MIX", 8, (scaled, signed))
    flt = MessageSpec(0x301, "FLT", 8, (f32,))
    comp = DecodeCompiler(DbcSpec(messages=(mix, flt)))
    raws = [(3, -1), (7, -128), (4095, 5)]
    floats = [3.3, -1.5e-40, 65504.0]          # the middle one is subnormal
    f32_of = [struct.unpack("<f", struct.pack("<f", x))[0] for x in floats]
    frames = spark.createDataFrame(
        [(0x300, struct.pack("<Ii", s, g)) for s, g in raws]
        + [(0x301, struct.pack("<fI", x, 0)) for x in floats],
        "can_id long, data binary",
    )
    got = frames.select(
        comp.phys_expr(scaled, mix).alias("Scaled"),
        comp.phys_expr(signed, mix).alias("Signed"),
        comp.phys_expr(f32, flt).alias("F"),
    ).collect()
    assert [(r.Scaled, r.Signed) for r in got[:3]] == [
        (s * 0.1 + -40.3, g * 0.25 + 0.1) for s, g in raws
    ]
    assert [r.F for r in got[3:]] == f32_of


def test_q5_supplier_join_not_hint_broadcast(spark):
    """Q5's nation/region joins stay explicitly broadcast (fixed 25/5-row
    dims), but the supplier join must carry NO broadcast hint: supplier
    grows ~10k rows/SF, and a forced broadcast overrides Catalyst's size
    threshold and OOMs executors at 100× scale (VERDICT r2 #1).  Catalyst
    may still auto-broadcast it at toy SFs — that's size-based and safe;
    the guard is against the *hint*, which is unconditional."""
    df = EXTRA_QUERIES["tpch_q5_local_supplier_volume"](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in opt.splitlines() if "Join Inner" in ln]
    supplier = [ln for ln in joins if "s_suppkey" in ln]
    dims = [ln for ln in joins if "n_nationkey" in ln or "r_regionkey" in ln]
    assert supplier and all("broadcast" not in ln for ln in supplier)
    assert len(dims) == 2 and all("strategy=broadcast" in ln for ln in dims)


def test_known_id_filter_pushdown(spark):
    """The isin-form dictionary filter must reach the scan as an In filter."""
    ev = spark.read.parquet(f"{SF}/customer.parquet")
    filtered = ev.filter(F.col("c_custkey").isin([1, 2, 3]))
    plan = plan_of(filtered)
    assert "PushedFilters" in plan and "In(c_custkey" in plan


def test_star_edges_no_cartesian_single_key_shuffles(spark):
    """The star-edge graph must stay a keyed (band, bh) groupBy + join —
    never a cartesian/nested-loop product, which is what an equality-less
    rewrite would degrade to on the self-join."""
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import (
        lsh_star_edges,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, "doc_id", "text", num_perms=16, shingle_n=5, seed=42)
    plan = plan_of(lsh_star_edges(sigs, "doc_id", num_bands=4, rows_per_band=4,
                                  num_perms=16, verify_threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_q7_broadcasts_nations(spark):
    plan = plan_of(EXTRA_QUERIES["tpch_q7_volume_shipping"](spark, SF))
    # both nation aliases ride broadcast joins; the fact-side joins may
    # shuffle — but never degenerate to a nested-loop product
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q18_single_lineitem_agg_reused(spark):
    plan = plan_of(EXTRA_QUERIES["tpch_q18_large_volume"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the quantity aggregation is partial+final (map-side combine present)
    assert "partial_sum" in plan


def test_text_stats_shuffle_free(spark):
    """The full text-quality battery must stay ONE projection: the r4
    rewrite made the modal bigram row-local (sort + max-run fold), so a
    reappearing Exchange means someone reintroduced the explode/join."""
    plan = plan_of(QUERIES["text_stats"](spark, SF))
    assert n_exchanges(plan) <= 1  # at most the fan_out round-robin repartition
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_contamination_broadcasts_eval_set(spark):
    """The eval shingle set must ride a broadcast join — a shuffle join
    here would move the full corpus shingle table for a tiny benchmark."""
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import contamination_check
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(contamination_check(
        docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20),
        shingle_n=8, min_shared=10,
    ))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_leakage_safe_split_no_extra_shuffle(spark):
    """Split assignment is one join against the cluster table + a narrow
    hash — never a cartesian, and no aggregation-induced exchanges."""
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import leakage_safe_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0)], "doc_id long, cluster_id long"
    )
    plan = plan_of(leakage_safe_split(docs, clusters, {"train": 0.9, "test": 0.1}))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" not in plan  # pure join + projection


def test_paragraph_dedup_partial_agg_no_window(spark):
    """First-occurrence selection must be the skew-safe partial min-struct
    aggregation, never a per-hash window sort (a 10M-copy boilerplate
    paragraph would serialize into one task's sort)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import paragraph_dedup

    plan = plan_of(paragraph_dedup(docs))
    assert "partial_min" in plan          # map-side combiner on the struct min
    assert "Window" not in plan


def test_dedup_incremental_definitely_new_skips_join(spark):
    """Bloom-negative rows must reach the output through a join-free
    branch: the union's first child (the ~fpp-filtered sliver is the only
    side paying the anti-join)."""
    from dbc_informed_socketcan_to_parquet_spark.operators.dedup import dedup_against_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    plan = plan_of(dedup_against_corpus(batch, corpus, num_bits=1 << 16))
    # exactly one join in the whole plan — the bloom-negative branch has none
    import re as _re
    assert len(_re.findall(r"^\(\d+\) .*Join", plan, _re.M)) == 1


def test_lm_score_broadcast_path(spark):
    """broadcast_lm=True must turn both LM joins into broadcast joins —
    the production top-V path is join-shuffle-free over the scored set."""
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(lm_score(docs, broadcast_lm=True))
    import re as _re
    # one detail line per node: both LM joins broadcast, none sort-merge
    assert len(_re.findall(r"^\(\d+\) BroadcastHashJoin", plan, _re.M)) == 2
    assert "SortMergeJoin" not in plan


def test_frequent_ngrams_no_global_sort(spark):
    plan = plan_of(EXTRA_QUERIES["frequent_ngrams"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_classifier_score_broadcasts_weights(spark):
    """The trained-model join must broadcast (the weight table is ≤
    num_features rows) — scoring is join-shuffle-free over the corpus."""
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import classifier_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = spark.createDataFrame([(1, 0.5)], "idx long, w double")
    plan = plan_of(classifier_score(docs, weights=w))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan and "partial_avg" in plan


def test_remove_hot_spans_broadcasts_hot_set(spark):
    """The hot-window set at fixture scale measures tiny, so it must
    broadcast back onto the window table (shuffle-hash only above the r12
    measured-size gate — see test_hot_set_join_strategy_by_measured_size
    for both strategies), and span masking is row-local: no cartesian, no
    pair table, no full-text shuffle."""
    plan = plan_of(EXTRA_QUERIES["exact_substring_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_importance_resample_broadcast_weights_and_takeordered(spark):
    """The DSIR log-ratio table is <= num_buckets rows however big the
    corpora are — it must broadcast; and the top-n selection must be the
    distributed TakeOrdered, never a global Sort+Exchange.  Inspected via
    materialize=False (the registry entry materializes driver-side to
    scope its feature cache to the call — r6 — which hides the compute
    plan behind a Scan ExistingRDD)."""
    from dbc_informed_socketcan_to_parquet_spark.operators.sampling import (
        importance_resample,
    )

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    target = corpus.limit(50)
    plan = plan_of(
        importance_resample(corpus, target, n=100, materialize=False)
    )
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join is allowed: the crossJoin of the
    # broadcast 1-row totals frame onto the <= num_buckets count table
    # (formatted explain prints every node twice: tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_fuzzy_contamination_broadcasts_eval_tables(spark):
    """Both the eval band table and the eval signature table are
    benchmark-sized — they must broadcast; the corpus is scanned for
    signatures but never self-joined."""
    plan = plan_of(EXTRA_QUERIES["fuzzy_contamination"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_gopher_quality_shuffle_free(spark):
    """The Gopher rule battery is a row-local projection — one fan_out
    exchange at most, no joins, no aggregation shuffle."""
    plan = plan_of(EXTRA_QUERIES["gopher_quality"](spark, SF))
    assert n_exchanges(plan) <= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "HashAggregate" not in plan


def test_q8_pure_broadcast_star(spark):
    """Q8's 7 joins must all broadcast (every non-fact side is dimension-
    sized); the only shuffle is the final year aggregation."""
    plan = plan_of(EXTRA_QUERIES["tpch_q8_market_share"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 7
    assert n_exchanges(plan) == 1


def test_q21_semi_anti_self_joins_not_cartesian(spark):
    """The EXISTS / NOT EXISTS pair must compile to equi-keyed semi/anti
    joins on l_orderkey with the supplier inequality as a residual —
    never a cartesian/BNLJ (which would be |lineitem|² at scale)."""
    plan = plan_of(EXTRA_QUERIES["tpch_q21_waiting_supplier"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q2_window_min_single_shuffle(spark):
    """The correlated scalar-min becomes one partitionBy(pk) window over
    the part-supplier aggregate: exactly two shuffles total (the
    groupBy(pk, sk) agg and the window repartition), no join re-execution
    of the subquery."""
    plan = plan_of(EXTRA_QUERIES["tpch_q2_min_cost_supplier"](spark, SF))
    assert "CartesianProduct" not in plan
    assert n_exchanges(plan) <= 2


def test_q17_decorrelated_no_cartesian(spark):
    """The 0.2*avg correlated subquery is decorrelated into a per-part
    aggregate equi-join; the decimal de-floated predicate stays a join
    filter, not a nested-loop condition."""
    plan = plan_of(EXTRA_QUERIES["tpch_q17_small_quantity"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_pure_scan_filter_agg(spark):
    """Q6 is the pushdown benchmark: no join, all three predicates at
    the parquet scan, a 4-column ReadSchema (shipdate/discount/quantity/
    extendedprice), and exactly one exchange (partial -> final agg)."""
    plan = plan_of(QUERIES["tpch_q6_forecast_revenue"](spark, SF))
    assert "Join" not in plan
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_returnflag" not in schema and "l_orderkey" not in schema
    assert n_exchanges(plan) == 1


def test_q12_filters_before_fact_join(spark):
    """The lineitem side is filtered at the scan (ship-date window in
    PushedFilters) BEFORE the orders equi-join; the join is hash/
    sort-merge on the order key, never a nested loop — orders is NOT
    broadcast because at production scale it is the second-largest
    table."""
    plan = plan_of(EXTRA_QUERIES["tpch_q12_shipmode"](spark, SF))  # demoted r13
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "l_shipdate" in pushed
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q14_broadcasts_part_single_pass(spark):
    """part broadcasts (dim side); the promo share is ONE aggregation
    over one scan — no self-join, no second lineitem scan."""
    plan = plan_of(EXTRA_QUERIES["tpch_q14_promo_ratio"](spark, SF))  # demoted r13
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # lineitem + part, once each (numbered detail nodes, one per scan)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 2


def test_normalize_text_single_python_eval(spark):
    """Only the NFC step may cross into Python (one ArrowEvalPython /
    BatchEvalPython node); every regexp_replace must stay JVM-side in
    the same projection.  The only exchange allowed is fan_out's
    round-robin width guard before the NFC kernel (r15 — a no-op on an
    already-wide scan), never a hash/range shuffle."""
    plan = plan_of(EXTRA_QUERIES["normalize_text"](spark, SF))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1
    assert "BatchEvalPython" not in plan
    assert n_exchanges(plan) <= 1
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_corpus_mix_narrow_filters_after_one_count_job(spark):
    """After the driver-sized per-source token count, the mix itself is
    pure narrow filters + union — no shuffle, no join in the returned
    plan."""
    plan = plan_of(EXTRA_QUERIES["corpus_mix"](spark, SF))
    assert n_exchanges(plan) == 0
    assert "Join" not in plan


def test_temperature_mix_broadcast_frac_join(spark):
    """After the driver-sized count job, the mix is one broadcast join
    against the per-source fraction table + a narrow filter — no
    shuffle exchange in the returned plan."""
    plan = plan_of(EXTRA_QUERIES["temperature_mix"](spark, SF))
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 1
    assert "SortMergeJoin" not in plan
    assert n_exchanges(plan) == 0


def test_url_dedup_single_shuffle_partial_agg(spark):
    """url_dedup is ONE aggregation on the canonical key with a map-side
    partial (the min-struct shape) — no window, no second exchange."""
    from dbc_informed_socketcan_to_parquet_spark.operators.urlops import url_dedup

    docs = spark.createDataFrame(
        [(1, "https://a.com/x?b=2&a=1")], "doc_id long, url string"
    )
    plan = plan_of(url_dedup(docs, url_col="url"))
    assert n_exchanges(plan) == 1
    assert "partial_min" in plan          # map-side combine before the shuffle
    assert "Window" not in plan


def test_domain_filter_literal_path_is_narrow(spark):
    """The small-blocklist path compiles to a pure Filter over the scan —
    zero joins, zero exchanges (it must cut mass at scan cost)."""
    from dbc_informed_socketcan_to_parquet_spark.operators.urlops import domain_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", F.concat(F.lit("https://d"), F.col("doc_id").cast("string"),
                        F.lit(".example.com/p"))
    )
    plan = plan_of(domain_filter(docs, ["bad.example.com", "spam.net"], url_col="url"))
    assert n_exchanges(plan) == 0
    assert "Join" not in plan


def test_domain_filter_dataframe_path_is_broadcast_anti_join(spark):
    """The big-blocklist (DataFrame) path is chained broadcast LeftAnti
    HASH joins — one per blocklist label depth — with no shuffle of the
    corpus, no SortMergeJoin, no nested-loop join, and no Python UDF in
    the plan (r7: the stage that sees 100% of corpus mass is JVM-side)."""
    from dbc_informed_socketcan_to_parquet_spark.operators.urlops import domain_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", F.concat(F.lit("https://d"), F.col("doc_id").cast("string"),
                        F.lit(".example.com/p"))
    )
    bl = spark.createDataFrame(
        [("bad.example.com",), ("spam.net",), ("block.co.uk",)], "domain string"
    )
    plan = plan_of(domain_filter(docs, bl, url_col="url"))
    antis = re.findall(r"BroadcastHashJoin LeftAnti", plan)
    assert len(antis) == 2  # blocklist has 2 distinct label depths (2 and 3)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    # the only exchanges are the blocklist broadcasts, never the corpus
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0


def test_domain_cap_broadcasts_fractions(spark):
    """domain_cap's per-domain keep-fraction table joins back BROADCAST —
    the corpus is never shuffled on the (potentially hot) domain key."""
    plan = plan_of(EXTRA_QUERIES["domain_cap"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


_ALL_REGISTRY = {**QUERIES, **{f"extra:{k}": v for k, v in EXTRA_QUERIES.items()}}


@pytest.mark.parametrize("name", sorted(_ALL_REGISTRY))
def test_registry_entry_never_plans_cartesian(spark, name):
    """Blanket guard over the ENTIRE registry: no entry may plan a
    CartesianProduct, and at most the known 1-row-totals crossJoin may
    appear as a BroadcastNestedLoopJoin (formatted explain prints each
    node twice: tree + detail).  A predicate typo that degrades an
    equi-join to a product fails HERE by name, not on the cluster.

    ann_recall composes TWO top-k operators (exact baseline + IVF), each
    with its own bounded query-table broadcast — two NLJ nodes by
    construction, so its cap is doubled.  ann_tune runs the whole sweep
    in one plan: per nprobe candidate a probe/rerank/recall chain plus
    the shared exact baseline and the frontier/selection tail, each
    stage carrying its own bounded broadcast (1-row aggregates, the
    ≤k-row query table, the ≤num_clusters centroid table) — every
    crossJoin is broadcast-hinted (enforced statically below), so the
    node count scales with |candidates|, not with data; cap 64 covers
    the registry's 3-candidate sweep with headroom."""
    plan = plan_of(_ALL_REGISTRY[name](spark, SF))
    assert "CartesianProduct" not in plan, name
    # embedding_drift reduces THREE 1-row frames (old stats, new stats,
    # centroid cosine) — two broadcast crossJoins by construction;
    # cluster_size_report joins TWO 1-row totals (clustered count for the
    # singleton row, corpus count for frac_docs) — also two by design
    cap = {"extra:ann_recall": 4, "extra:ann_tune": 64,
           "extra:embedding_drift": 4,
           "cluster_size_report": 4}.get(name, 2)  # promoted r13
    assert plan.count("BroadcastNestedLoopJoin") <= cap, name


def test_every_crossjoin_in_source_is_broadcast_hinted():
    """Static enforcement of the audited invariant (ADVICE r8 #6): every
    ``crossJoin(`` in the package must broadcast its argument —
    ``crossJoin(F.broadcast(...))``.  A 1-row aggregate joined without
    the hint can still plan as a shuffle-both-sides CartesianProduct
    when stats are missing (100 TB: the corpus side shuffles for
    nothing).  Scans source, so a new unhinted call site fails here by
    file:line even before any registry entry exercises it."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "dbc_informed_socketcan_to_parquet_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            for m in re.finditer(r"\.crossJoin\(", line):
                rest = line[m.end():]
                if not rest.startswith(("F.broadcast(", "broadcast(")):
                    offenders.append(f"{py.relative_to(pkg.parent)}:{i}: {line.strip()}")
    assert not offenders, "unhinted crossJoin call sites:\n" + "\n".join(offenders)


def test_semantic_contamination_ivf_plan(spark):
    """IVF contamination: the eval probe table BROADCASTS (the corpus
    never shuffles for the join) and the only Exchange is the bounded
    best-match aggregation over the hit sliver."""
    df = QUERIES["semantic_contamination"](spark, SF)  # driver 50 after the r11 rotation
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    # hits groupBy (+ the probe-side dropDuplicates) — never a corpus-keyed
    # repartition beyond the standard fan-out guard
    assert n_exchanges(plan) <= 3


def test_semantic_contamination_exact_is_broadcast_nlj(spark):
    """Exact mode is the deliberate broadcast nested-loop (benchmark-sized
    eval side) — never a CartesianProduct."""
    from dbc_informed_socketcan_to_parquet_spark.operators.similarity import (
        semantic_contamination,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ev = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    plan = plan_of(semantic_contamination(emb, ev, id_col="vec_id", threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_tokenizer_fertility_single_agg_exchange(spark):
    """Fertility: one partial-aggregated groupBy on the language key —
    exactly one shuffle past the fan-out width guard, no join, no window."""
    df = QUERIES["tokenizer_fertility"](spark, SF)  # driver 50 after the r11 rotation
    plan = plan_of(df)
    assert "Window" not in plan and "Join" not in plan
    # fan_out repartition + the lang groupBy
    assert n_exchanges(plan) <= 2
    assert "partial_count" in plan or "HashAggregate" in plan


def live_exchanges(df) -> int:
    """Shuffle Exchanges that will actually RUN for this query: walks the
    physical-plan tree text and skips every subtree under an
    InMemoryRelation — the r12 measured-size gate persists + counts the
    hot set, so its cached plan (already executed during the count job)
    is displayed inside the final plan but never re-runs."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    count, skip_indent = 0, None

    def indent_of(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-*(":
            i += 1
        return i

    for line in plan.splitlines():
        ind = indent_of(line)
        if skip_indent is not None:
            if ind > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = ind
            continue
        if re.search(r"\bExchange (hashpartitioning|RoundRobinPartitioning|SinglePartition|rangepartitioning)", line):
            count += 1
    return count


def test_duplicate_spans_plan(spark):
    """duplicate_spans: the hot window set joins back by its MEASURED
    size (broadcast here — the sf fixture's hot set is tiny; shuffle-hash
    at corpus scale, r12), reused from the gate's cache, and the live
    query costs only the fan_out width guard + the per-doc island window
    — the hot count's exchanges already ran inside the gate job."""
    df = QUERIES["duplicate_spans"](spark, SF)  # promoted r12
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    # the measured-size gate's MATERIALIZED hot set feeds the broadcast —
    # no recompute of the explode/count chain on the build side (r12
    # review: eager localCheckpoint replaced persist, so the build side
    # is a checkpoint scan, not an InMemoryTableScan)
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert live_exchanges(df) <= 3


def test_source_overlap_plan(spark):
    """source_overlap: the per-source size tables broadcast; the pair
    self-join is equality on the shingle hash (stats-driven broadcast at
    small SF, shuffle join at corpus scale — either way never a
    product), and the corpus text never reaches an Exchange (only
    (source, 60-bit hash) rows shuffle)."""
    df = QUERIES["source_overlap"](spark, SF)  # promoted r12
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # no raw-text exchange: every hashpartitioning key set is over the
    # projected hash/source/pair columns, never the text column
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1), m.group(0)


def test_chunk_documents_no_shuffle(spark):
    """chunk_documents (the r5 pure-column reshape): one narrow
    projection — no join, no window; the only exchange allowed is
    fan_out's round-robin width guard before the chunk explode (r15 —
    a no-op on an already-wide scan), never a hash/range shuffle."""
    df = EXTRA_QUERIES["chunk_documents"](spark, SF)
    plan = plan_of(df)
    assert "Join" not in plan and "Window" not in plan
    assert n_exchanges(plan) <= 1
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_gopher_repetition_no_shuffle(spark):
    """gopher_repetition (r12): the full 15-column battery is two
    chained row-local projections — no join, no window, no explode/
    generate, and the only exchange is fan_out's round-robin width
    guard on the narrow single-file input (never a hash/range
    shuffle)."""
    df = QUERIES["gopher_repetition"](spark, SF)  # promoted r13
    plan = plan_of(df)
    assert "Join" not in plan and "Window" not in plan
    assert "Generate" not in plan
    assert n_exchanges(plan) <= 1
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_ngram_novelty_plan(spark):
    """ngram_novelty (r12): the membership probe is a keyed LEFT join
    on the 60-bit gram hash with NO forced broadcast on the
    corpus-scale reference (stats may still pick broadcast at this SF —
    but never a product), and the raw text never reaches an Exchange
    (only gram-hash / id projections shuffle)."""
    import re

    df = QUERIES["ngram_novelty"](spark, SF)  # promoted r13
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1), m.group(0)


def test_with_passes_repetition_streaming_safe(spark):
    """with_passes_repetition: stateless projections only — the plan
    has no exchange, join, or aggregate, so it is append-mode
    streaming-safe by construction."""
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
        with_passes_repetition,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(with_passes_repetition(docs))
    assert "Join" not in plan and "Exchange" not in plan
    assert "Aggregate" not in plan


def test_calibration_report_plan(spark):
    """calibration_report (r13): one hash aggregation on the bin key —
    no join, no window; the only exchange is the ≤n_bins-group
    partial→final aggregation shuffle."""
    df = QUERIES["calibration_report"](spark, SF)  # promoted r14
    plan = plan_of(df)
    assert "Window" not in plan
    # the classifier scoring upstream joins docs to labels once; the
    # report itself adds no further join past the scored frame
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
        calibration_report,
    )

    scored = spark.createDataFrame([(0.4, 1)], "prob double, label int")
    rep_plan = plan_of(calibration_report(scored))
    assert "Join" not in rep_plan and n_exchanges(rep_plan) == 1
    assert "partial" in rep_plan.lower()  # map-side combine before the shuffle


def test_select_by_group_budget_plan(spark):
    """select_to_token_budget_by_group (r14): no global single-partition
    window over the corpus — every Window node carries a partition spec
    (the per-group cumulative + boundary refinement), the groups-sized
    budget and boundary tables join back BROADCAST, and nothing plans a
    cartesian product."""
    df = QUERIES["select_by_group_budget"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan          # budget + boundary joins
    assert "SortMergeJoin" not in plan          # nothing corpus-sized joins shuffled
    # every window spec is partitioned: windowspecdefinition's first arg
    # is the partition column when present — a global window renders
    # windowspecdefinition(score ...) with no partition list and plans a
    # single-partition Exchange; assert no such exchange exists
    assert "Exchange SinglePartition" not in plan


def test_threshold_sweep_plan(spark):
    """threshold_sweep (r13): ONE corpus pass — a single-row conditional
    aggregate then a constant-size Generate; no join, no window, no
    per-threshold rescan (exactly one aggregate pair in the plan)."""
    from dbc_informed_socketcan_to_parquet_spark.operators.textops import (
        threshold_sweep,
    )

    scored = spark.createDataFrame([(0.4, 1)], "prob double, label int")
    df = threshold_sweep(scored, thresholds=(0.3, 0.5, 0.7))
    plan = plan_of(df)
    assert "Join" not in plan and "Window" not in plan
    # node counts on the single-line tree (formatted mode prints each
    # node twice: once in the tree, once in the detail section)
    tree = plan_of(df, "simple")
    assert tree.count("Generate") == 1
    # one partial + one final aggregate node, regardless of thresholds
    assert tree.count("HashAggregate") == 2
