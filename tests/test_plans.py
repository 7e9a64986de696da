"""Plan-quality regression tests: the properties that matter at 100 TB.

Correctness is the oracle suite's job; these tests pin the PHYSICAL plans:
- predicate pushdown reaches the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema lists only referenced cols),
- dimension joins broadcast instead of shuffling the fact side,
- the history materialization is a single shuffle,
- hot relational paths stay inside whole-stage codegen.

A refactor that silently regresses one of these still passes the value
checks — this file is what catches it.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_pricing_summary_pushdown_and_pruning(spark, registry):
    plan = plan_of(registry["pricing_summary"](spark, SF))
    # filter pushed into the parquet scan
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan), plan
    # scan pruned: only the 7 referenced columns, not the full 11-col table
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "l_partkey" not in cols and "l_suppkey" not in cols, cols
    assert {"l_shipdate", "l_quantity", "l_returnflag"} <= cols, cols
    # aggregation is partial (map-side combine before the exchange)
    assert "partial_sum" in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan


def test_region_revenue_broadcasts_all_dims(spark, registry):
    plan = plan_of(registry["region_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_text_quality_scan_reads_two_columns(spark, registry):
    plan = plan_of(registry["text_quality"](spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_crossmatch_sky_is_broadcast_bucket_join(spark, registry):
    plan = plan_of(registry["crossmatch_sky"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # the refine predicate must NOT degenerate into a nested-loop cross join
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_user_history_single_shuffle(spark, registry):
    # collect_history groups once: exactly one exchange below the project
    plan = plan_of(registry["user_history_stats"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_spatial_nn_broadcasts_catalog(spark, registry):
    plan = plan_of(registry["spatial_nn"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_no_cartesian(spark, registry):
    plan = plan_of(registry["dedup_minhash_lsh"](spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_bucketed_join_has_no_join_exchange(spark, registry):
    # both sides bucketed+sorted by the key ⇒ even a forced sort-merge
    # join needs NO exchange below it: the shuffle was paid at write time.
    # (Broadcast is disabled so the small test scale can't mask the
    # property the layout is supposed to provide at 100 TB.)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(registry["bucketed_join"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    # exactly one exchange in the whole plan: the final aggregation's —
    # none feeding the join
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_partitioned_scan_prunes_partitions(spark, registry):
    df = registry["partitioned_scan"](spark, SF)
    plan = plan_of(df)
    assert re.search(r"PartitionFilters: \[[^\]]*event_type[^\]]*purchase", plan), plan


def test_plan_assertion_helpers(spark, registry):
    # the plans.explain public helpers drive the same checks programmatically
    from fink_science_spark.plans.explain import (
        assert_broadcast_join,
        assert_no_cartesian,
        assert_pushed_filters,
    )

    df = registry["pricing_summary"](spark, SF)
    assert_pushed_filters(df, "LessThanOrEqual(l_shipdate")
    assert_no_cartesian(df)
    assert_broadcast_join(registry["region_revenue"](spark, SF))


def test_order_flags_stays_in_codegen(spark, registry):
    plan = plan_of(registry["order_flags"](spark, SF))
    assert "codegen id" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_pure_map_queries_have_no_exchange(spark, registry):
    """pii_redact and photometry_conversion are narrow per-row maps —
    any Exchange in their plans is a regression."""
    for name in ("pii_redact", "photometry_conversion"):
        plan = plan_of(registry[name](spark, SF))
        assert "Exchange" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, name


def test_model_score_forest_mask_pushdown(spark, registry):
    """The selection cuts must reach the parquet scan on the kernel
    branch (Python cost scales with rows passing the cuts only)."""
    plan = plan_of(registry["model_score_forest"](spark, SF))
    assert re.search(r"PushedFilters:.*GreaterThan\(l_extendedprice,2000.0\)", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_incremental_no_cartesian_single_sig_shuffle(spark, registry):
    """The incremental band join is an equi-join (never a cartesian);
    the only aggregation Exchange is the new-batch signature groupBy."""
    plan = plan_of(registry["dedup_incremental"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_doc_repetition_bigrams_not_inlined_into_generate(spark, registry):
    """The bigram metrics must be evaluated once per DOC: CollapseProject
    inlining them into the Generate (explode) child re-evaluates them per
    token — measured 25x slower. The explode branch's scan must read only
    (doc_id, text)-derived columns and the per-row branch joins back."""
    plan = plan_of(registry["doc_repetition"](spark, SF))
    # the Generate operator's output must not contain bigram expressions
    gen = [seg for seg in plan.split("\n") if "Generate" in seg]
    assert gen, plan
    assert not any("array_distinct" in g for g in gen), gen


def test_decontaminate_broadcasts_eval_grams(spark, registry):
    """The eval-suite n-gram set must be the BROADCAST side (the training
    side is the 100 TB one); no cartesian anywhere."""
    plan = plan_of(registry["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_domain_mix_sample_is_pure_map(spark, registry):
    """Weighted mixture sampling is a per-row map: no Exchange, no
    Python, and the scan reads only (doc_id, source, n_chars)."""
    plan = plan_of(registry["domain_mix_sample"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" not in m.group(1), plan


def test_tfidf_broadcasts_vocab_sides(spark, registry):
    """Both small sides (vocab-sized df table, one-row corpus count) are
    broadcast; the corpus never sort-merge-joins."""
    plan = plan_of(registry["tfidf_topk"](spark, SF))
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_sequence_packing_single_shuffle(spark, registry):
    """Packing is one shuffle on the hash-balanced shard key; both
    windows (cumsum, pos_in_bin) must reuse that partitioning."""
    plan = plan_of(registry["sequence_packing"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "hashpartitioning(shard" in plan, plan
    assert "EvalPython" not in plan, plan


def test_hg1g2_native_single_shuffle_no_python(spark, registry):
    """The native HG1G2 fit is one hash aggregation: partial agg before a
    single Exchange (nine int64 stats + count per group travel, not the
    observations), and no Python anywhere in the plan."""
    plan = plan_of(registry["ssoft_hg1g2_fit"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_dedup_spans_two_aggs_no_join(spark, registry):
    """Span dedup is two hash aggregations and nothing else: no join
    (winner set IS the min-code agg), no Python, exactly two AGG
    shuffles — plus the small-input fan-out repartition (queries._fan_out,
    r9), which must be the ONLY other Exchange and must hash on doc_id
    with REPARTITION_BY_NUM (it is a no-op at scale, so the two-shuffle
    contract is the 100 TB shape)."""
    plan = plan_of(registry["dedup_spans"](spark, SF))
    fan = re.findall(
        r"hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_NUM", plan
    )
    assert len(fan) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2 + len(fan), plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_quality_classifier_pure_map(spark, registry):
    """The hashed-n-gram classifier is a per-row map at scan speed: no
    Python, no join, and no Exchange EXCEPT the small-input fan-out
    repartition (queries._fan_out, r9 — a no-op at scale, so the
    exchange-free contract is the 100 TB shape)."""
    plan = plan_of(registry["quality_classifier"](spark, SF))
    fan = re.findall(
        r"hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_NUM", plan
    )
    assert len(fan) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == len(fan), plan
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_host_curation_broadcast_blocklist(spark, registry):
    """The blocklist anti-join is broadcast (never shuffles the corpus)
    and the only Exchange is the host rollup."""
    plan = plan_of(registry["host_curation"](spark, SF))
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_scd2_single_shuffle_shared_by_both_windows(spark, registry):
    """SCD2's lag-collapse and lead-interval windows share one (user_id)
    partitioning: exactly one Exchange, no Python."""
    plan = plan_of(registry["scd2_history"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "EvalPython" not in plan, plan


def test_runtime_bloom_filter_injection(spark):
    """Scale pin: with a selective build side, Catalyst injects a runtime
    Bloom filter (bloom_filter_agg → might_contain) on the probe scan —
    the mechanism that prunes a 100 TB fact scan before the shuffle when
    broadcast is off the table. Thresholds are scoped down because the
    test tables are far below the production defaults (10 GB probe side).
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        orders = (
            spark.read.parquet(SF + "/orders.parquet")
            .filter(F.col("o_orderpriority") == "1-URGENT")
        )
        li = spark.read.parquet(SF + "/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().toString()
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_crossmatch_mangrove_broadcast_and_no_cartesian(spark, registry):
    """The payload-map crossmatch must keep the catalog side broadcast
    (payload columns ride the small side), never widen to a cartesian,
    and honor the every-row contract through sentinel candidates in the
    arg-min window — exactly one Exchange, no join back, no SMJ."""
    plan = plan_of(registry["crossmatch_mangrove"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_anomaly_score_single_shuffle_one_python_stage(spark, registry):
    """Both bands' sufficient statistics come from ONE scan + ONE groupBy
    (no per-band self-join), and both forest scores evaluate in a single
    Arrow Python stage (not one per band)."""
    plan = plan_of(registry["anomaly_score"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython\b", plan)) == 1, plan


def test_ks_source_drift_single_window_shuffle(spark, registry):
    """Both ECDFs and both totals must come from ONE window partitioning
    (a second Exchange on the same key is a regression), and the plan
    stays fully native."""
    plan = plan_of(registry["ks_source_drift"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_power_spectrum_native_single_shuffle(spark, registry):
    """The DFT folds are native HOFs over the collected histories: one
    groupBy Exchange, zero Python stages."""
    plan = plan_of(registry["power_spectrum"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_mulens_single_shuffle_one_python_stage(spark, registry):
    """Both bands' DC photometry and sufficient statistics come from ONE
    scan + ONE user-keyed groupBy (conditional aggregates, no per-band
    self-join), and both per-band forest kernels evaluate in a single
    Arrow Python stage."""
    plan = plan_of(registry["mulens_score"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython\b", plan)) == 1, plan


def test_sky_pixel_rollup_never_joins(spark, registry):
    """The parent rollup is derived arithmetically from the fine pixel
    aggregate: no join anywhere, no Python, and the points are aggregated
    exactly once (every later Exchange moves only the 128-row aggregate)."""
    plan = plan_of(registry["sky_pixel_rollup"](spark, SF))
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) <= 2, plan


def test_snn_rnn_native_no_python_no_codegen_failure(spark, registry):
    """The recurrent forward pass is ONE aggregate() fold: fully native
    (no Python stage), ONE groupBy Exchange, and the recurrence body
    written once in the fold lambda — the expression stays LINEAR in K
    regardless of surrounding rewrites (the chained-projection form this
    test used to pin re-expanded 2^K when a caller's filter was pushed
    through the projection chain; the nested-unroll form 3^K at build
    time — see the design note in operators/models.py)."""
    plan = plan_of(registry["snn_ia_score"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    # the fold carries exactly one step lambda + one readout lambda,
    # each written once (per plan-node rendering of the output column)
    assert "lambdafunction" in plan, plan
    # linearity guard: any exponential re-expansion of the recurrence
    # shows up as a megabyte-scale plan string long before it breaks
    # execution — the formatted plan stays small when the fold holds
    assert len(plan) < 60_000, len(plan)


def test_ann_rerank_broadcasts_candidates_native_stage2(spark, registry):
    """Two-stage retrieval: stage 1 is the one mapInPandas block kernel;
    stage 2 must join the corpus via BROADCAST (candidate side tiny) and
    score the rerank MLP natively — exactly one Python stage overall,
    no SortMergeJoin."""
    plan = plan_of(registry["ann_rerank"](spark, SF))
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_orphan_score_single_pass(spark, registry):
    """All rate/decay-third/peak/colour features come from ONE scan and
    exactly two shuffles — the (user, band) window partitioning (shared
    by all three window specs) and the user-keyed aggregation. The
    original two-branch + join-back form tripled the scan."""
    plan = plan_of(registry["orphan_score"](spark, SF))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not re.findall(r"\(\d+\) \w*Join", plan), plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2, plan


def test_host_pagerank_iterates_on_aggregated_graph(spark, registry):
    """The document table is scanned ONCE (reduced to the host edge list
    before any iteration); every power-iteration join is broadcast (the
    rank vector and edge table are host-scale, not doc-scale)."""
    plan = plan_of(registry["host_pagerank"](spark, SF))
    # the document table is consumed by the checkpointed edge build, so
    # the iteration plan contains NO parquet scan at all
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sky_pixel_multires_one_scan_expand(spark, registry):
    """All three resolutions come from ONE scan via the grouping-sets
    Expand operator and one aggregation exchange — never one scan per
    depth."""
    plan = plan_of(registry["sky_pixel_multires"](spark, SF))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Expand", plan)) >= 1, plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1, plan


def test_cube_and_unpivot_are_map_side_expand(spark, registry):
    """CUBE and UNPIVOT both reshape map-side via the Expand operator:
    one scan, one aggregation exchange, nothing quadratic."""
    for name in ("cube_counts", "unpivot_metrics"):
        plan = plan_of(registry[name](spark, SF))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, (name, plan)
        assert len(re.findall(r"\(\d+\) Expand", plan)) >= 1, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_temporal_dim_join_equi_with_residual_range(spark, registry):
    """The validity-range predicate must ride a hash join on the equi
    user key — a range-only join (BroadcastNestedLoopJoin/cartesian)
    would be quadratic in users x versions."""
    plan = plan_of(registry["temporal_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_hashed_band_keys_narrow_the_shuffle(spark):
    """Production band-key flag: xxhash64 slice keys replace the
    comma-joined decimal strings, so the band join shuffles an 8-byte
    long instead of a ~40-byte string — and the verified pair set is
    unchanged (a 64-bit collision can only add a candidate, which the
    exact-Jaccard verify rejects)."""
    from fink_science_spark.operators.dedup import minhash_lsh_pairs
    from fink_science_spark.queries_dedup import _doc_shingles

    docs = _doc_shingles(spark, SF)

    def run(hashed):
        return minhash_lsh_pairs(
            docs, "doc_id", tokens_col="shingles", num_hashes=16, bands=8,
            jaccard_threshold=0.5, shingles_col="shingles",
            hashed_band_keys=hashed,
        )

    portable, hashed = run(False), run(True)
    p_plan, h_plan = plan_of(portable), plan_of(hashed)
    assert "xxhash64" not in p_plan and "xxhash64" in h_plan
    # shingle construction itself uses concat_ws on both sides; the band
    # keys add 2×bands more of them on the portable path only
    assert h_plan.count("concat_ws") < p_plan.count("concat_ws")
    key = lambda df: sorted(  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    )
    assert key(portable) == key(hashed)


def test_doc_chunks_is_pure_map_no_shuffle(spark, registry):
    """Chunking is a scan-shaped narrow pass: tokenize → Generate →
    project. Any Exchange here would shuffle the 100 TB document table
    for a per-row operation."""
    plan = plan_of(registry["doc_chunks"](spark, SF))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_funnel_steps_single_user_shuffle_no_expand(spark, registry):
    """The 3-step funnel shuffles the event table ONCE (window hash by
    user_id); the per-user flag rollup reuses that partitioning and the
    final summary aggregates |users| rows. A multi-countDistinct would
    plan a 3-way Expand tripling the 100 TB row flow."""
    plan = plan_of(registry["funnel_steps"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "Expand" not in plan
    # both step qualifications ride the same window partitioning:
    # exactly one hashpartitioning on user_id
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1


def test_dsir_select_weight_table_broadcast(spark, registry):
    """DSIR: the B-row bucket weight table must come back as a broadcast
    — the corpus-sized (doc_id, bucket) flow never joins by shuffle."""
    plan = plan_of(registry["dsir_select"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the token stream aggregates map-side: no bucket-keyed shuffle join
    assert not re.search(r"SortMergeJoin.*\bbucket\b", plan)


def test_retention_cohorts_single_event_shuffle(spark, registry):
    """Cohort matrix: events shuffle once by user_id; the firsts join
    reuses that partitioning and cohort sizes come back as a broadcast."""
    plan = plan_of(registry["retention_cohorts"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the cohort matrix aggregate combines map-side before its exchange
    assert "partial_count" in plan or "partial" in plan.lower()
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 3


def test_rolling_range_window_is_one_window_exchange(spark, registry):
    """RANGE-frame rolling agg: exactly one user_id hash exchange; both
    frame aggregates share the single Window node."""
    plan = plan_of(registry["rolling_range_window"](spark, SF))
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_sessions_native_and_cusum_single_user_shuffle(spark, registry):
    """Gaps-and-islands sessionization and CUSUM both chain their window
    passes on ONE user_id partitioning: a single hash exchange each,
    no Python anywhere (the UDTF twin is the API demo; these are the
    scale paths)."""
    for name in ("sessions_native", "cusum_changepoints"):
        plan = plan_of(registry[name](spark, SF))
        assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, name
        assert "EvalPython" not in plan, name


def test_correlated_subquery_decorrelates_to_join(spark, registry):
    """Catalyst must rewrite the per-row correlated scalar aggregate into
    aggregate-then-join — a re-executed per-row subquery would be a
    100 TB × |parts| disaster. No nested-loop artifacts allowed."""
    plan = plan_of(registry["correlated_subquery"](spark, SF))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\) \w*Join", plan)) >= 2  # part dim + avg join
    assert "partial_avg" in plan or "partial_sum" in plan


def test_skyline_no_corpus_hash_shuffle(spark, registry):
    """Distributed skyline: the part table never hash-shuffles — the only
    hash exchange is the dominance-grid repartition of the (local-
    frontier-sized) refine input on the grid cell, and the only
    SinglePartition work is the B-row bucket-maxima window. No
    unbounded single task survives anti-correlated inputs."""
    plan = plan_of(registry["skyline_frontier"](spark, SF))
    # grid cell is the only hash-shuffle key; never a corpus column
    # (at this SF the MEASURED local frontier is below one grid cell, so
    # the repartition collapses to a single — bounded, size-guarded —
    # task; the multi-cell fan-out is pinned by
    # test_properties.test_skyline_anticorrelated_bounded_tasks)
    for col in ("p_partkey", "price", "size"):
        assert f"hashpartitioning({col}" not in plan, plan
    assert "hashpartitioning(__bk" in plan or "SinglePartition" in plan, plan
    # both stages are the same Arrow kernel; no row-at-a-time Python
    assert "BatchEvalPython" not in plan


def test_segment_overlap_one_user_shuffle_all_joins_broadcast(spark, registry):
    """Audience overlap: exactly one user_id hash exchange (map-combined
    bit_or partials); every join against the type dim / mask histogram
    broadcasts; the pair matrix never induces a sort-merge join."""
    plan = plan_of(registry["segment_overlap"](spark, SF))
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_bit_or" in plan or "partial" in plan.lower()


def test_mmr_candidates_only_no_cartesian(spark, registry):
    """MMR greedy: all K-1 unrolled steps join candidate-sized relations;
    no cartesian product, no sort-merge join of corpus-sized inputs."""
    plan = plan_of(registry["mmr_diverse_topk"](spark, SF))
    assert "CartesianProduct" not in plan


def test_udtf_sessions_is_documentation_native_twin_is_scale_path(
    spark, registry
):
    """r3 verdict #5 — the twin contract, pinned: udtf_sessions is the
    registry's ONE deliberately-Python table function (it demonstrates
    the partition-aware UDTF surface), sessions_native is the scale path
    with the identical oracle, and every internal consumer composes the
    native twin. A change that routes a hot path through the UDTF, or
    lets the twins' answers drift, fails here."""
    import __spark_entry__ as e

    osql = e.oracle_sql()
    # same oracle string object: answers cannot drift independently
    assert osql["udtf_sessions"] == osql["sessions_native"]

    udtf_plan = plan_of(registry["udtf_sessions"](spark, SF))
    native_plan = plan_of(registry["sessions_native"](spark, SF))
    # the UDTF twin IS Python — that is its documented point
    assert "PythonUDTF" in udtf_plan or "EvalPython" in udtf_plan
    # the scale twin never leaves the JVM
    assert "PythonUDTF" not in native_plan
    assert "EvalPython" not in native_plan

    # internal consumers (interval_overlap_join composes sessionization)
    # must build on the native twin, never the UDTF
    consumer = plan_of(registry["interval_overlap_join"](spark, SF))
    assert "PythonUDTF" not in consumer


# --------------------------------------------------------------------------
# Waves 16-18 (round 5): decision-support decorrelations, scale-ops
# planners, multimodal sequences
# --------------------------------------------------------------------------


def test_disjunctive_revenue_superset_pushdown_both_scans(spark, registry):
    """Q19 shape: the hand-derived OR-superset conjuncts must reach BOTH
    parquet scans — Catalyst does not infer them, so losing the manual
    predicates silently unprunes the scans."""
    plan = plan_of(registry["disjunctive_revenue"](spark, SF))
    assert re.search(r"PushedFilters:.*In\(p_brand", plan), plan
    assert re.search(
        r"PushedFilters:.*GreaterThanOrEqual\(l_quantity,1\.0", plan
    ), plan


def test_sole_late_supplier_no_window_no_smj(spark, registry):
    """Q21 shape: the set-carrying aggregate form — no Window operator
    (the windowed variant forced a 12.8M-row sort, x58 at x64 replicas)
    and no SortMergeJoin for the fact join (shuffle-hash by hint; AQE
    may upgrade to broadcast at tiny SFs, never to SMJ)."""
    plan = plan_of(registry["sole_late_supplier"](spark, SF))
    assert not re.search(r"\bWindow\b", plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert "ObjectHashAggregate" in plan, plan


def test_top_supplier_single_fact_scan(spark, registry):
    """Q15 shape: the window-over-aggregate form scans lineitem ONCE
    (the scalar-subquery form re-derived the aggregate from a second
    scan with no AQE exchange reuse)."""
    plan = plan_of(registry["top_supplier"](spark, SF))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")


def test_skew_report_scans_prune_to_single_key_column(spark, registry):
    """Wave-17 planner: each candidate key's count aggregate must read
    exactly one column (a full-width lineitem scan for a key histogram
    is the regression this pins against)."""
    plan = plan_of(registry["partition_skew_report"](spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    for s in schemas:
        cols = [c for c in s.split(",") if c]
        assert len(cols) == 1, s


def test_video_scene_cuts_binary_stays_in_kernel(spark, registry):
    """Wave-18 sequence shape: pixel bytes are consumed inside ONE
    MapInPandas kernel; the window/lag logic must run on the scalar
    luma relation, never on the binary column."""
    plan = plan_of(registry["video_scene_cuts"](spark, SF))
    # formatted mode lists each node in the tree AND the details section
    assert len(re.findall(r"MapInPandas \(\d+\)", plan)) == 1, plan
    # the lag window exists and is partitioned by doc_id
    assert re.search(r"Window.*doc_id", plan, re.S), plan


def test_audio_silence_map_single_kernel(spark, registry):
    """Wave-18 islands variant: exactly ONE window_mad kernel — the
    n_windows total must come from the documents scan as a literal, not
    from re-counting the kernel relation (which would re-run the md5
    generation and the kernel with no AQE reuse; caught in review)."""
    plan = plan_of(registry["audio_silence_map"](spark, SF))
    assert len(re.findall(r"MapInPandas \(\d+\)", plan)) == 1, plan
