"""Physical-plan assertions: the scale properties the engine is designed
around must be visible in the plans, and regressions should fail tests —
filters reach the parquet scan, projections prune columns, small dims
broadcast, and the shingling subtree is not duplicated."""

from __future__ import annotations

import re

from phoebe_spark.queries import QUERIES


def _plan(spark, sf_dir, name) -> str:
    df = QUERIES[name](spark, sf_dir)
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _ops(plan: str, op: str) -> int:
    """Count physical operators via their detail entries '(n) <Op>'."""
    return len(re.findall(rf"\(\d+\) {op}", plan))


def test_q01_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate at the scan
    # projection pruned: untouched wide columns never read
    assert "l_comment" not in plan and "l_partkey" not in plan
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "HashAggregate") == 2  # map-side partial + final


def test_q02_filters_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_filter_project")
    assert "EqualTo(o_orderstatus,F)" in plan
    assert "GreaterThan(o_totalprice,100000.0)" in plan
    assert "o_orderdate" not in plan  # pruned


def test_q05_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q05_revenue_by_nation")
    assert _ops(plan, "BroadcastHashJoin") >= 2  # customer & nation broadcast
    # status filter applied before the join, shrinking the build side
    assert "EqualTo(o_orderstatus,F)" in plan


def test_q13_posting_list_scanned_once(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q13_ngram_jaccard")
    # one scan + one token explosion => the shingling subtree is computed
    # once (the old self-join shape showed two full chains)
    assert _ops(plan, "Scan parquet") == 1
    # posexplode(tokens) + explode(collect_set) + pair explode — the set
    # explode replaced a (doc, shingle) distinct exchange, so also pin the
    # shuffle count: token window + groupBy(shingle) + groupBy(pair) only.
    assert _ops(plan, "Generate") <= 3
    assert _ops(plan, "Exchange") <= 3


def test_q23_query_side_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q23_emb_knn")
    assert _ops(plan, "BroadcastExchange") + _ops(plan, "BroadcastNestedLoopJoin") >= 1


def test_q14_partial_aggregation_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q14_ts_minutely_sum")
    assert _ops(plan, "HashAggregate") == 2  # partial + final
    assert _ops(plan, "Exchange") == 1  # exactly one shuffle


def test_registry_free_of_unasserted_global_windows(spark, sf_dir):
    """VERDICT r1 #8: every registry query must either partition its time
    windows per key or explicitly assert bounded input — building the whole
    registry with UnkeyedGlobalWindowWarning escalated to an error proves
    no query sneaks an unbounded single-partition sort into its plan."""
    import warnings

    from phoebe_spark.timeseries.core import UnkeyedGlobalWindowWarning

    for name, fn in QUERIES.items():
        with warnings.catch_warnings():
            warnings.simplefilter("error", UnkeyedGlobalWindowWarning)
            fn(spark, sf_dir)  # plan construction is where the guard fires


def test_q51_winnow_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q51_winnow_fingerprints")
    assert _ops(plan, "Scan parquet") == 1  # one pass over documents
    assert "text" in plan and "lang" not in plan  # pruned to the text column


def test_q54_asof_single_shuffle_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q54_asof_join")
    # union-tag asof: NO join operator at all - the carry-forward window
    # does the matching; shuffles: pre-agg exchange + window exchange
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert _ops(plan, op) == 0, f"asof plan must not contain {op}"
    assert _ops(plan, "Window") >= 1


def test_q58_benchmark_side_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q58_decontamination")
    # the eval-set shingle list must broadcast; the corpus side must not
    # shuffle into a sort-merge join
    assert _ops(plan, "BroadcastHashJoin") >= 1
    assert _ops(plan, "SortMergeJoin") == 0


def test_q56_salted_two_phase(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q56_salted_agg")
    # partial agg on (key, salt), final agg on key, plus map-side partials:
    # at least two HashAggregate pairs and exactly two exchanges at most
    assert _ops(plan, "HashAggregate") >= 3
    assert "_salt" in plan


def test_q55_split_is_scan_side_expression(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q55_hash_split")
    # no join, no window: the split assignment must be a pure projection
    for op in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert _ops(plan, op) == 0
    assert _ops(plan, "Scan parquet") == 1


def test_q65_sample_is_scan_side_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q65_stratified_sample")
    # pure codegen filter over the scan: no shuffle, no join anywhere
    assert _ops(plan, "Exchange") == 0
    assert _ops(plan, "Join") == 0
    assert _ops(plan, "Scan parquet") == 1


def test_q66_centroids_single_shuffle_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q66_label_centroids")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Exchange") == 1  # one shuffle on (label, dim)
    assert _ops(plan, "HashAggregate") == 2  # map-side partial + final


def test_q67_boilerplate_threshold_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q67_boilerplate")
    # the doc-count threshold arrives as a broadcast scalar, not a collect
    assert _ops(plan, "BroadcastNestedLoopJoin") == 1
    # gram-df join keyed on shingle: a real equi-join, no cartesian blowup
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "ShuffledHashJoin") + _ops(plan, "BroadcastHashJoin") >= 2


def test_q68_prune_no_cartesian(spark, sf_dir):
    # the components subtree materializes during construction
    # (localCheckpoint truncates it to an RDD scan), so the final plan is
    # corpus LEFT JOIN components — assert the keep-filter never degrades
    # to a pair-enumerating cartesian/nested-loop shape
    plan = _plan(spark, sf_dir, "q68_semantic_prune")
    assert _ops(plan, "CartesianProduct") == 0
    assert _ops(plan, "BroadcastNestedLoopJoin") == 0
    assert (
        _ops(plan, "SortMergeJoin") + _ops(plan, "ShuffledHashJoin") + _ops(plan, "BroadcastHashJoin") >= 1
    )


def test_q71_funnel_single_user_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q71_event_funnel")
    # the whole funnel resolves in one groupBy(user) + one global count:
    # no self-joins of the event table (the oracle's 3-join form would
    # show 3 fact-fact shuffles here)
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "Scan parquet") == 1


def test_q35_savgol_python_free(spark, sf_dir):
    # the 51-tap filter is linear: interior rows are a JVM windowed dot
    # product, edges literal matrix rows — no Python stage anywhere, so
    # work distributes WITHIN a series (no one-Arrow-task-per-series cap)
    plan = _plan(spark, sf_dir, "q35_savgol_smooth")
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    # edge arrays arrive via broadcast joins, not a driver collect
    assert _ops(plan, "BroadcastHashJoin") == 2


def test_q73_bloom_prefilter_in_scan_stage(spark, sf_dir):
    # the Bloom probe must be a plain Filter (codegen bit tests on a
    # literal word array) ahead of the exact confirm join — no Python, no
    # extra shuffle, no cartesian
    plan = _plan(spark, sf_dir, "q73_bloom_decontaminate")
    assert "shiftright" in plan and "xxhash64" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert _ops(plan, "BroadcastHashJoin") >= 1  # exact confirm join


def test_q72_lm_fit_single_shuffle_partial_agg(spark, sf_dir):
    # LM fit + per-doc scoring: term-count agg has a map-side partial
    # (HashAggregate below the exchange); the 1-row total arrives via
    # broadcast, never a collect; no cartesian anywhere
    plan = _plan(spark, sf_dir, "q72_unigram_logprob")
    assert _ops(plan, "HashAggregate") >= 4  # partial+final for LM and doc aggs
    assert "CartesianProduct" not in plan
    assert _ops(plan, "Scan parquet") <= 2  # toks subtree reused, not re-scanned per stage


def test_q103_attribution_no_self_join(spark, sf_dir):
    """Attribution must run as carried-forward window state, never an
    events x events self-join."""
    plan = _plan(spark, sf_dir, "q103_attribution")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "SortMergeJoin") == 0 and _ops(plan, "BroadcastHashJoin") == 0
    assert _ops(plan, "Window") == 1


def test_q88_chunk_pairs_grouped_expansion(spark, sf_dir):
    """The chunk-pair graph expands pairs from ONE grouped doc-set per
    chunk — no per-chunk self-join of the chunk table."""
    from phoebe_spark.operators.dedup import chunk_pairs
    from phoebe_spark.sources.testdata import load_table

    df = chunk_pairs(load_table(spark, sf_dir, "documents"))
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert _ops(plan, "Scan parquet") == 1  # tokenize subtree not duplicated
    assert _ops(plan, "SortMergeJoin") == 0


def test_q84_profile_single_scan(spark, sf_dir):
    """The column profile reads the table once (EXPAND-based
    multi-distinct), not once per column like its oracle."""
    plan = _plan(spark, sf_dir, "q84_column_profile")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Expand") >= 1


def test_q98_pivot_no_distinct_values_job(spark, sf_dir):
    """Explicit pivot values: the plan aggregates straight to the pivot
    columns with no distinct-on-event_type subquery."""
    plan = _plan(spark, sf_dir, "q98_pivot_daily")
    assert _ops(plan, "Scan parquet") == 1
    # (day,type) count partial+final then pivotfirst partial+final —
    # and no fifth aggregate from a distinct-values discovery job
    assert _ops(plan, "HashAggregate") == 4


def test_q97_weighted_sample_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q97_weighted_sample")
    assert "TakeOrderedAndProject" in plan  # never a global sort to one partition


def test_q110_topk_no_global_sort(spark, sf_dir):
    """Top-k tokens: one corpus scan, map-side partial agg, and the rank
    window partitioned by lang (never a single-partition global sort)."""
    plan = _plan(spark, sf_dir, "q110_token_topk")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "HashAggregate") >= 2  # partial + final token counts
    assert _ops(plan, "Window") - _ops(plan, "WindowGroupLimit") == 1
    # rank<=5 pushed below the window: per-partition top-k pre-prune, so
    # the rank state never holds the full vocabulary
    assert _ops(plan, "WindowGroupLimit") >= 1


def test_q111_rfm_no_ntile_window(spark, sf_dir):
    """RFM quartiles come from broadcast percentile thresholds — there
    must be NO window operator (an NTILE plan would single-partition
    sort all customers) and no shuffle join."""
    plan = _plan(spark, sf_dir, "q111_rfm_segments")
    assert _ops(plan, "Window") == 0
    assert _ops(plan, "SortMergeJoin") == 0


def test_q112_acf_single_window_pass(spark, sf_dir):
    """All five lags share one per-type window sort over the minutely
    rollup; raw events are scanned once."""
    plan = _plan(spark, sf_dir, "q112_acf")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Window") == 1
    assert _ops(plan, "Generate") == 1  # posexplode of the lag array


def test_q113_seasonality_broadcast_base(spark, sf_dir):
    """The per-type overall mean joins back broadcast — no shuffle join
    for a types-sized frame."""
    plan = _plan(spark, sf_dir, "q113_seasonality")
    assert _ops(plan, "BroadcastHashJoin") == 1
    assert _ops(plan, "SortMergeJoin") == 0


def test_q114_discount_bands_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q114_discount_bands")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "HashAggregate") == 2  # partial + final
    # projection pruned to the three touched columns
    assert "l_orderkey" not in plan and "l_shipdate" not in plan


def test_q115_pmi_broadcast_vocab_joins(spark, sf_dir):
    """PMI joins are vocabulary-sized and must broadcast; the corpus is
    never in a shuffle join, and nothing is cartesian except the two
    1-row total frames."""
    plan = _plan(spark, sf_dir, "q115_bigram_pmi")
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "CartesianProduct") == 0
    assert _ops(plan, "BroadcastHashJoin") >= 2  # unigram count joins


def test_q116_sketch_and_exact_share_scan(spark, sf_dir):
    """HLL sketch and exact distinct run over ONE scan: the single
    distinct rewrites to a two-level aggregate (partial on (source, tok)
    then final on source) — no second pass over the corpus."""
    plan = _plan(spark, sf_dir, "q116_cardinality_gate")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "HashAggregate") == 4
    assert _ops(plan, "Exchange") == 2


def test_q117_rank_gate_broadcasts(spark, sf_dir):
    """The per-type percentile frame joins back broadcast for the rank
    re-check — no shuffle join of the raw events."""
    plan = _plan(spark, sf_dir, "q117_quantile_gate")
    assert _ops(plan, "BroadcastHashJoin") == 1
    assert _ops(plan, "SortMergeJoin") == 0


def test_q118_pagerank_bounded_lineage(spark, sf_dir):
    """Fixed-iteration PageRank: the chunk-pair generator must NOT be
    re-derived per iteration — edges/degrees are checkpointed, so the
    final plan contains no parquet scan at all (and no cartesian)."""
    plan = _plan(spark, sf_dir, "q118_dup_pagerank")
    assert _ops(plan, "Scan parquet") == 0  # lineage cut at the checkpoint
    assert _ops(plan, "CartesianProduct") == 0


def test_q119_grouping_sets_one_expand_pass(spark, sf_dir):
    """All three resolutions come from one scan + one Expand + one
    shuffle — never three separate rollup jobs."""
    plan = _plan(spark, sf_dir, "q119_multires_rollup")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Expand") == 1
    assert _ops(plan, "HashAggregate") == 2  # partial + final


def test_q121_truth_only_on_candidates(spark, sf_dir):
    """True Jaccard joins gram arrays onto the LSH candidate set — never
    a corpus self-join (no cartesian anywhere)."""
    plan = _plan(spark, sf_dir, "q121_minhash_calibration")
    assert _ops(plan, "CartesianProduct") == 0
    assert _ops(plan, "BroadcastNestedLoopJoin") == 0


def test_q122_chunk_projection_materialized_once(spark, sf_dir):
    """The distinct (source, chunk) frame feeds three consumers; the
    checkpoint cuts the lineage so the corpus is scanned once, not 3x."""
    plan = _plan(spark, sf_dir, "q122_source_overlap")
    assert _ops(plan, "Scan parquet") == 0  # lineage cut at the checkpoint
    assert _ops(plan, "CartesianProduct") == 0


def test_q123_sweep_reuses_one_pair_generation(spark, sf_dir):
    """The 5-threshold sweep is an explode over ONE pair frame — the
    posting-index subtree (one parquet scan) is not replicated per
    threshold."""
    plan = _plan(spark, sf_dir, "q123_dedup_yield_curve")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "CartesianProduct") == 0


def test_q124_no_fact_self_joins(spark, sf_dir):
    """Q21's EXISTS / NOT EXISTS collapse into one groupBy(orderkey):
    exactly one fact-fact join (lineitem x orders), no lineitem
    self-joins, both fact sides pruned to the touched columns."""
    plan = _plan(spark, sf_dir, "q124_sole_late_supplier")
    assert _ops(plan, "Scan parquet") == 2  # lineitem + orders, once each
    assert _ops(plan, "CartesianProduct") == 0
    assert "l_quantity" not in plan and "o_totalprice" not in plan  # pruned


def test_q125_total_from_rollup_not_second_scan(spark, sf_dir):
    """The revenue total re-aggregates the per-supplier rollup, which is
    materialized once — the final plan's lineage is cut at the
    checkpoint, so lineitem is scanned exactly once (during the
    checkpoint), never twice."""
    plan = _plan(spark, sf_dir, "q125_supplier_share")
    assert _ops(plan, "Scan parquet") == 0  # lineage cut at the checkpoint
    assert _ops(plan, "BroadcastNestedLoopJoin") == 1  # 1-row total


def test_q127_one_window_for_both_ranks(spark, sf_dir):
    """percent_rank and cume_dist share one window sort per key."""
    plan = _plan(spark, sf_dir, "q127_value_rank_profile")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Window") == 1


def test_q126_set_ops_pushed_filters(spark, sf_dir):
    """INTERSECT/EXCEPT resolve to hash joins with the priority/status
    filters pushed to the scans — no sort-based set operators."""
    plan = _plan(spark, sf_dir, "q126_set_ops")
    # the INTERSECT side is materialized (ExistingRDD); the EXCEPT side's
    # status filter must reach its parquet scan
    assert "EqualTo(o_orderstatus,F)" in plan
    assert _ops(plan, "CartesianProduct") == 0


def test_q129_single_key_shuffle(spark, sf_dir):
    """SCD2 islands: change-detect, island numbering, run rollup, and the
    expiry lead all ride ONE user_id partitioning — no self-joins."""
    plan = _plan(spark, sf_dir, "q129_scd2_islands")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "SortMergeJoin") == 0 and _ops(plan, "BroadcastHashJoin") == 0
    assert _ops(plan, "Exchange") == 1  # the single user_id shuffle


def test_q130_single_user_shuffle(spark, sf_dir):
    """Transition pairs come from one lead window — no event self-join."""
    plan = _plan(spark, sf_dir, "q130_transition_matrix")
    assert _ops(plan, "Scan parquet") == 0  # lineage cut at the checkpoint
    assert _ops(plan, "SortMergeJoin") == 0


def test_q131_regression_on_vocabulary(spark, sf_dir):
    """The corpus is scanned once; the rank window and regression run on
    the vocabulary-sized count frame."""
    plan = _plan(spark, sf_dir, "q131_zipf_slope")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "HashAggregate") >= 2  # map-side-combined token counts


def test_q132_codegen_interleave(spark, sf_dir):
    """Morton interleave is pure codegen arithmetic over a broadcast
    min/max scalar frame — no Python, no sort, one 16-group rollup."""
    plan = _plan(spark, sf_dir, "q132_zorder_locality")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _ops(plan, "BroadcastNestedLoopJoin") == 1  # 1-row min/max frame
    assert _ops(plan, "Sort") == 0
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>" in plan


def test_q133_take_ordered(spark, sf_dir):
    """Top-10 runs as TakeOrderedAndProject (per-partition heaps), never a
    global sort; date filters reach the scans; customer broadcasts."""
    plan = _plan(spark, sf_dir, "q133_top_unshipped")
    assert _ops(plan, "TakeOrderedAndProject") == 1
    assert "IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert _ops(plan, "BroadcastHashJoin") >= 1


def test_q134_single_scan_conditional_agg(spark, sf_dir):
    """Numerator and denominator ride ONE scan + one broadcast join —
    no second pass for the rate."""
    plan = _plan(spark, sf_dir, "q134_promo_share")
    assert _ops(plan, "Scan parquet") == 2  # lineitem + part, once each
    assert _ops(plan, "BroadcastHashJoin") == 1
    assert "GreaterThanOrEqual(l_shipdate" in plan  # range at the scan


def test_q135_pruned_broadcast(spark, sf_dir):
    """Disjunctive predicate: part broadcasts with only 3 columns; the
    OR runs post-join in codegen, not as a union of scans."""
    plan = _plan(spark, sf_dir, "q135_disjunctive_pred")
    assert _ops(plan, "Scan parquet") == 2
    assert _ops(plan, "BroadcastHashJoin") == 1
    assert "ReadSchema: struct<p_partkey:bigint,p_brand:string,p_size:int>" in plan


def test_q136_no_token_stream_selfjoin(spark, sf_dir):
    """TTR at two n-gram orders: each order is one explode; distinct
    counts run as partial-distinct aggregates, no self-joins of the
    token stream."""
    plan = _plan(spark, sf_dir, "q136_ngram_diversity")
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "BroadcastHashJoin") == 1  # 5-row final join only
    assert _ops(plan, "Generate") == 2  # one explode per order


def test_q138_no_cartesian_no_python(spark, sf_dir):
    """Prefix-filter SSJoin: candidate generation is grouped pair
    expansion (no cross join anywhere in the plan), verification is an
    equi-join of candidates against the set frame, all JVM."""
    plan = _plan(spark, sf_dir, "q138_prefix_ssjoin")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q137_single_fit_shuffle(spark, sf_dir):
    """Both LMs (corpus + target-conditional) fit in the SAME groupBy —
    the corpus shuffles on terms once for fitting; lineage cut at the
    vocabulary checkpoint keeps the scoring join's build side bounded."""
    plan = _plan(spark, sf_dir, "q137_importance_weights")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # scoring side: explode + term join + doc rollup; fit side is behind
    # the checkpoint (scan appears once for the scoring explode)
    assert _ops(plan, "Scan parquet") <= 2


def test_q142_partition_pruning(spark, sf_dir):
    """The partitioned-layout read must prune at the DIRECTORY level: the
    event_type IN-filter lands in the scan's PartitionFilters, and the
    partition count proves non-matching directories were skipped."""
    from phoebe_spark.queries import QUERIES

    df = QUERIES[name := "q142_partition_pruning"](spark, sf_dir)
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert name  # keep flake quiet about the walrus
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1) and "IN" in m.group(1), plan
    # event_type is restored from the directory names, never decoded from
    # file bytes — its absence from ReadSchema is the pruning signal
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "event_type" not in m.group(1), plan
    assert _ops(plan, "Scan parquet") == 1
    # and the pruning is real: only the 2 selected directories are read
    # at EXECUTION time (inputFiles() lists pre-pruning, so ask the
    # executed scan which files actually fed rows)
    import glob

    from pyspark.sql import functions as F
    from phoebe_spark.sources import layout

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    back = layout.read_partitioned(spark, f"/tmp/phoebe_part_{tag}")
    files = [
        r[0]
        for r in back.filter(F.col("event_type").isin("click", "purchase"))
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    kinds = {re.search(r"event_type=([^/]+)/", f).group(1) for f in files}
    all_kinds = {
        re.search(r"event_type=([^/]+)$", d).group(1)
        for d in glob.glob("/tmp/phoebe_part_*/event_type=*")
    }
    assert kinds == {"click", "purchase"}, kinds
    assert len(all_kinds) > 2, all_kinds  # the others exist on disk


def test_q143_orc_pushdown(spark, sf_dir):
    """The ORC re-read must push the shipdate predicate into the ORC scan
    and prune to the five referenced columns."""
    from phoebe_spark.queries import QUERIES

    df = QUERIES["q143_orc_roundtrip"](spark, sf_dir)
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert _ops(plan, "Scan orc") == 1
    assert re.search(r"PushedFilters:.*l_shipdate", plan), plan
    # column projection: untouched wide columns never decoded
    assert "l_comment" not in plan and "l_orderkey" not in plan


def test_q147_single_scan_single_exchange(spark, sf_dir):
    """Shard manifest: one documents scan with only (doc_id, text) read,
    codegen hash exprs, ONE map-side-combining exchange on the 16-value
    shard key — the manifest plan must match the write plan's single
    shuffle."""
    plan = _plan(spark, sf_dir, "q147_shard_layout")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Exchange") == 1
    assert _ops(plan, "HashAggregate") == 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "source" not in plan.split("ReadSchema")[-1].split("\n")[0]


def test_q148_single_scan_single_exchange(spark, sf_dir):
    """Length-bucket profile: one scan reading ONLY text, bit-length
    bucket expr in codegen, one exchange on the ~10-value bucket key."""
    plan = _plan(spark, sf_dir, "q148_length_buckets")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Exchange") == 1
    assert _ops(plan, "HashAggregate") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # projection pruned to the text column only
    assert "doc_id" not in plan.split("ReadSchema")[-1].split("\n")[0]


def test_q149_codes_only_no_python(spark, sf_dir):
    """PQ ADC: encode + score are pure codegen array exprs (no Python
    eval), the query side broadcasts, and the only real exchange is the
    per-query top-k window — the corpus never shuffles on data."""
    plan = _plan(spark, sf_dir, "q149_pq_ann")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _ops(plan, "BroadcastNestedLoopJoin") == 1  # 5-row query side
    # one shuffle: the rank window on (query_id); encode side exchange-free
    assert _ops(plan, "Exchange") == 1


def test_q150_single_posting_pass_no_smj(spark, sf_dir):
    """Dup-substring ratio: the posting pass is materialized once (no
    duplicate scan+window shingler subtree) and the census join never
    degrades to a fact-fact sort-merge join at test scale."""
    plan = _plan(spark, sf_dir, "q150_dup_substring_ratio")
    # the only parquet scans allowed are zero: both consumers read the
    # checkpointed posting RDD, not the documents file again
    assert _ops(plan, "Scan parquet") == 0, plan
    assert _ops(plan, "SortMergeJoin") == 0


def test_q151_dims_broadcast_one_fact_pass(spark, sf_dir):
    """Cheapest supplier (TPC-H Q2 shape): all four dimension tables
    broadcast (lineitem is the only shuffling side) and the size/region
    predicates reach the dimension scans."""
    plan = _plan(spark, sf_dir, "q151_cheapest_supplier")
    assert _ops(plan, "BroadcastHashJoin") == 4
    assert _ops(plan, "SortMergeJoin") == 0
    assert "LessThanOrEqual(p_size,5)" in plan
    assert "EqualTo(r_name,EUROPE)" in plan
    # exactly one data shuffle: the per-part argmin window (broadcast
    # exchanges are a different operator and don't count here)
    assert _ops(plan, "Exchange") == 1


def test_q152_aggregate_broadcasts_no_fact_fact_join(spark, sf_dir):
    """Large-volume orders (TPC-H Q18 shape): the HAVING-filtered lineitem
    rollup broadcasts into orders — no order-key sort-merge join."""
    plan = _plan(spark, sf_dir, "q152_big_orders")
    assert _ops(plan, "BroadcastHashJoin") == 2
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "HashAggregate") == 2  # partial + final rollup


def test_q153_anti_join_shape(spark, sf_dir):
    """Lapsed high-balance customers (TPC-H Q22 shape): the recency
    predicate reaches the orders scan, the no-recent-orders test is a
    broadcast anti join, and the scalar average is a 1-row broadcast."""
    plan = _plan(spark, sf_dir, "q153_idle_rich_customers")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LeftAnti" in plan
    assert _ops(plan, "SortMergeJoin") == 0
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row avg_bal scalar


def test_q154_single_distinct_then_window(spark, sf_dir):
    """KMV sketch: one events scan reading only (event_type, user_id),
    distinct-collapse with map-side combining, then the bottom-k window."""
    plan = _plan(spark, sf_dir, "q154_kmv_distinct")
    assert _ops(plan, "Scan parquet") == 1
    assert "value" not in plan.split("ReadSchema")[-1].split("\n")[0]
    # two exchanges total: the distinct collapse and the per-type window
    # (rank + exact-count windows share the second one)
    assert _ops(plan, "Exchange") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q155_census_broadcasts_onto_scan(spark, sf_dir):
    """Mixture resample: the per-source factor table broadcasts back onto
    the corpus scan; the repeat decision is pure codegen (no Python)."""
    plan = _plan(spark, sf_dir, "q155_mixture_resample")
    assert _ops(plan, "BroadcastHashJoin") >= 1
    assert _ops(plan, "SortMergeJoin") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q162_q163_single_fact_fact_shuffle(spark, sf_dir):
    """TPC-H Q7/Q8 shapes: every dim joins as a broadcast and the ONLY
    shuffle join is lineitem->orders; dim filters prune before broadcast
    (nation IN-list / region name visible at the dim scans)."""
    for name, n_bc in (("q162_bilateral_trade", 4), ("q163_market_share", 4)):
        plan = _plan(spark, sf_dir, name)
        assert _ops(plan, "BroadcastHashJoin") >= n_bc, name
        fact_joins = _ops(plan, "SortMergeJoin") + _ops(plan, "ShuffledHashJoin")
        assert fact_joins <= 1, name
    q162 = _plan(spark, sf_dir, "q162_bilateral_trade")
    assert "In(n_name" in q162  # nation pair filter pushed to the dim scan
    q163 = _plan(spark, sf_dir, "q163_market_share")
    assert "EqualTo(r_name,EUROPE)" in q163


def test_q164_rank_input_is_customers_sized(spark, sf_dir):
    """TPC-H Q10 shape: returnflag + orderdate predicates reach the fact
    scans, the top-20 window runs AFTER the aggregate (rank input is
    customers-sized, never fact-sized)."""
    plan = _plan(spark, sf_dir, "q164_returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # window over the aggregated frame: the Window's child subtree must
    # contain the final HashAggregate, i.e. Window appears before (above)
    # the aggregate in the formatted operator list
    assert _ops(plan, "Window") == 1
    assert plan.index("Window") < plan.index("HashAggregate")


def test_q167_threshold_join_no_second_fact_scan_blowup(spark, sf_dir):
    """TPC-H Q17 shape: the decorrelated per-part threshold joins back on
    partkey; the brand filter prunes part before its broadcast."""
    plan = _plan(spark, sf_dir, "q167_small_qty_revenue")
    assert "EqualTo(p_brand,Brand#23)" in plan
    assert _ops(plan, "BroadcastHashJoin") >= 1


def test_q168_dims_broadcast_name_filter_pushed(spark, sf_dir):
    """TPC-H Q9 shape: p_name LIKE prunes part at its scan; part,
    supplier, nation all broadcast; single fact-fact shuffle join."""
    plan = _plan(spark, sf_dir, "q168_product_profit")
    assert "StringContains(p_name,widget)" in plan
    assert _ops(plan, "BroadcastHashJoin") >= 3
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "ShuffledHashJoin") <= 1


def test_q169_deny_list_is_broadcast_anti(spark, sf_dir):
    """TPC-H Q16 shape: the deny-list is a broadcast ANTI join (never a
    NOT IN materialization), and the distinct count partials map-side."""
    plan = _plan(spark, sf_dir, "q169_supplier_relationship")
    assert "LeftAnti" in plan
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "HashAggregate") >= 2


def test_q170_single_bucket_shuffle_gemm(spark, sf_dir):
    """LSH pairs: sign bits are codegen scan-side expressions, ONE
    exchange on the bucket key feeds the Arrow GEMM group — no self-join,
    vectors cross the wire once."""
    plan = _plan(spark, sf_dir, "q170_lsh_neardup_pairs")
    assert _ops(plan, "Exchange") == 1
    # the bucketed projection is localCheckpoint-materialized before the
    # skew census (one corpus scan TOTAL, reused by census and pair scan),
    # so the pair plan reads the checkpoint, not parquet
    assert _ops(plan, "Scan parquet") == 0
    assert "ExistingRDD" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert _ops(plan, op) == 0, op
    assert "FlatMapGroupsInPandas" in plan


def test_q176_all_predicates_at_scan(spark, sf_dir):
    """TPC-H Q6: all three predicates reach the parquet scan and the
    aggregate is a map-side partial + 1-row final, no join anywhere."""
    plan = _plan(spark, sf_dir, "q176_forecast_revenue_change")
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "HashAggregate") == 2
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert _ops(plan, op) == 0, op


def test_q177_local_supplier_single_fact_shuffle(spark, sf_dir):
    """TPC-H Q5: region/nation/customer/supplier all broadcast, the
    customer-nation = supplier-nation equality costs no extra shuffle,
    and the date predicate reaches the orders scan."""
    plan = _plan(spark, sf_dir, "q177_local_supplier_volume")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert _ops(plan, "BroadcastHashJoin") >= 3
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "ShuffledHashJoin") <= 1


def test_q171_melt_is_single_scan(spark, sf_dir):
    """UNPIVOT via stack must stay ONE scan with the expansion in the
    scan stage — the oracle's UNION ALL spelling would be four scans."""
    plan = _plan(spark, sf_dir, "q171_measure_profile_unpivot")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Generate") == 1  # stack lowers to an inline Generate
    assert _ops(plan, "HashAggregate") == 2


def test_q172_grouping_sets_single_pass(spark, sf_dir):
    """grouping_id ROLLUP: one orders scan, customer broadcast, one
    Expand for the grouping sets, partial + final aggregate."""
    plan = _plan(spark, sf_dir, "q172_grouping_id_rollup")
    assert _ops(plan, "Scan parquet") == 2  # orders + customer
    assert _ops(plan, "BroadcastHashJoin") == 1
    assert _ops(plan, "Expand") == 1
    assert _ops(plan, "SortMergeJoin") == 0


def test_q175_range_frame_single_shuffle(spark, sf_dir):
    """Time-RANGE window: exactly one exchange (user_id), a RangeFrame
    window (not RowFrame), and no self-join materialization."""
    plan = _plan(spark, sf_dir, "q175_trailing_range_window")
    assert _ops(plan, "Exchange") == 1
    assert _ops(plan, "Window") == 1
    assert "RANGE BETWEEN" in plan or "specifiedwindowframe(RangeFrame" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert _ops(plan, op) == 0, op


def test_q173_no_cartesian_and_generates_inline(spark, sf_dir):
    """Cross-modal coherence: the vector fan-out is a Generate
    (posexplode) in the scan stage and every join is an equi-join —
    no BroadcastNestedLoop/cartesian anywhere."""
    plan = _plan(spark, sf_dir, "q173_lang_embedding_coherence")
    assert _ops(plan, "Generate") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dim_hint_is_size_aware(spark, sf_dir):
    """_dim broadcasts only under the plan-time size bound: a small dim
    gets the explicit hint (stable BroadcastHashJoin plans at bench
    scale), while a frame whose Catalyst size estimate exceeds the bound
    is returned UNCHANGED so AQE's runtime stats pick the strategy — the
    guard against OOM-ing a 100x-scale customer/supplier broadcast."""
    from phoebe_spark.queries import _BROADCAST_BOUND_BYTES, _dim, _t

    small = _t(spark, sf_dir, "nation")
    hinted = _dim(small)
    assert hinted is not small  # hint applied -> new frame
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()

    # spark.range costs 8 bytes/row at plan time — size the frame just
    # past the bound without materializing anything.
    huge = spark.range(_BROADCAST_BOUND_BYTES // 8 + 1_000_000)
    assert _dim(huge) is huge  # declined: AQE decides at runtime

    # And the declined path still yields a valid (non-broadcast-hinted) join.
    plan = spark.range(10).join(_dim(huge), "id")._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan


def test_q182_single_broadcast_selfjoin(spark, sf_dir):
    """Leakage-safe split: fingerprint groups join back to their rep via
    ONE broadcast hash join (group-count-sized right side) — no
    sort-merge, no cartesian."""
    plan = _plan(spark, sf_dir, "q182_leakage_safe_split")
    assert _ops(plan, "BroadcastHashJoin") == 1
    assert _ops(plan, "SortMergeJoin") == 0
    assert "CartesianProduct" not in plan


def test_q183_census_materialized_once(spark, sf_dir):
    """KS drift audit: the corpus collapses to the (source x length)
    census ONCE (localCheckpoint) — the five downstream branches must
    read the materialized census, never rescan the parquet."""
    plan = _plan(spark, sf_dir, "q183_source_length_ks")
    assert _ops(plan, "Scan parquet") == 0  # checkpoint already holds it
    assert _ops(plan, "Window") == 2  # global cum + per-source cum
    assert "SortMergeJoin" not in plan


def test_q185_arrow_kernels_only(spark, sf_dir):
    """Audio DSP loop: synth + FFT are two Arrow mapInPandas kernels over
    a single documents scan; no shuffle is needed at all (fully
    partition-local)."""
    plan = _plan(spark, sf_dir, "q185_audio_dominant_freq")
    assert _ops(plan, "Scan parquet") == 1
    assert plan.count("MapInPandas") >= 2
    assert _ops(plan, "Exchange") == 0


def test_q186_scrub_rebuild_shuffle_budget(spark, sf_dir):
    """Chunk scrub + rebuild: codegen chunk fan-out (Generate), census +
    verdict join + ONE doc-keyed reassembly — equi-joins only, and no
    per-document Window sort (array_sort restores order inside the agg)."""
    plan = _plan(spark, sf_dir, "q186_chunk_scrub_rebuild")
    assert _ops(plan, "Generate") >= 1
    assert _ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q187_kmeans_final_pass_scan_shape(spark, sf_dir):
    """k-means final assignment: distances to all k centroids are literal
    codegen folds in ONE embeddings scan — no join against a centroid
    table, no Python island; the only exchange is the k-sized rollup."""
    plan = _plan(spark, sf_dir, "q187_kmeans_embeddings")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "BroadcastHashJoin") == 0
    assert "InMemoryTableScan" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert _ops(plan, "Exchange") == 1


def test_q189_stitch_no_self_join_blowup(spark, sf_dir):
    """Stitch audit: tail->head matching is equi-joins through the
    df-capped gram table — no cartesian, no broadcast nested loop."""
    plan = _plan(spark, sf_dir, "q189_stitch_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q190_window_group_limit_pushdown(spark, sf_dir):
    """Source cap: the rn<=50 filter must push into the window sort as a
    WindowGroupLimit (per-partition 50-row heaps), not materialize a full
    per-source sort then filter."""
    plan = _plan(spark, sf_dir, "q190_source_quality_cap")
    assert "WindowGroupLimit" in plan
    assert _ops(plan, "Scan parquet") == 1


def test_q191_no_global_sort(spark, sf_dir):
    """Seasonal decomposition: one (type, day) aggregate, one per-type
    window sort on the DAYS-sized series, one rollup — the fact scan
    never globally sorts."""
    plan = _plan(spark, sf_dir, "q191_seasonal_decompose")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Window") == 1
    assert "CartesianProduct" not in plan


def test_q192_single_scan_all_budgets(spark, sf_dir):
    """Matryoshka audit: all four dim budgets score in expressions over
    ONE corpus scan (the panel is a broadcast); the per-(query,budget)
    top-1 is a rank-1 WindowGroupLimit; the panel-sized top-1 frame is
    checkpointed so neither final branch re-scores the corpus (no
    parquet scan survives into the final plan)."""
    plan = _plan(spark, sf_dir, "q192_matryoshka_audit")
    assert _ops(plan, "Scan parquet") == 0  # both branches read the checkpoint
    assert "CartesianProduct" not in plan


def test_q193_single_id_join_no_text_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q193_snapshot_diff")
    # one full-outer equi-join on doc_id; the text column is hashed at the
    # scan and never crosses the exchange
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "ShuffledHashJoin") == 1
    assert "CartesianProduct" not in plan
    # hash computed pre-shuffle: no raw `text` in any Exchange's output
    for m in re.finditer(r"\(\d+\) Exchange[\s\S]*?Arguments", plan):
        assert "text#" not in m.group(0)


def test_q194_cdc_single_key_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q194_cdc_apply")
    # union of three scans -> ONE shuffle on the change key for the
    # row_number (with the rank-1 filter pushed as WindowGroupLimit on
    # both sides of the exchange), plus the final tiny status aggregate
    assert _ops(plan, "WindowGroupLimit") >= 1
    assert _ops(plan, "Exchange") <= 2
    assert _ops(plan, "CartesianProduct") == 0


def test_q198_partials_before_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q198_source_centroid_drift")
    # the (source, dim) aggregation happens BEFORE the centroid join —
    # the join operates on partials, never vectors; the partials frame is
    # checkpointed so the corpus join + explode runs ONCE
    assert _ops(plan, "BroadcastHashJoin") >= 1
    assert _ops(plan, "Generate") == 0  # partials come from the checkpoint
    assert _ops(plan, "Scan parquet") == 0


def test_q200_distinct_before_selfjoin(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q200_source_vocab_overlap")
    # the gram self-join consumes the (source, gram) DISTINCT projection —
    # postings are source-bounded, so no pair blow-up and no cartesian
    assert "CartesianProduct" not in plan
    assert _ops(plan, "BroadcastHashJoin") >= 2  # the two size lookups


def test_q201_semi_join_with_pushed_quarter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q201_tpch_q4_semi")
    # EXISTS planned as LEFT SEMI; the quarter filter reaches the scan
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "l_quantity" not in plan  # lineitem pruned to key+date


def test_q202_sketch_algebra_broadcast_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q202_kmv_set_ops")
    # after the rank-k window, everything is sources x k sized and the
    # pair algebra must be broadcast joins, never a shuffled join
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "BroadcastNestedLoopJoin") <= 2  # source_a < source_b pairing
    assert "CartesianProduct" not in plan


def test_q204_arrow_kernels_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q204_image_ahash_gate")
    # synth + decode + hash are Arrow-batched python stages; no
    # row-at-a-time BatchEvalPython anywhere
    assert "BatchEvalPython" not in plan
    assert _ops(plan, "MapInPandas") == 2  # generator + feature extractor


def test_q206_model_broadcast_scoring(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q206_naive_bayes_source")
    # the NB model / vocab / class tables reach the scoring side as
    # broadcasts; token-stream shuffles are the fit and per-doc score
    # aggregations only, and nothing is a cartesian blow-up
    assert "CartesianProduct" not in plan
    assert _ops(plan, "BroadcastHashJoin") >= 4
    # integer-quantized scores: the argmax is a rank-1 window, pushed as
    # a group-limit so only each doc's top row crosses the final agg
    assert _ops(plan, "WindowGroupLimit") >= 1


def test_q207_verify_on_distinct_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q207_blocking_er_join")
    # levenshtein verify runs AFTER the distinct-spelling groupBy and
    # inside an equi-join on the block key — never a cartesian product,
    # never on raw part rows
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan.lower()
    # the block join consumes the aggregated (distinct-name) side
    assert _ops(plan, "HashAggregate") >= 2


def test_q208_arrow_kernels_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q208_image_phash_gate")
    # synth + decode + integer-DCT hash are Arrow-batched python stages;
    # no row-at-a-time BatchEvalPython anywhere
    assert "BatchEvalPython" not in plan
    assert _ops(plan, "MapInPandas") == 2  # generator + pHash kernel


def test_q211_broadcast_prune_and_rollups(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q211_dominant_supplier")
    # the (part, supplier) rollup is checkpointed, so the final plan
    # joins the cached partials (ExistingRDD) — lineitem is scanned
    # exactly once (inside the checkpoint), and the only parquet scans
    # left are the bounded supplier/nation dims, all broadcast
    assert "Scan ExistingRDD" in plan
    assert _ops(plan, "Scan parquet") == 2
    assert _ops(plan, "BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q212_two_scans_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q212_benford_audit")
    # one scan per money column (per-measure total via window, no
    # join-back re-scan), digit extracted scan-side, and the ReadSchema
    # carries ONLY the measure column
    assert _ops(plan, "Scan parquet") == 2
    assert _ops(plan, "BroadcastHashJoin") == 0
    import re as _re
    for m in _re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = m.group(1)
        assert cols in ("o_totalprice:double", "l_extendedprice:double")


def test_q213_single_user_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q213_ushaped_attribution")
    # the purchase-binding window and the journey-position windows hang
    # off user_id partitionings; no self-join of the event table
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "ShuffledHashJoin") == 0
    assert "CartesianProduct" not in plan


def test_q214_single_pass_viterbi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q214_unigram_lm_tokenizer")
    # the whole Viterbi DP folds inside one HOF aggregate over the
    # per-word piece list: no iterative join chain, no row_number
    # windows, and the piece-score table broadcasts onto the occurrences
    assert _ops(plan, "Window") == 0
    assert _ops(plan, "SortMergeJoin") == 0
    assert "CartesianProduct" not in plan
    assert _ops(plan, "BroadcastHashJoin") >= 2  # l0 onto occ; totals onto n1


def test_q215_single_pass_greedy(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q215_wordpiece_encode")
    # bounded vocab rides as a broadcast map; the greedy loop folds in
    # one HOF aggregate — no iterative join chain, no cartesian blowup
    assert "CartesianProduct" not in plan
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "BroadcastNestedLoopJoin") <= 1  # the 1-row vmap ride-along


def test_q216_no_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q216_quality_signal_agreement")
    # rank windows + one grouped sum; the documents table never joins
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "BroadcastHashJoin") == 0


def test_q217_bench_side_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q217_neardup_decontamination")
    # the eval suite broadcasts into both the band probe and the verify
    # joins; the corpus never self-joins and nothing goes cartesian
    assert "CartesianProduct" not in plan
    assert _ops(plan, "BroadcastHashJoin") >= 2


def test_q218_oracle_null_path_nonvacuous(spark, sf_dir):
    # the LEFT OUTER certification is only meaningful if some lefts
    # actually expire unmatched below the final watermark at this SF
    import duckdb

    from phoebe_spark.queries import ORACLE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    total_nulls = con.execute(
        f"SELECT sum(n_expired_null) FROM ({ORACLE['q218_stream_outer_join_drain']})"
    ).fetchone()[0]
    assert total_nulls and total_nulls > 0


def test_q219_gram_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q219_pca_power_iteration")
    # iterations run on dims-sized frames: every v-join broadcasts, no
    # sort-merge join anywhere, nothing cartesian except the 1-row norm
    assert _ops(plan, "SortMergeJoin") == 0
    assert "CartesianProduct" not in plan


def test_q220_state_machine_paths_nonvacuous(spark, sf_dir):
    # the certification is only meaningful if the fixture exercises BOTH
    # duplicate drops AND post-eviction re-admissions at this SF
    import duckdb

    from phoebe_spark.queries import ORACLE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    dropped, readmitted = con.execute(
        "SELECT sum(n_dropped), sum(CASE WHEN n_admits >= 2 THEN 1 ELSE 0 END) "
        f"FROM ({ORACLE['q220_dedup_within_watermark_drain']})"
    ).fetchone()
    assert dropped > 0 and readmitted > 0


def test_q221_bfs_expands_and_stays_linear(spark, sf_dir):
    import duckdb

    from phoebe_spark.queries import ORACLE, QUERIES

    # non-vacuity: both expansion rounds must actually reach new docs
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    d1, d2 = con.execute(
        "SELECT sum(CASE WHEN dist=1 THEN 1 ELSE 0 END),"
        "       sum(CASE WHEN dist=2 THEN 1 ELSE 0 END) "
        f"FROM ({ORACLE['q221_contamination_closure_bfs']})"
    ).fetchone()
    assert d1 > 0 and d2 > 0
    # plan: hub expansion is equi-joins only — no cartesian pair blowup
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        QUERIES["q221_contamination_closure_bfs"](spark, sf_dir)._jdf.queryExecution(),
        "formatted",
    )
    assert "CartesianProduct" not in plan


def test_q225_no_part_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q225_market_basket")
    # pair expansion happens inside baskets (array combinatorics), part
    # counts ride as broadcasts — no part-keyed sort-merge self-join
    assert _ops(plan, "SortMergeJoin") == 0
    assert _ops(plan, "Scan parquet") == 0  # basket frame checkpointed once


def test_q226_single_window_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q226_delta_encoding_audit")
    assert _ops(plan, "Scan parquet") == 1
    assert _ops(plan, "Window") == 1  # both lags + row_number share one window
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "BroadcastHashJoin") == 0


def test_q228_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q228_interleaved_epoch_order")
    # within-source rank is the only sort; the interleave position is
    # closed-form HOF arithmetic over a broadcast count table — a global
    # ORDER BY would show a rangepartitioning Exchange
    assert "rangepartitioning" not in plan.lower()
    assert _ops(plan, "Window") == 1


def test_q229_all_three_paths_nonvacuous(spark, sf_dir):
    # gap splits, multi-event merges, AND withheld last sessions must
    # all occur at this SF or the timer certification proves nothing
    import duckdb

    from phoebe_spark.queries import _Q229_GAP_MS, ORACLE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    emitted, multi = con.execute(
        "SELECT count(*), sum(CASE WHEN n_events > 1 THEN 1 ELSE 0 END) "
        f"FROM ({ORACLE['q229_event_timer_sessions_drain']})"
    ).fetchone()
    total_sessions = con.execute(
        f"""
        WITH t AS (SELECT user_id AS key,
                   2*((epoch_ns(ts)//1000000000)*1000 + event_id % 1000) AS tm
                   FROM events),
        s AS (SELECT key, tm, CASE WHEN lag(tm) OVER w IS NULL
                   OR tm - lag(tm) OVER w > {_Q229_GAP_MS} THEN 1 ELSE 0 END AS brk
              FROM t WINDOW w AS (PARTITION BY key ORDER BY tm)),
        g AS (SELECT key, sum(brk) OVER (PARTITION BY key ORDER BY tm
                   ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        SELECT count(*) FROM (SELECT DISTINCT key, sid FROM g)
        """
    ).fetchone()[0]
    assert emitted > 0 and multi > 0
    # withheld lasts: the drain must emit strictly fewer sessions than
    # the batch sessionization finds (the final-watermark rule bites)
    assert emitted < total_sessions


def test_q232_lineage_truncated(spark, sf_dir):
    # 5 pagerank iterations must NOT stack 5 joins in the final plan:
    # each iteration localCheckpoints, so the returned frame's plan is a
    # projection over the checkpoint RDD — no parquet rescan, no join.
    plan = _plan(spark, sf_dir, "q232_part_pagerank")
    assert "Scan parquet" not in plan
    assert _ops(plan, "SortMergeJoin") == 0 and _ops(plan, "BroadcastHashJoin") == 0


def test_q233_single_pass_vertex_emit(spark, sf_dir):
    # the 3 triangle vertices come from ONE explode over the join output,
    # not a 3-way union that would re-execute both joins per branch
    plan = _plan(spark, sf_dir, "q233_triangle_census")
    assert _ops(plan, "Union") == 0
    assert _ops(plan, "SortMergeJoin") + _ops(plan, "BroadcastHashJoin") <= 2
    assert "Scan parquet" not in plan  # edge frame is checkpointed


def test_q234_cluster_local_pairs(spark, sf_dir):
    # the pair join is an EQUI-join on label (+ residual vec_id<):
    # never a cartesian / nested-loop over the corpus
    plan = _plan(spark, sf_dir, "q234_semdedup_prune")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q235_no_shuffle(spark, sf_dir):
    # chunking is pure narrow work: scan -> filter -> explode -> project
    plan = _plan(spark, sf_dir, "q235_rag_chunks")
    assert _ops(plan, "Exchange") == 0
    assert _ops(plan, "Generate") == 1
    assert _ops(plan, "Scan parquet") == 1


def test_q240_single_shuffle(spark, sf_dir):
    # the lead() window and the grouped agg share the user_id
    # partitioning: exactly one Exchange in the whole plan
    plan = _plan(spark, sf_dir, "q240_time_weighted_avg")
    assert _ops(plan, "Exchange") == 1


def test_q241_hash_join_not_nested_loop(spark, sf_dir):
    # THE point of the bucketed band-join rewrite: a BETWEEN theta-join
    # would plan as BroadcastNestedLoopJoin; the bucket equi-key makes it
    # a BroadcastHashJoin with the residual as a post-filter
    plan = _plan(spark, sf_dir, "q241_band_join")
    assert _ops(plan, "BroadcastHashJoin") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q242_topk_group_limit(spark, sf_dir):
    # rank<=10 over the per-query window must plan as WindowGroupLimit
    # (partial top-k before the exchange), not a full sort of all scores
    plan = _plan(spark, sf_dir, "q242_ndcg_eval")
    assert _ops(plan, "WindowGroupLimit") >= 1


def test_q243_lineage_truncated(spark, sf_dir):
    # 3 label-propagation rounds checkpoint per round: the returned plan
    # joins checkpointed frames, never re-derives the graph from parquet
    plan = _plan(spark, sf_dir, "q243_label_propagation")
    assert "Scan parquet" not in plan


def test_q244_signature_subtree_not_duplicated(spark, sf_dir):
    # direct + half-merge both read the checkpointed per-doc signatures:
    # the shingle+hash subtree must not appear twice (no parquet rescans,
    # no Generate/explode of shingles in the final plan)
    plan = _plan(spark, sf_dir, "q244_minhash_merge_cert")
    assert "Scan parquet" not in plan


def test_q245_one_fact_scan(spark, sf_dir):
    # both lineitem keys audit from ONE scan (explode), not a self-union
    plan = _plan(spark, sf_dir, "q245_key_skew_gini")
    assert _ops(plan, "Scan parquet") == 2  # lineitem once + events once


def test_q246_pattern_paths_nonvacuous(spark, sf_dir):
    # the first-match certification needs: matched views, UNmatched
    # views (finalized silently), multi-candidate windows (earliest-B
    # selection actually chooses), and withheld views at the tail
    import duckdb

    from phoebe_spark.queries import _Q246_WINDOW_MS, ORACLE

    # the multi-candidate path needs event density: check at the gate's
    # own SF (0.01), not the unit-test default 0.001
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet')"
    )
    emitted = con.execute(
        f"SELECT count(*) FROM ({ORACLE['q246_stream_first_match_drain']})"
    ).fetchone()[0]
    base = f"""
    WITH t AS (SELECT user_id, event_type,
               (epoch_ns(ts)//1000000000)*1000 + event_id % 1000 AS tm
               FROM events WHERE event_type IN ('view','purchase')),
    wm AS (SELECT max(tm) AS w FROM t),
    a AS (SELECT DISTINCT user_id, tm FROM t WHERE event_type='view'),
    b AS (SELECT user_id, tm FROM t WHERE event_type='purchase')
    """
    closed_views, unmatched, multi = con.execute(
        base
        + f"""
        SELECT count(*),
               sum(CASE WHEN nb = 0 THEN 1 ELSE 0 END),
               sum(CASE WHEN nb >= 2 THEN 1 ELSE 0 END)
        FROM (
          SELECT a.user_id, a.tm,
                 (SELECT count(*) FROM b WHERE b.user_id = a.user_id
                    AND b.tm >= a.tm AND b.tm <= a.tm + {_Q246_WINDOW_MS}) AS nb
          FROM a, wm WHERE a.tm + {_Q246_WINDOW_MS} < wm.w
        )
        """
    ).fetchone()
    withheld = con.execute(
        base
        + f"SELECT count(*) FROM a, wm WHERE a.tm + {_Q246_WINDOW_MS} >= wm.w"
    ).fetchone()[0]
    assert emitted > 0
    assert unmatched > 0  # silent finalization path runs
    assert multi > 0  # earliest-B selection actually selects
    assert withheld > 0  # final-watermark withholding bites
    assert emitted == closed_views - unmatched


def test_q248_bucketed_join_is_shuffle_free(spark, sf_dir):
    # the whole point of bucketing: both sides pre-bucketed on the join
    # key -> SortMergeJoin with ZERO Exchange in the plan
    import uuid

    from pyspark.sql import functions as F

    from phoebe_spark.queries import _t

    suffix = uuid.uuid4().hex[:8]
    t_o, t_c = f"t248_orders_{suffix}", f"t248_cust_{suffix}"
    try:
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).saveAsTable(t_o)
        _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        ).write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
            "overwrite"
        ).saveAsTable(t_c)
        o = spark.table(t_o)
        c = spark.table(t_c).hint("merge")
        j = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_nationkey").count()
        plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert _ops(plan, "SortMergeJoin") == 1
        # the ONLY exchange in the whole plan is the post-join aggregate
        # shuffle; an unbucketed join would add one per join input
        assert _ops(plan, "Exchange") == 1
        assert j.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


def test_q247_dynamic_mode_preserves_other_partitions(spark, sf_dir, tmp_path):
    # the static-mode footgun the query guards against: a partial
    # restatement under STATIC overwrite drops every other partition;
    # under dynamic it must preserve them
    from pyspark.sql import functions as F

    from phoebe_spark.queries import _t

    base = _t(spark, sf_dir, "events").select(
        (F.expr("ts div 1000000000") / 86400).cast("long").alias("day"), "value"
    )
    tbl = str(tmp_path / "facts")
    base.write.partitionBy("day").parquet(tbl)
    n_days = spark.read.parquet(tbl).select("day").distinct().count()
    restate = base.filter(F.col("day") % 10 == 3)
    n_restate_days = restate.select("day").distinct().count()
    (
        restate.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(tbl)
    )
    assert spark.read.parquet(tbl).select("day").distinct().count() == n_days
    assert n_restate_days < n_days  # the restatement is genuinely partial


def test_q258_asymmetric_divergence_nonvacuous(spark, sf_dir):
    # the containment operator must survive on pairs Jaccard would MISS:
    # at the gate SF the result needs both one-way inclusions (containment
    # >= 0.2, jaccard < 0.1) and mutual near-dups (jaccard >= 0.9)
    import duckdb

    from phoebe_spark.queries import ORACLE

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    rows = con.execute(ORACLE["q258_containment_pairs"]).fetchall()
    one_way = [r for r in rows if r[2] >= 0.2 and r[3] < 0.1]
    mutual = [r for r in rows if r[3] >= 0.9]
    assert len(one_way) > 0 and len(mutual) > 0


def test_two_phase_rank_no_global_window(spark, sf_dir):
    # q236/q256/q262 rank via value-bucketed offsets: the ONLY
    # single-partition exchange allowed is the cumulative-offset window
    # over the tiny distinct-VALUE frame — so every SinglePartition in the
    # plan must be fed by a HashAggregate (the per-value counts), never by
    # raw rows (the naive global row_number shape).
    for name in (
        "q82_acctbal_deciles",
        "q159_token_budget_curve",
        "q178_quality_dup_curve",
        "q236_length_bucket_batches",
        "q262_snake_sharding",
    ):
        plan = _plan(spark, sf_dir, name)
        ids = re.findall(r"\((\d+)\) Exchange\nArguments: SinglePartition", plan)
        assert len(ids) <= 1, name
        for i in ids:
            feeder = int(i) - 1
            assert f"({feeder}) HashAggregate" in plan, (name, i)


def test_global_rank_matches_naive_window(spark):
    # the helper must be BIT-identical to row_number over the global sort
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from phoebe_spark.operators.layout import global_rank_by_value

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.pmod(F.xxhash64("id"), F.lit(40)).alias("v")
    )
    fast = global_rank_by_value(df, "v", "doc_id", descending=True)
    naive = df.withColumn(
        "rn", F.row_number().over(W.orderBy(F.col("v").desc(), F.col("doc_id")))
    )
    j = fast.join(naive, "doc_id")
    assert j.filter(F.col("r") != F.col("rn")).count() == 0
    asc = global_rank_by_value(df, "v", "doc_id", descending=False)
    naive_asc = df.withColumn(
        "rn", F.row_number().over(W.orderBy(F.col("v").asc(), F.col("doc_id")))
    )
    assert (
        asc.join(naive_asc, "doc_id").filter(F.col("r") != F.col("rn")).count() == 0
    )


def test_cluster_local_pairs_guard_refuses_hot_cluster(spark):
    import pytest
    from pyspark.sql import functions as F

    from phoebe_spark.operators.similarity import cluster_local_pairs

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("label"),  # ONE cluster holding everything
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_cluster_rows"):
        cluster_local_pairs(df, max_cluster_rows=50)
    # under the bound it runs
    assert cluster_local_pairs(df, max_cluster_rows=10_000).count() > 0
