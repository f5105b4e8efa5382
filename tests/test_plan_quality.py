"""Plan-quality regression tests: the physical plans the 100 TB design
requires, asserted — a future change that silently drops a pushdown,
broadcast, or semi-join fails here, not in production."""

from pyspark.sql import functions as F

from ingest_pipeline_spark.queries import queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    plan = _plan(queries()["q1_pricing_summary"](spark, sf_dir))
    # the shipdate filter reaches the parquet scan…
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # …the scan reads only needed columns…
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # …and aggregation is partial (map-side combine) before the exchange
    assert "partial_sum" in plan


def test_q4_uses_semi_join(spark, sf_dir):
    plan = _plan(queries()["q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_q5_dims_broadcast(spark, sf_dir):
    plan = _plan(queries()["q5_region_revenue"](spark, sf_dir))
    # nation/region never shuffle: they ride BroadcastExchange
    assert plan.count("BroadcastExchange") >= 2
    # exactly one hash-partitioned exchange (the final small groupBy)
    assert plan.count("Exchange hashpartitioning") == 1


def test_profile_single_scan(spark, sf_dir):
    plan = _plan(queries()["profile_orders"](spark, sf_dir))
    assert plan.count("FileScan") == 1


def test_similarity_topk_pushes_rank_limit(spark, sf_dir):
    plan = _plan(queries()["similarity_topk"](spark, sf_dir))
    # WindowGroupLimit Partial = top-k pruned map-side before the shuffle
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_minhash_no_cartesian(spark, sf_dir):
    plan = _plan(queries()["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # signatures are localCheckpoint-materialized before the self-join
    # (one signature computation, both sides read it), so the pair plan
    # scans the checkpoint RDD rather than recomputing the pipeline
    assert "Scan ExistingRDD" in plan

    # the signature stage itself still combines its 16 mins map-side
    from ingest_pipeline_spark.operators.dedup import minhash_signatures
    from ingest_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sig_plan = _plan(minhash_signatures(docs, "text", "doc_id"))
    assert "partial_min" in sig_plan


def test_checksum_manifest_one_shuffle(spark, sf_dir):
    plan = _plan(queries()["checksum_manifest"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q6_full_pushdown_single_row(spark, sf_dir):
    plan = _plan(queries()["q6_forecast_revenue"](spark, sf_dir))
    # all four predicates reach the parquet scan (the PushedFilters
    # string is elided at 100 chars, so assert via DataFilters too)
    pushed = plan.split("PushedFilters: [")[1].split("ReadSchema")[0]
    assert "IsNotNull(l_shipdate)" in pushed and "IsNotNull(l_quantity)" in pushed
    data_filters = plan.split("DataFilters: [")[1]
    assert "l_shipdate" in data_filters and "l_discount" in data_filters
    # only the four needed columns are read
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_extendedprice" in read
    assert "partial_sum" in plan


def test_q19_disjunction_pushes_conjunctive_implications(spark, sf_dir):
    plan = _plan(queries()["q19_disjunctive_revenue"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # CNF factoring gives each side its own pushable implication of the OR
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    part_scan = [ln for ln in scans if "p_brand" in ln]
    li_scan = [ln for ln in scans if "l_quantity" in ln]
    assert part_scan and "Or(" in part_scan[0].split("PushedFilters")[1]
    assert li_scan and "Or(" in li_scan[0].split("PushedFilters")[1]


def test_q18_filters_orders_before_fact_join(spark, sf_dir):
    plan = _plan(queries()["q18_large_volume_orders"](spark, sf_dir))
    # the qualifying-order key set broadcasts into a semi join
    assert "LeftSemi" in plan and "BroadcastExchange" in plan


def test_q11_threshold_broadcast_not_window(spark, sf_dir):
    plan = _plan(queries()["q11_important_parts"](spark, sf_dir))
    # global-total scalar must ride a broadcast join, never a Window
    # over an empty partitioning (which would single-task 100 TB)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_tfidf_partial_aggs(spark, sf_dir):
    plan = _plan(queries()["tfidf_top_terms"](spark, sf_dir))
    # both keyed aggs combine map-side before their exchanges
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_one_shuffle_no_udf(spark, sf_dir):
    plan = _plan(queries()["text_pii_scrub"](spark, sf_dir))
    # regex redaction stays in codegen: no Python evaluation anywhere
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ntz_cast_preserves_pushdown(spark, sf_dir):
    """The timestamp[us]->TIMESTAMP normalization in tables.load_table
    must not block parquet predicate pushdown: Catalyst pushes a
    comparison through cast(ntz as timestamp) under the pinned UTC tz."""
    from ingest_pipeline_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_shipdate") >= "1994-01-01").select(
        "l_orderkey", "l_shipdate"
    )
    plan = _plan(q)
    assert "GreaterThanOrEqual(l_shipdate" in plan.split("PushedFilters: [")[1]


def test_repetition_and_substring_windows_no_pairwise(spark, sf_dir):
    for name in ("text_repetition_scores", "dedup_substring_windows"):
        plan = _plan(queries()[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "partial_count" in plan, name


# BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side is
# deliberately tiny (1-row thresholds/census totals, a rules/keyword
# table, the ANN brute-force baseline's query side). Everything else
# must plan hash/sort-merge equi-joins.
BNLJ_BY_DESIGN = {
    "corpus_mix_rebalance",     # 1-row corpus-total crossJoin
    "dedup_corpus_clean",       # 1-row census crossJoin
    "join_contains_keywords",   # J9: contains() against broadcast keyword list
    "q11_important_parts",      # broadcast 1-row threshold
    "q22_idle_rich_customers",  # broadcast 1-row avg-balance threshold
    "reorganize_plan",          # broadcast tiny plan table
    "rules_join_routing",       # P11: broadcast rules table, rlike condition
    "similarity_topk",          # exact baseline: broadcast query vectors
    "embedding_binary_hamming_topk",  # broadcast 10-row query words +
                                # query vectors; exact branch is the
                                # audited brute baseline
    "search_maxsim_late_interaction",  # broadcast 32-row query-token
                                # bag (8 queries x 4 tokens), id<>id
                                # pred — the cosine_topk baseline shape
    "tfidf_top_terms",          # broadcast 1-row corpus doc count
    "mine_hard_negatives",      # broadcast query vectors, label<>label pred
    "stats_chi2_independence",  # broadcast 1-row N total + 1-row dims
    "zorder_locality_stats",    # broadcast 1-row min/max stats
    "customer_rfm_segments",    # broadcast 1-row corpus max date
    "sketch_hll_set_algebra",   # broadcast 1-row exact-intersection count
    "pareto_revenue_concentration",  # broadcast 1-row total-revenue row
    "search_bm25_topk",         # broadcast 1-row corpus stats
    "search_rocchio_expansion",  # broadcast 1-row corpus stats (both BM25 passes)
    "join_size_audit",          # broadcast 1-row hottest-key row
    "sessions_peak_concurrency",  # broadcast 1-row session count
    "text_pmi_collocations",    # broadcast 1-row unigram/bigram totals
    "sessions_maintenance_overlap",  # broadcast ~days-sized window list
    "orders_backlog_aging",     # broadcast 1-row anchor date
    "orders_price_decile_stats",  # global_ntile's broadcast 1-row total
    "corpus_mix_temperature",  # broadcast 1-row total-token count
    "graph_modularity_brand",  # broadcast 1-row total-edge count
    "basket_association_rules",  # broadcast 1-row basket total
    "embedding_top_component",  # broadcast 1-row n / norm / Rayleigh scalars
    "sketch_join_size_estimate",  # broadcast 1-row est x exact pairs
    "parts_abc_classification",  # broadcast 1-row total revenue
    "graph_lpa_communities",  # broadcast 1-row total-edge count
    "supplier_topsis_ranking",  # broadcast 1-row norms + ideal points
    "sample_stratified_neyman",  # broadcast 1-row allocation denominator
    "sketch_hll_rolling_users",  # broadcast ~days spine over register rows
    "text_bigram_perplexity",   # broadcast 1-row vocabulary size
    "stats_linear_trend",       # broadcast 1-row corpus-min epoch
    "quantiles_histogram_estimate",  # broadcast 1-row lo/hi/n stats
    "graph_triangle_count",     # broadcast 1-row edge/triangle totals
    "similarity_ann_recall",    # brute-force exact side broadcasts the
                                # 15-query set (the audited baseline);
                                # the LSH side is a bucket equi-join
    "compliance_delete_cascade",  # broadcast 1-row per-table totals
    "orders_seasonal_index",    # broadcast 1-row grand-total average
    "orders_benford_digit_audit",  # broadcast 1-row digit grand total
    "text_vocab_coverage",      # broadcast 1-row total + 5-row thresholds
    "survival_customer_churn",  # broadcast 1-row corpus max date
    "linkage_surprisal_pairs",  # broadcast 1-row doc total
    "text_source_kl_divergence",  # broadcast bounded source dim + 1-row scalars
    "stats_ks_two_sample",      # broadcast 1-row sample totals
    "quantiles_exact_global",   # broadcast 3-row rational-quantile table
    "experiment_cuped_adjustment",  # broadcast 1-row pooled co-moments
    "dedup_lsh_quality_audit",  # broadcast three 1-row pair counts
    "docs_quantile_normalize",  # broadcast 1-row pooled count
    "stats_anova_oneway",       # broadcast 1-row grand co-moments
    "graph_degree_assortativity",  # broadcast 1-row node count
    "customer_lorenz_curve",    # global_ntile's broadcast 1-row total
    "stats_kendall_tau",        # BNLJ_BY_DESIGN: distinct-cell self-join;
                                # ≤550 bound is a DOMAIN property of the
                                # quantity×discount grid (see docstring)
    "orders_runs_test",         # broadcast 1-row median row
    "search_rrf_fusion",        # broadcast 1-row query vector + BM25's
                                # 1-row corpus stats (branch reused)
    "stats_bootstrap_ci",       # broadcast 1-row day count + 1-row
                                # lo/hi/moment frames
    "stats_theil_sen",          # windowed day-pair self-join: bounded by
                                # |date domain| x 60 (gap cap), plus the
                                # broadcast 1-row median-position frame
    "similarity_recall_probe_curve",  # broadcast 15-query exact side
                                # (ann_recall's shape)
    "embedding_matryoshka_agreement",  # broadcast 20-probe vector set,
                                # id<>query_id pred (similarity_topk's
                                # shape; r11 whole-vector rewrite)
    "embedding_drift_cells",    # broadcast 1-row snapshot totals
    "shard_rendezvous_stability",  # broadcast 1-row count/occupancy rows
    "stats_permutation_test",   # broadcast 1-row sizes/obs/count frames
    "dedup_span_coverage_audit",  # broadcast 1-row occurrence grand total
    "stats_benjamini_hochberg",  # broadcast 1-row m + 1-row kmax scalars
    "corpus_token_budget_allocation",  # broadcast 1-row budget scalar
}


# A Window with an EMPTY partition spec executes in ONE task (all rows
# shuffle to a single reducer) — acceptable ONLY when its input is
# provably not data-proportional:
#   - ordered by __prefix_pid: the per-partition-totals window inside
#     operators/prefix.py (≤ shuffle-partitions rows, cluster-sized);
#   - the plan carries TakeOrderedAndProject / WindowGroupLimit: the
#     limit was pushed below the window, bounding its input to
#     k × partitions rows (global top-k pattern);
#   - allow-listed here with the documented tiny input.
GLOBAL_WINDOW_BY_DESIGN = {
    "report_yoy_growth",  # monthly series: rows = months in corpus (~84)
    "customer_lorenz_curve",  # cumulative pass over the 10 decile rows
    "orders_runs_test",  # daily series: rows = distinct days (~2.4k, fixed date domain)
    "search_rrf_fusion",  # final rank over the fused ≤40-row (two top-20 lists) relation
    "stats_bootstrap_ci",  # day-rank over ~2.4k fixed date domain + rank over the 200 replicate means
    "corpus_heaps_curve",  # cumulative pass over the 10 decile rows
    "stats_benjamini_hochberg",  # rank over |sources| x |langs| cells (domain bound)
    "corpus_token_budget_allocation",  # rank + prefix over |sources| rows
}


def _global_windows(plan: str) -> list[str]:
    """Window nodes with an empty partition spec (first arg of
    windowspecdefinition is an ORDER col — has an ASC/DESC marker —
    rather than a bare partition col)."""
    hits = []
    for ln in plan.splitlines():
        if "windowspecdefinition(" not in ln or "WindowGroupLimit" in ln:
            continue
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        if " ASC" in first or " DESC" in first:
            hits.append(first.strip())
    return hits


def test_no_query_plans_cartesian_or_slow_udf(spark, sf_dir):
    """Fleet-wide plan gate: no cartesian products, no row-at-a-time
    Python UDFs (BatchEvalPython), BNLJ only where a tiny broadcast
    side is the documented design, and no single-task global window
    over data-proportional input.  Both allow-lists also fail the
    other way: an entry whose query no longer plans its node is
    stale and must be pruned."""
    from ingest_pipeline_spark.queries import oracle_sql  # noqa: F401

    offenders = {
        name: ["allow-listed but not registered"]
        for name in (BNLJ_BY_DESIGN | GLOBAL_WINDOW_BY_DESIGN) - set(queries())
    }
    for name, fn in sorted(queries().items()):
        plan = _plan(fn(spark, sf_dir))
        marks = [
            m
            for m in ("CartesianProduct", "BatchEvalPython")
            if m in plan
        ]
        bnlj = "BroadcastNestedLoopJoin" in plan
        if bnlj != (name in BNLJ_BY_DESIGN):
            marks.append(
                "BroadcastNestedLoopJoin" if bnlj else "stale BNLJ_BY_DESIGN entry"
            )
        gw = [
            g
            for g in _global_windows(plan)
            if "__prefix_pid" not in g
        ]
        if name in GLOBAL_WINDOW_BY_DESIGN and not gw:
            marks.append("stale GLOBAL_WINDOW_BY_DESIGN entry")
        if (
            gw
            and name not in GLOBAL_WINDOW_BY_DESIGN
            and "TakeOrderedAndProject" not in plan
            and "WindowGroupLimit" not in plan
        ):
            marks.append(f"global Window over {gw[0]}")
        if marks:
            offenders[name] = marks
    assert not offenders, f"scale-hostile plan nodes: {offenders}"


def test_late_arrival_audit_uses_prefix_scan(spark, sf_dir):
    """The high-water mark must run through the two-phase prefix scan:
    every empty-partition window in the plan is the __prefix_pid
    offsets pass, never a data-proportional global running max."""
    plan = _plan(queries()["events_late_arrival_audit"](spark, sf_dir))
    gw = _global_windows(plan)
    assert gw and all("__prefix_pid" in g for g in gw), gw


def test_line_dedup_line_projection_is_shuffle_free(spark, sf_dir):
    """corpus_line_dedup's pseudo-line expansion is row-local: exactly
    two hash exchanges (first-occurrence MIN agg + doc regroup) plus
    the join, no exchange before the generator."""
    plan = _plan(queries()["corpus_line_dedup"](spark, sf_dir))
    gen = [ln for ln in plan.splitlines() if "Generate" in ln]
    assert gen, "line explode missing"
    assert "BatchEvalPython" not in plan


def test_dsir_bucket_models_broadcast(spark, sf_dir):
    """corpus_dsir_selection's selection must be an ordered LIMIT
    (TakeOrderedAndProject), never a global rank window, and the
    per-source census join against the 100-row selection must
    broadcast (the bucket-LM broadcast sits above the lw checkpoint
    and is covered by the fleet-wide window/cartesian gate)."""
    plan = _plan(queries()["corpus_dsir_selection"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan, "selection census not broadcast"
    assert not _global_windows(plan)


def test_cdc_boundary_stage_is_row_local_arrow(spark, sf_dir):
    """dedup_cdc_chunks' boundary detection + chunk assembly are
    row-local (ONE Arrow batch stage, never a row-at-a-time Python
    UDF, never an empty-partition window), and the only
    data-proportional exchange left is the digest window — the char
    explode + doc-keyed LEAD window shape it replaced paid 4."""
    plan = _plan(queries()["dedup_cdc_chunks"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    def _nodes(prefix: str) -> list[str]:
        return [
            ln
            for ln in plan.splitlines()
            if ln.lstrip(" +-*:(0123456789)").startswith(prefix)
        ]
    arrow = _nodes("ArrowEvalPython")
    assert len(arrow) == 1, f"cut detection not fused: {arrow}"
    assert not _global_windows(plan), "CDC must not plan a global window"
    # digest window + final source agg + the _spread fan-out: the
    # doc-keyed boundary/assembly exchanges are gone
    exchanges = _nodes("Exchange")
    assert len(exchanges) <= 3, exchanges


def test_rocchio_second_pass_reuses_checkpointed_postings(spark, sf_dir):
    """search_rocchio_expansion's two BM25 passes must both read the
    ONE checkpointed (doc, term) postings relation — the plan shows
    scans of the checkpoint, not two full re-tokenizations."""
    plan = _plan(queries()["search_rocchio_expansion"](spark, sf_dir))
    assert "Scan ExistingRDD" in plan, "postings checkpoint missing"
