"""Physical-plan contracts: the properties that make operators scale are
plan shapes, and a refactor must not silently lose them."""

import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators.knn import knn_exact
from homemade_vector_db_spark.plans.explain import (
    has_operator,
    has_pushed_filter,
    physical_plan,
)
from homemade_vector_db_spark import queries as Q
from homemade_vector_db_spark.sources.tables import load_documents, load_embeddings
from tests.conftest import SF_SMOKE


@pytest.fixture(autouse=True)
def fresh_scans(spark):
    # other modules cache() the same parquet tables; the CacheManager then
    # rewrites matching plan subtrees to InMemoryTableScan, hiding the
    # parquet PushedFilters/ReadSchema these tests assert on
    spark.catalog.clearCache()
    yield


def test_meta_conditions_pushdown(spark):
    df = Q.q_meta_conditions(spark, SF_SMOKE)
    # conjunctive equality must reach the parquet reader
    assert has_pushed_filter(df, "EqualTo(lang,en)")
    assert has_pushed_filter(df, "EqualTo(source,src7)")


def test_knn_prefilter_pushdown(spark):
    df = Q.q_knn_prefilter(spark, SF_SMOKE)
    assert has_pushed_filter(df, "EqualTo(label,3)")


def test_knn_topk_avoids_full_sort(spark):
    embs = load_embeddings(spark, SF_SMOKE)
    df = knn_exact(embs, [0.0] * 64, k=10)
    # ORDER BY+LIMIT must plan as TakeOrderedAndProject (partition-local
    # heaps + driver merge), never a global Sort
    assert has_operator(df, "TakeOrderedAndProject")


def test_point_lookup_pushdown(spark):
    df = Q.q_point_lookup(spark, SF_SMOKE)
    assert has_pushed_filter(df, "EqualTo(doc_id,42)")


def test_top_customers_broadcasts_dim(spark):
    df = Q.q_top_customers(spark, SF_SMOKE)
    assert has_operator(df, "BroadcastHashJoin")


def test_scan_prunes_columns(spark):
    docs = load_documents(spark, SF_SMOKE).select("doc_id")
    plan = physical_plan(docs)
    # projecting one column must not read the text column
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("text" not in l for l in scan_lines)


def test_bm25_query_scoring_broadcasts_query_terms(spark):
    df = Q.q_bm25_topk(spark, SF_SMOKE)
    # query terms join against postings must be broadcast, not shuffled
    assert has_operator(df, "BroadcastHashJoin")
    assert has_operator(df, "TakeOrderedAndProject")


def test_whole_stage_codegen_on_distance_kernel(spark):
    from homemade_vector_db_spark.plans.explain import codegen_operators

    embs = load_embeddings(spark, SF_SMOKE)
    # fixed-dim kernel (dim known) must keep the scoring Project inside
    # whole-stage codegen; the HOF fold is CodegenFallback and must not be
    # reintroduced on this path
    df = knn_exact(embs, [0.0] * 64, k=5)
    assert "Project" in codegen_operators(df)


def test_top_orders_q3_topk_and_pruning(spark):
    df = Q.q_top_orders_q3(spark, SF_SMOKE)
    # top-10 must be a heap merge, not a global sort of the aggregate
    assert has_operator(df, "TakeOrderedAndProject")
    # lineitem scan must be pruned to the 3 needed columns (the wide
    # columns can only come from the lineitem scan, so absence from the
    # whole plan proves pruning)
    plan = physical_plan(df)
    assert "lineitem.parquet" in plan
    assert "l_comment" not in plan and "l_shipmode" not in plan


def test_cube_single_expand_no_multi_scan(spark):
    df = Q.q_cube_pricing(spark, SF_SMOKE)
    import re

    plan = physical_plan(df)
    # CUBE = one Expand over one scan, not 4 separate scans (each physical
    # scan gets exactly one "(n) Scan parquet" detail block)
    assert plan.count("Expand") >= 1
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_sessionize_single_shuffle_for_both_windows(spark):
    df = Q.q_sessionize(spark, SF_SMOKE)
    plan = physical_plan(df)
    # lag + running-sum share the user_id partitioning: exactly one
    # exchange below the final (ordered) output
    body = plan.split("AdaptiveSparkPlan")[0] + plan
    n_exchanges = body.count("Exchange hashpartitioning(user_id")
    assert n_exchanges <= 1, plan


def test_orders_above_avg_broadcasts_scalar(spark):
    df = Q.q_orders_above_avg(spark, SF_SMOKE)
    assert has_operator(df, "BroadcastNestedLoopJoin") or has_operator(
        df, "BroadcastExchange"
    )
    assert has_operator(df, "TakeOrderedAndProject")


def test_grouping_sets_single_expand_no_multi_scan(spark):
    df = Q.q_grouping_sets_pricing(spark, SF_SMOKE)
    import re

    plan = physical_plan(df)
    # GROUPING SETS = one Expand over one scan + one partial-agg shuffle,
    # not two separate GROUP BY scans of lineitem
    assert plan.count("Expand") >= 1
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_hash_sample_filter_in_codegen(spark):
    df = Q.q_hash_sample_docs(spark, SF_SMOKE)
    plan = physical_plan(df)
    # sampling predicate is pure int64 arithmetic: must stay a codegen
    # Filter (no BatchEvalPython / python UDF stage in the plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Filter" in plan


def test_corpus_prep_fused_gates_two_shuffles(spark):
    df = Q.q_corpus_prep(spark, SF_SMOKE)
    plan = physical_plan(df)
    # lang/quality gates + fingerprint are pure column exprs — no Python
    # workers anywhere in the pipeline
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly the two intended exchanges: fp dedup + per-source rollup
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_regional_supplier_volume_broadcasts_dims(spark):
    df = Q.q_regional_supplier_volume(spark, SF_SMOKE)
    plan = physical_plan(df)
    # region→nation and nation→supplier ride broadcasts; only the fact
    # joins may shuffle
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_late_orders_plans_semi_join(spark):
    df = Q.q_late_orders_by_priority(spark, SF_SMOKE)
    plan = physical_plan(df)
    # EXISTS must stay a semi join (no duplicate-inflating inner join +
    # distinct)
    assert "LeftSemi" in plan, plan


def test_loaded_ivf_probe_is_partition_pruning(spark, tmp_path_factory):
    from homemade_vector_db_spark.operators import ann, tier
    from homemade_vector_db_spark.sources.tables import load_embeddings

    embs = load_embeddings(spark, SF_SMOKE)
    idx = ann.build_ivf(embs, nlist=8, cache=False)
    root = str(tmp_path_factory.mktemp("ivfplan") / "idx")
    tier.save_index(idx, root)
    idx2 = tier.load_index(spark, root)
    q = [0.0] * 64
    plan = physical_plan(ann.ivf_search(idx2, q, k=5, nprobe=2))
    # the nprobe cell filter must hit the cluster-partitioned parquet as
    # PartitionFilters (directory pruning), not a row-level filter scan
    assert "PartitionFilters: [cluster" in plan or "PartitionFilters: [isnotnull(cluster" in plan, plan


def test_brand_quantity_disjunction_pushes_to_both_scans(spark):
    df = Q.q_brand_quantity_revenue(spark, SF_SMOKE)
    plan = physical_plan(df)
    # Catalyst must extract the per-side OR terms and push them into the
    # parquet readers (Q19's planner feature)
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan, plan
    assert "Or(Or(And(EqualTo(p_brand,Brand#12)" in plan, plan


def test_cosine_neardup_no_cartesian_product(spark):
    """Round-2 contract: the registered cosine near-dup path must be the
    BLAS-blocked mapInPandas form — no O(n²) join operator anywhere."""
    df = Q.q_cosine_neardup(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_contamination_no_self_join_quadratic(spark):
    """Round-2 contract: contamination is the linear multi-source-flagging
    shape — one SortMergeJoin/ShuffledHashJoin on the shingle key at most
    (postings × qualifying shingles), never a shingle×shingle self-join
    with a non-equi source predicate riding it."""
    df = Q.q_cross_source_contamination(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    # the old self-join form carried `a.source != b.source` inside a join
    # condition; the linear form joins on the shingle key alone
    join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln and "shingle" in ln
    ]
    assert all("source" not in ln for ln in join_lines), join_lines


def test_token_chunks_broadcast_vocab_single_regroup(spark):
    """Chunk generation is map-only; the round-4 BPE measure adds exactly
    one hashpartitioning exchange (the (doc_id, chunk_idx) regroup) and
    the vocabulary lookup must be a BROADCAST join — a shuffle join on
    `word` would re-key corpus-scale rows on a Zipfian token key."""
    df = Q.q_token_chunks(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert plan.count("hashpartitioning(") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan  # map-side combine before the exchange


def test_repetition_stats_single_postings_shuffle(spark):
    """One postings shuffle (doc_id,t) + the stats/bigram join — no
    Python workers, everything whole-stage codegen."""
    df = Q.q_repetition_stats(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_simhash_bands_scale_with_radius(spark):
    """Band count must track the advertised radius (pigeonhole
    completeness): radius r explodes into r+1 band rows per doc."""
    from homemade_vector_db_spark.operators import dedup

    docs = load_documents(spark, SF_SMOKE).limit(10)
    for radius in (2, 6):
        pairs = dedup.simhash_pairs(docs, max_hamming=radius)
        plan = physical_plan(pairs)
        # the posexplode array literal has radius+1 entries; cheap proxy:
        # shiftright appears once per band in the projection
        assert plan.count("shiftright") >= radius + 1, (radius, plan)


def test_truncated_rerank_two_stage_topk(spark):
    """Both stages plan as TakeOrderedAndProject (no full sorts), and the
    full-dim kernel runs above the pool limit, not against the scan."""
    df = Q.q_truncated_rerank_topk(spark, SF_SMOKE)
    plan = physical_plan(df)
    # tree section lists each operator once as "TakeOrderedAndProject (n)"
    import re

    assert len(re.findall(r"TakeOrderedAndProject \(\d+\)", plan)) == 2, plan
    assert "Sort " not in plan, plan


def test_q7_trade_nation_dims_broadcast_prefiltered(spark):
    # both nation legs broadcast, and the IN-pair filter reaches each
    # nation scan (the disjunctive cross-leg predicate itself can't push)
    df = Q.q_nation_trade_volume(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert has_pushed_filter(df, "n_name"), plan


def test_q18_preaggregates_before_join(spark):
    # the lineitem HAVING-aggregation must sit BELOW the orders join
    # (aggregate first, then join the small survivor set), and the top-N
    # is a TakeOrderedAndProject, not a global Sort
    df = Q.q_large_quantity_orders(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1


def test_q6_whole_where_clause_pushes_to_scan(spark):
    # every Q6 predicate is a plain column comparison: all three must
    # reach the parquet reader so row-group stats prune at 100 TB
    df = Q.q_forecast_revenue(spark, SF_SMOKE)
    assert has_pushed_filter(df, "l_shipdate"), physical_plan(df)
    assert has_pushed_filter(df, "LessThan(l_quantity,24.0)"), physical_plan(df)
    assert has_pushed_filter(df, "l_discount"), physical_plan(df)


def test_q10_filters_below_join_topk_no_sort(spark):
    # returnflag prunes lineitem and the quarter prunes orders BEFORE the
    # join; the top-20 is partition-local heaps, never a global Sort
    df = Q.q_returned_item_revenue(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert has_pushed_filter(df, "EqualTo(l_returnflag,R)"), plan
    assert has_pushed_filter(df, "o_orderdate"), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q15_scalar_max_broadcast_not_second_shuffle(spark):
    # the max(total_revenue) comparison must arrive as a broadcast join
    # (1-row relation), not re-shuffle the revenue view
    df = Q.q_top_supplier(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_q13_left_outer_keeps_zero_order_customers(spark):
    # the ON-clause extra predicate must NOT degrade the left outer join
    # into an inner join: every customer contributes exactly one row to
    # the distribution (zero-order customers land in the c_count=0 cell
    # when present; at smoke scale every customer has orders, so the
    # invariant checked is count preservation + join type)
    from homemade_vector_db_spark.sources.tables import load_table

    df = Q.q_customer_order_counts(spark, SF_SMOKE)
    assert "LeftOuter" in physical_plan(df)
    total = sum(r["custdist"] for r in df.collect())
    n_cust = load_table(spark, SF_SMOKE, "customer").count()
    assert total == n_cust


def test_q2_min_cost_no_second_fact_shuffle(spark):
    # the per-part min must not re-shuffle the cost relation: either the
    # cost exchange is reused for the min aggregate (ReusedExchange) or
    # the 1-row-per-part min side arrives as a broadcast; and at most the
    # cost groupBy + min rejoin hashpartitioning exchanges exist
    df = Q.q_min_cost_supplier(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "ReusedExchange" in plan or "BroadcastHashJoin" in plan, plan
    tree_hash_exchanges = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith(("+-", ":-", "Exchange"))
        and "Exchange hashpartitioning" in line
        and "Reused" not in line
    )
    assert tree_hash_exchanges <= 2, plan


def test_bigram_lm_stays_jvm_side(spark):
    # bigram extraction + LM scoring are codegen'd transforms/aggs — a
    # Python worker anywhere here would dominate cost at 100 TB
    df = Q.q_bigram_logprob(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_benchmark_decontam_no_cartesian(spark):
    # the flagging join must be an equi-join on the shingle hash (semi
    # against the distinct benchmark side), never a cross product
    df = Q.q_benchmark_decontam(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rrf_rank_windows_over_candidates_only(spark):
    # each leg is a TakeOrderedAndProject BEFORE its rank window: the
    # window input is ≤ RRF_CANDIDATES rows, never the corpus
    df = Q.q_rrf_fusion(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "Window" in plan, plan


def test_q11_single_fact_scan_via_materialized_agg(spark):
    # the per-part aggregate feeds both the rows and the global cut:
    # lineitem must be scanned once (cached aggregate), and the cut must
    # arrive as a broadcast, not a shuffle
    df = Q.q_important_parts(spark, SF_SMOKE)
    df.collect()  # populate the persisted aggregate
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") <= 1, plan
    assert "InMemoryTableScan" in plan, plan


def test_q16_not_in_plans_as_anti_join(spark):
    df = Q.q_supplier_part_counts(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan


def test_q20_nested_semi_chain(spark):
    # both reductive subqueries stay semi joins: no duplicate inflation +
    # distinct anywhere in the chain
    df = Q.q_promo_part_suppliers(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert has_pushed_filter(df, "l_shipdate"), plan


def test_gopher_rules_no_shuffle(spark):
    # pure per-row codegen filter: zero exchanges before the ordered output
    df = Q.q_gopher_rules(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_dup_span_stats_two_hash_shuffles_no_pair_join(spark):
    # one shuffle on the span hash (dup detection), one on doc_id
    # (interval union + join back); NEVER a cartesian/pairwise join
    df = Q.q_dup_span_stats(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bloom_gate_broadcasts_bitmap_no_cartesian_blowup(spark):
    # the 1-row bitmap attaches via BroadcastNestedLoopJoin (constant-size
    # broadcast); the only other join is the exact-verify shingle join —
    # no CartesianProduct anywhere
    df = Q.q_bloom_decontam_check(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_corpus_prep_shuffles_less_than_text_volume(spark):
    """The flagship's docstring claims text never enters a shuffle (only
    the fingerprint + profile rows do). Assert it on executed metrics:
    total shuffle bytes stay under half the corpus text volume."""
    from homemade_vector_db_spark.plans.explain import executed_shuffle_stats
    from homemade_vector_db_spark.sources.tables import load_documents

    text_bytes = (
        load_documents(spark, SF_SMOKE)
        .agg(F.sum(F.length("text")).alias("b"))
        .collect()[0]["b"]
    )
    got_bytes, _ = executed_shuffle_stats(Q.q_corpus_prep(spark, SF_SMOKE))
    assert 0 < got_bytes < 0.5 * text_bytes, (got_bytes, text_bytes)


def test_sessionize_shuffles_each_event_once(spark):
    """One user_id exchange for both window functions: shuffle RECORD
    count equals the input event count — each event crosses the wire
    exactly once, not once per window."""
    from homemade_vector_db_spark.plans.explain import executed_shuffle_details
    from homemade_vector_db_spark.sources.tables import load_table

    n_events = load_table(spark, SF_SMOKE, "events").count()
    details = executed_shuffle_details(Q.q_sessionize(spark, SF_SMOKE))
    hash_records = sum(
        d["records"] for d in details if "hashpartitioning" in d["partitioning"]
    )
    assert hash_records == n_events, (details, n_events)


def test_funnel_recursion_executes_as_union_loop(spark):
    # Spark 4 recursive CTE → UnionLoop operator (bounded by the hop
    # budget in the recursion predicate), not an unrolled N-way union
    plan = physical_plan(Q.q_funnel_paths_sql(spark, SF_SMOKE))
    assert "UnionLoop" in plan, plan


def test_lateral_top1_decorrelates_to_window_join(spark):
    # the correlated LATERAL ... ORDER BY ... LIMIT 1 must decorrelate
    # into a window/aggregate + one join — never per-outer-row
    # re-execution (no CartesianProduct / nested-loop over orders)
    plan = physical_plan(Q.q_latest_order_lateral(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_maxsim_grouped_one_shuffle_and_equals_fused(spark):
    """The variable-length MaxSim decomposition shuffles exactly once
    (vec_id partial-agg) and returns bit-identical rows to the fused
    zero-shuffle codegen form — the two plans are interchangeable."""
    from homemade_vector_db_spark import queries as Q
    from homemade_vector_db_spark.plans.explain import count_exchanges

    sf = "/root/testdata/sf0.001"
    grouped = Q.q_maxsim_grouped(spark, sf)
    assert count_exchanges(grouped) <= 1, grouped._jdf.queryExecution().toString()
    assert [tuple(r) for r in grouped.collect()] == [
        tuple(r) for r in Q.q_maxsim_topk(spark, sf).collect()
    ]


def test_no_codegen_fallback_on_literal_kernels(spark):
    """Every registered literal-kernel query must COMPILE under whole-stage
    codegen. Janino caps a generated method at 64 KB of bytecode; an
    oversized kernel makes Spark silently fall back to interpreted
    evaluation (correct answers, whole-scan slowdown — the worst failure
    mode at 100 TB because nothing fails). `spark.sql.codegen.fallback=
    false` turns that silent fallback into an exception, which is the
    contract this test pins. The 16×64 PCA projection used to be the
    offender; it now dispatches to the Arrow gemm tier (see
    operators/pca.py:CODEGEN_MAX_TERMS)."""
    from homemade_vector_db_spark.operators import pca as pcamod

    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in [
            "knn_exact",        # squared-L2 literal kernel
            "cosine_topk",      # cosine literal kernel
            "mips_topk",        # inner-product literal kernel
            "radius_search",    # literal kernel + codegen filter
            "maxsim_topk",      # parts² dots + greatest() fused kernel
            "sq_topk",          # SQ8 ADC lookup kernel
            "bq_topk",          # bit-pack + Hamming popcount kernel
            "truncated_rerank_topk",  # 16-dim shortlist + 64-dim rerank
            "pca_check",        # wide PCA → must route to the Arrow tier
        ]:
            Q.registry()[name](spark, SF_SMOKE).collect()
        # PQ asymmetric-distance LUT kernel (folded out of the registry
        # into ivfpq_recall/pq_recall; exercise the operator directly)
        Q.q_pq_topk(spark, SF_SMOKE).collect()
        Q.q_ivfpq_topk(spark, SF_SMOKE).collect()
        # the codegen tier itself compiles at its width bound (8×64=512)
        embs = load_embeddings(spark, SF_SMOKE)
        mean, comps = pcamod.fit_pca(embs, dim_in=64, dim_out=8)
        assert comps.shape[0] * comps.shape[1] <= pcamod.CODEGEN_MAX_TERMS
        pcamod._project_codegen(embs, mean, comps, "embedding", "proj") \
            .limit(5).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_wide_pca_projection_uses_arrow_tier(spark):
    """Above CODEGEN_MAX_TERMS the projection must plan as one
    ArrowEvalPython (batched gemm), never an interpreted 1024-term
    expression; below, it must stay a codegen Project with no Python."""
    from homemade_vector_db_spark.operators import pca as pcamod

    embs = load_embeddings(spark, SF_SMOKE)
    mean, comps = pcamod.fit_pca(embs, dim_in=64, dim_out=16)
    wide = pcamod.project(embs, mean, comps)
    assert has_operator(wide, "ArrowEvalPython")
    mean8, comps8 = pcamod.fit_pca(embs, dim_in=64, dim_out=8)
    narrow = pcamod.project(embs, mean8, comps8)
    assert not has_operator(narrow, "ArrowEvalPython")


def test_token_count_bpe_broadcast_vocab(spark):
    """The BPE vocabulary lookup must broadcast (corpus-scale rows never
    re-key on the Zipfian `word`); per-doc sum is map-side combined."""
    df = Q.q_token_count_bpe(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan


def test_bpe_stats_broadcast_vocab_no_python_rows(spark):
    """bpe_stats: vocabulary join broadcast; no Python evaluator touches
    corpus-scale rows (the only Python in the lineage is the vocab-sized
    mapInPandas inside the derived-state build, which is materialized to
    parquet before this plan runs)."""
    df = Q.q_bpe_stats(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_phash_neardup_bucket_join_not_all_pairs(spark):
    """Round-7 contract: perceptual-hash dedup must candidate-generate
    through the (band_idx, band_val) equi-join — never a cartesian/
    nested-loop all-pairs, and the Hamming verify must be JVM-side
    (bit_count), not Python."""
    from homemade_vector_db_spark.operators.multimodal import phash_neardup

    hashes = spark.createDataFrame(
        [(i, i * 7919) for i in range(50)], "media_id long, phash long"
    )
    plan = physical_plan(phash_neardup(hashes))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "bit_count" in plan, plan
    assert "band_idx" in plan and "band_val" in plan, plan
    # verification never leaves the JVM (no Python eval operator; the
    # fixture's createDataFrame scan string mentions Python harmlessly)
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_embedding_drift_broadcasts_global_centroid(spark):
    """Round-7 contract: the global centroid (dim rows) is broadcast
    into the per-label join — the only real shuffles are the (label,
    dim) partial aggs; no cartesian anywhere."""
    df = Q.q_embedding_drift(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_video_neardup_hash_bucket_join_not_all_pairs(spark):
    """Round-7 contract: video dedup candidate-generates through the
    frame-hash equality join — never cartesian/nested-loop — and the
    Jaccard decision is JVM-side arithmetic on aggregated counts, not
    Python."""
    from homemade_vector_db_spark.operators.multimodal import video_neardup

    frames = spark.createDataFrame(
        [(i, j, (i // 3) * 100 + j) for i in range(12) for j in range(4)],
        "media_id long, frame_idx int, phash long",
    )
    plan = physical_plan(video_neardup(frames, min_jaccard=0.8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_hard_negatives_local_topk_shape(spark):
    """Round-7 contract: the corpus is scanned ONCE through the
    Arrow-batched local-top-k kernel; the only shuffle after it feeds
    the per-anchor window (WindowGroupLimit pushes the rank filter
    down), and there is no join against the anchor relation at all."""
    from homemade_vector_db_spark.operators.knn import hard_negatives

    emb = load_embeddings(spark, SF_SMOKE)
    anchors = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"), "label", "embedding"
    )
    plan = physical_plan(hard_negatives(emb, anchors, k=2))
    # formatted mode lists each operator twice (tree + detail section):
    # exactly ONE MapInPandas kernel => exactly 2 mentions
    assert plan.count("MapInPandas") == 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan, plan  # anchors ship inside the kernel
    assert "CartesianProduct" not in plan, plan


def test_knn_join_plan_cogroup_tiles_and_windowgrouplimit(spark):
    """Round-9 contract: the distributed kNN join must be the cogrouped
    block-matrix form — generator-explode replication (never a
    materialized cross product), one FlatMapCoGroupsInPandas kernel, and
    WindowGroupLimit pushing the partial top-k below the final merge."""
    df = Q.q_knn_join_topk(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "Generate" in plan, plan  # explode replication is a generator
    assert "WindowGroupLimit" in plan, plan


def test_bm25_rerank_broadcast_pool_and_topk(spark):
    """Retrieve-then-rerank contract: the 50-candidate pool must reach
    the dense stage as the broadcast side of a hash join (full-dim
    arithmetic touches 50 rows regardless of corpus size), and the
    final cut is a TakeOrderedAndProject, never a global sort."""
    df = Q.q_bm25_rerank_topk(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_fuzzy_term_search_broadcasts_matched_terms(spark):
    """The fuzzy-match relation (vocabulary-sized) must reach the postings
    join as the broadcast side; no cartesian anywhere."""
    plan = physical_plan(Q.q_fuzzy_term_search(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_knn_join_cogroup_no_cartesian(spark):
    """The distributed kNN join's replication is a generator explode +
    cogroup, never a cartesian product; the final per-query cut is a
    window group limit (partial top-k below the exchange)."""
    embs = load_embeddings(spark, SF_SMOKE)
    qs = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from homemade_vector_db_spark.operators.knn import knn_join

    plan = physical_plan(
        knn_join(embs, qs, k=3, corpus_rows_per_block=100, query_rows_per_block=3)
    )
    assert "CartesianProduct" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_padding_waste_broadcasts_powers_relation(spark):
    """The bucket lookup is a broadcast range-join against the 18-row
    powers relation, never a shuffle join or cartesian on the corpus."""
    plan = physical_plan(Q.q_padding_waste(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_rate_monitor_never_shuffles_text(spark):
    """The dup-rate monitor shuffles md5 fingerprints (+ batch ids), not
    document text: no Exchange in the plan carries the text column."""
    plan = physical_plan(Q.q_dedup_rate_by_batch(spark, SF_SMOKE))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_user_similarity_profile_rollup_then_bounded_pair_join(spark):
    """The anchor cut is a TakeOrderedAndProject (per-partition heaps,
    driver merges p·k rows) and the anchor semi-join broadcasts — the
    corpus-sized shuffle is only the (user, event_type) rollup."""
    plan = physical_plan(Q.q_user_similarity(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_snippet_extract_is_scan_side(spark):
    """Round 11: snippets run over the bm25 top-SNIPPET_TOP candidate
    PAGE — the driver-bounded candidate ids must reach the parquet
    scan as a pushed In(doc_id, ...) filter (row-group pruning; the
    O(len·W) window HOF then touches only the result page, never the
    corpus), and the final ordering is a top-N merge. A broadcast-join
    formulation was rejected measured: filters on document columns
    sink below the join and re-run the HOF over every corpus row."""
    df = Q.q_snippet_extract(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    from homemade_vector_db_spark.plans.explain import has_pushed_filter

    assert has_pushed_filter(df, "In(doc_id"), plan


# ---- round-10 entry plan contracts ----


def test_maxsim_token_one_shuffle_topk(spark):
    """Token-level MaxSim plan contract: per-token dots are a codegen
    projection over the token scan; the ONLY exchange is the
    groupBy(doc_id) max rollup (map-side partial max), and the final
    top-k is a heap merge — linear in total tokens at any corpus
    size."""
    df = Q.q_maxsim_token_topk(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange") <= 2, plan  # one shuffle (+AQE read)


def test_maxsim_rerank_pool_is_pushed(spark):
    """The rerank cascade must push the bm25 candidate pool into the
    token-fixture scan as an In(doc_id, ...) filter — the expensive
    late-interaction scoring touches only the pool at any corpus
    size (the snippet_extract discipline)."""
    df = Q.q_maxsim_rerank_topk(spark, SF_SMOKE)
    from homemade_vector_db_spark.plans.explain import has_pushed_filter

    assert has_pushed_filter(df, "In(doc_id"), physical_plan(df)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_term_proximity_window_is_partitioned(spark):
    """The lag window must be partitioned by doc_id (parallel at any
    scale), and the adjacent-pair law means no pair join: no cartesian
    or nested-loop join anywhere in the plan."""
    plan = physical_plan(Q.q_term_proximity_topk(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    import re

    m = re.search(r"Window.*doc_id", plan, re.S)
    assert m is not None, plan


def test_term_burstiness_topk_avoids_full_sort(spark):
    # df-desc top-20 must be TakeOrderedAndProject, not a global Sort
    assert has_operator(
        Q.q_term_burstiness(spark, SF_SMOKE), "TakeOrderedAndProject"
    )


def test_snippet_extract_topk_avoids_full_sort(spark):
    assert has_operator(
        Q.q_snippet_extract(spark, SF_SMOKE), "TakeOrderedAndProject"
    )


def test_doclen_gini_window_is_partitioned(spark):
    # the rank window must be partitioned by source — a global
    # (unpartitioned) window would serialize the corpus through one
    # task at scale
    plan = physical_plan(Q.q_doclen_gini_by_source(spark, SF_SMOKE))
    assert "SinglePartition" not in plan, plan


def test_price_percentiles_window_is_partitioned(spark):
    plan = physical_plan(Q.q_price_percentiles_by_priority(spark, SF_SMOKE))
    assert "SinglePartition" not in plan, plan


def test_contamination_sweep_joins_are_semi(spark):
    # flagging must stay a semi join (bench-shingle membership), never
    # materialize the full pair relation
    plan = physical_plan(Q.q_contamination_sweep(spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan
