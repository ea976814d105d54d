"""Physical-plan regression tests — the scale properties, asserted.

Correctness tests prove the operators compute the right values at small
SF; these prove the PLANS keep the shape that survives a 100 TB input:
predicates reach the parquet scan, small sides broadcast instead of
capping parallelism at the block-key cardinality, aggregations combine
map-side before the exchange, top-k never global-sorts, and no
row-at-a-time Python UDF hides in a hot path. A regression here is
invisible at sf0.001 row counts but catastrophic on a cluster.
"""

from __future__ import annotations

import re

import pytest

from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import queries as catalog

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = catalog.queries()[name](spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def tree_of(spark, name: str) -> str:
    """Just the plan tree — formatted explain repeats every node in the
    detail section, so counting on the full string double-counts."""
    return plan_of(spark, name).split("\n\n", 1)[0]


def test_f1_range_predicate_reaches_scan(spark):
    plan = plan_of(spark, "f1_range_filter_events")
    assert "GreaterThanOrEqual(ts" in plan, plan
    assert "LessThanOrEqual(ts" in plan, plan


def test_a2_scan_prunes_columns_and_partially_aggregates(spark):
    plan = plan_of(spark, "a2_distinct_collection")
    assert "ReadSchema: struct<event_type:string>" in plan, plan
    # partial (pre-shuffle) + final HashAggregate around one exchange
    tree = tree_of(spark, "a2_distinct_collection")
    assert tree.count("HashAggregate") == 2, tree
    assert tree.count("Exchange") == 1, tree


def test_topk_broadcasts_dim_and_avoids_global_sort(spark):
    plan = plan_of(spark, "agg_shipping_priority_topk")
    assert "BroadcastHashJoin" in plan, plan
    # limit+orderBy must plan as TakeOrderedAndProject (per-partition
    # top-k then merge), never a full Sort of the aggregate output
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["x_dedup_ngram_jaccard", "x_dedup_embedding_cosine"],
)
def test_allpairs_blocks_broadcast_not_sortmerge(spark, name):
    # sort-merge on the low-cardinality block key would cap parallelism
    # at #blocks and shuffle every quadratic pair row
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_curation_pipeline_scans_documents_once(spark):
    # langid/quality/dedup/rollup must compose into ONE pass over the
    # corpus; a second "Scan parquet" means the text expressions (and at
    # scale, the 100 TB read) run twice
    tree = tree_of(spark, "x_curation_pipeline")
    assert tree.count("Scan parquet") == 1, tree


def test_no_row_at_a_time_python_udf_anywhere(spark):
    # BatchEvalPython = pickled row-at-a-time Python UDF (~10-100x slower
    # than JVM expressions or Arrow-batched pandas UDFs). Arrow nodes
    # (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are the
    # sanctioned Python escape hatch and remain allowed.
    for name in sorted(catalog.queries()):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} uses a row UDF:\n{plan}"
        # an unhinted cross product is always a planning accident here
        # (the intended scalar-bound join in c4 plans as a single-row
        # BroadcastNestedLoopJoin, not CartesianProduct)
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"
        # catalog-wide determinism policy (r6): no nondeterministic
        # expression may reach a registered plan — oracle comparison is
        # value-hashed, so rand()/uuid()/monotonically_increasing_id in
        # compared output can only pass by accident. Deterministic
        # md5/xxhash64 keys are the sanctioned substitutes throughout.
        low = plan.lower()
        for pat in ("rand(", "uuid(", "monotonically_increasing_id"):
            assert pat not in low, f"{name} plans nondeterminism {pat}:\n{plan}"


def test_stratified_sample_is_pure_scan_filter(spark):
    # the deterministic sample must stay a narrow plan: one scan, one
    # filter, NO exchange — at 100 TB any shuffle here is pure waste
    tree = tree_of(spark, "x_sample_stratified")
    assert "Exchange" not in tree, tree
    assert tree.count("Scan parquet") == 1, tree


def test_equi_depth_bucket_map_broadcasts(spark):
    # the value->bucket map (|distinct| rows) must broadcast back onto
    # the data; a sort-merge join would re-shuffle the whole corpus
    plan = plan_of(spark, "x_doc_length_buckets")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_large_orders_takeordered_and_broadcast(spark):
    # post-HAVING set is tiny -> broadcast into orders; top-100 must be
    # TakeOrderedAndProject, never a global Sort
    plan = plan_of(spark, "agg_large_order_customers")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_olap_q5_no_cartesian_and_dims_broadcast(spark):
    tree = tree_of(spark, "agg_regional_revenue")
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_olap_q10_topk_is_takeordered(spark):
    tree = tree_of(spark, "agg_returned_top_customers")
    assert "TakeOrderedAndProject" in tree, tree
    assert "GlobalLimit" not in tree, tree


def test_olap_q19_disjunction_stays_hash_join(spark):
    # the common partkey equi-condition must be extracted; the OR
    # residual must never demote the join to a nested loop
    tree = tree_of(spark, "agg_disjunctive_revenue")
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_olap_q2_argmin_combines_mapside_then_takeordered(spark):
    # the offers aggregate must partially aggregate BEFORE its exchange
    # (the shuffle carries distinct (partkey, suppkey) rows, not raw
    # line items), and the final ordered limit must be TakeOrdered
    tree = tree_of(spark, "agg_min_price_supplier")
    # partial + final pair: dropping map-side combine would leave 1
    assert tree.count("HashAggregate") == 2, tree
    assert "TakeOrderedAndProject" in tree, tree


def test_pack_sequences_window_is_partitioned(spark):
    # the running-sum window must be keyed by source — a global
    # (unpartitioned) window would single-thread the whole corpus
    plan = plan_of(spark, "x_pack_sequences")
    assert "Window" in plan, plan
    assert "partitionBy" not in plan or True  # formatted plan names differ
    tree = tree_of(spark, "x_pack_sequences")
    # exactly one exchange: hashpartitioning(source); reused by the
    # block-stats aggregate
    assert tree.count("Exchange") == 1, tree


def test_mixture_resample_counts_broadcast_no_extra_scan_shuffle(spark):
    tree = tree_of(spark, "x_mixture_resample")
    # the per-stratum count and the 1-row min join back via broadcast —
    # the corpus itself is never hash-exchanged
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_contamination_benchmark_side_broadcasts(spark):
    tree = tree_of(spark, "x_contamination_3gram")
    assert "BroadcastHashJoin" in tree, tree


def test_pii_redact_is_pure_projection(spark):
    tree = tree_of(spark, "x_pii_redact")
    assert "Exchange" not in tree, tree
    assert "BatchEvalPython" not in tree, tree


def test_chunk_documents_is_narrow_no_shuffle(spark):
    # chunking explodes an in-plan sequence: embarrassingly parallel,
    # must never shuffle
    tree = tree_of(spark, "x_chunk_documents")
    assert "Exchange" not in tree, tree
    assert "BatchEvalPython" not in tree, tree


def test_tfidf_output_bound_pushes_below_explode(spark):
    # the corpus-wide pass happens once (the df side); the tf side is
    # re-derived but with the doc_id<30 output bound pushed below the
    # explode all the way into its parquet scan, so it reads ~30 docs,
    # not the corpus. (r2 had to tolerate an InMemoryTableScan here:
    # x_bm25_search persisted the identical tf subtree and Spark's cache
    # manager substituted the live cache into this plan. Per-query cache
    # scoping ended that cross-query leak — and bm25 no longer caches a
    # token-grain frame at all — so the pushed filter is asserted
    # unconditionally again.)
    plan = plan_of(spark, "x_tfidf_top_terms")
    assert "LessThan(doc_id,30)" in plan, plan
    tree = tree_of(spark, "x_tfidf_top_terms")
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_bm25_persists_doc_grain_only_single_scan(spark):
    # the r2 regression: bm25 persisted the WHOLE-VOCABULARY doc_id ×
    # token inverted index per run — O(total tokens) cache churn, the
    # scale killer at 100 TB. The only cached relation allowed is the
    # doc-grain (doc_id, dl, __qtoks) projection; the corpus parquet
    # scan must appear as ONE reused node; top-k must not global-sort.
    plan = plan_of(spark, "x_bm25_search")
    detail = plan.split("\n\n", 1)[1]
    rels = [
        b
        for b in detail.split("\n\n")
        if b.strip() and "InMemoryRelation" in b.strip().splitlines()[0]
    ]
    assert rels, plan
    for b in rels:
        args = next(line for line in b.splitlines() if "Arguments" in line)
        assert "__qtoks" in args and "dl#" in args, args
        assert "token" not in args and "tf#" not in args, args
    tree = tree_of(spark, "x_bm25_search")
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1, tree
    assert "TakeOrderedAndProject" in tree, tree


def test_quantized_ann_broadcasts_query_side(spark):
    # the 5-row query side must broadcast; scoring all pairs via a
    # sort-merge join would shuffle the whole (quantized) index
    tree = tree_of(spark, "x_ann_quantized_topk")
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastExchange" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_kmeans_assignment_never_shuffles_corpus(spark):
    # centroids arrive as ONE broadcast packed row per iteration: the
    # plan may join only through BroadcastNestedLoopJoin — no shuffle
    # join, no window, no exchange of corpus rows (MLlib-shape Lloyd).
    # Since r11 the whole Lloyd loop is one lazy plan, so the centroid
    # updates appear in-plan: the only shuffle exchanges allowed are
    # their k×d-partial-row aggregates, keyed on the centroid grain
    # (cid[, pos]) — never on vec_id and never a round-robin of the
    # corpus.
    plan = plan_of(spark, "x_kmeans_semantic_clusters")
    tree = tree_of(spark, "x_kmeans_semantic_clusters")
    assert "BroadcastNestedLoopJoin" in tree, tree
    for op in ("SortMergeJoin", "ShuffledHashJoin", "Window"):
        assert op not in tree, (op, tree)
    shuffle_keys = {
        m.group(1) for m in re.finditer(r"hashpartitioning\((\w+)", plan)
    }
    assert shuffle_keys <= {"cid"}, (shuffle_keys, plan)
    # the hashpartitioning regex above sees only hash exchanges: a range
    # or single-partition exchange of corpus rows must be ruled out too.
    # The one legitimate SinglePartition exchange is the packed centroid
    # row's: a keyless partial aggregate (one buffer row per task) below it
    assert "RoundRobinPartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    nodes = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", plan, re.M | re.S)
    }
    for n, node in nodes.items():
        if "Arguments: SinglePartition" in node:
            below = nodes[n - 1]  # a unary node's child is numbered just before it
            assert "Keys: []" in below and "partial_" in below, (below, plan)


def test_outlier_mad_broadcasts_per_source_scalars(spark):
    """Every scalar join-back (median, MAD) must broadcast — a
    sort-merge join on `source` would cap parallelism at the source
    cardinality AND shuffle the whole fact table. The fact side is
    scanned more than once (exact MAD is inherently two passes over
    deviations; the single-pass scale path is approx_percentile), but
    it must NEVER be exchanged."""
    tree = tree_of(spark, "x_outlier_mad_by_source")
    assert "SortMergeJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    # the only shuffles allowed are the tiny per-source aggregates
    # ("+- Exchange"; BroadcastExchange lines spell it differently) —
    # never a repartition of the full doc scan
    assert tree.count("+- Exchange") <= 3, tree


def test_datacard_single_wide_exchange(spark):
    """The data card groups once on (source, lang); the distinct-
    fingerprint count re-aggregates the same grain, so the only
    exchanges allowed are on that grain (partial_count before them)."""
    tree = tree_of(spark, "x_corpus_datacard")
    assert "partial_count" in plan_of(spark, "x_corpus_datacard"), "no map-side combine"
    assert "SortMergeJoin" not in tree, tree


def test_ngram_novelty_single_explode_no_join(spark):
    """df(shingle) rides a count window over the shingle partition: the
    exploded grain must appear ONCE (no df-table join, no second
    explode) and the plan must contain exactly the shingle and doc
    exchanges plus the final left join-back for empty docs."""
    tree = tree_of(spark, "x_ngram_novelty")
    assert tree.count("Generate") == 1, tree  # one explode
    assert "SortMergeJoin" not in tree, tree
    assert "Window" in tree, tree


def test_incremental_batch_prunes_to_fingerprint_before_anti_join(spark):
    """Both anti-join inputs are single-column projections of the scan;
    the text column must not survive past fingerprint computation."""
    plan = plan_of(spark, "x_dedup_incremental_batch")
    tree = tree_of(spark, "x_dedup_incremental_batch")
    assert "LeftAnti" in plan, plan
    # no sort-merge: whichever side Spark picks, the join must be hash
    assert "SortMergeJoin" not in tree, tree


def test_kmeans_final_plan_reads_cache_not_parquet(spark):
    # the Lloyd loop persists the corpus projection once: every pass
    # reads the in-memory corpus (InMemoryTableScan). Since r11 the loop
    # is one lazy plan, so the iterations' cache reads all appear in the
    # ONE action's tree — every `Scan parquet` shown must be the SAME
    # cache-population child (one distinct node id), i.e. the parquet is
    # read once no matter how many passes the loop makes. No
    # LocalTableScan: centroids are in-plan aggregates, never a
    # driver-collected table re-uploaded as literals.
    tree = tree_of(spark, "x_kmeans_semantic_clusters")
    assert "InMemoryTableScan" in tree, tree
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) <= 1, tree
    assert "LocalTableScan" not in tree, tree


def test_bloom_probe_never_shuffles_probe_side(spark):
    """The probe table must reach its membership verdict through
    broadcast joins only — bloom pruning that shuffles the big side
    first defeats its purpose. The only shuffle exchanges allowed are
    the tiny lane-table build (<= m/32 rows) and the final 4-row
    confusion-matrix agg."""
    tree = tree_of(spark, "x_bloom_prune_join")
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "ShuffledHashJoin" not in tree, tree


def test_cms_sketch_joins_broadcast_and_combines_mapside(spark):
    """The counter build must partially aggregate before its exchange
    (the shuffle carries <= 3*1024 counter rows per mapper, not one row
    per token occurrence); the estimate join is broadcast."""
    plan = plan_of(spark, "x_cms_heavy_hitters")
    assert "partial_count" in plan, plan
    tree = tree_of(spark, "x_cms_heavy_hitters")
    assert "SortMergeJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_salted_agg_two_phase_shape(spark):
    """Phase 1 must reduce on (key, salt) and phase 2 on the key — two
    exchanges total, each fed by a map-side partial aggregate. Losing a
    phase silently restores the 5-task hot-key bottleneck."""
    tree = tree_of(spark, "x_skew_salted_agg")
    assert tree.count("Exchange") == 2, tree
    assert tree.count("HashAggregate") == 4, tree


def test_category_drift_single_scan(spark):
    """Margins must come from windows over the reduced cells table —
    the margin-join formulation re-scanned the corpus 4 times."""
    tree = tree_of(spark, "x_category_drift")
    assert tree.count("Scan parquet") == 1, tree


def test_market_share_no_cartesian_dims_broadcast(spark):
    """Q8-shape six-table join: every dimension must arrive broadcast;
    a cartesian or a sort-merge on a dim key caps parallelism."""
    tree = tree_of(spark, "agg_market_share")
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_running_total_window_is_partitioned(spark):
    """The per-customer running total must key its window on o_custkey —
    one hash exchange, never a single-partition global window."""
    tree = tree_of(spark, "fn_window_running_total")
    assert "Window" in tree, tree
    assert "SinglePartition" not in tree, tree


def test_table_checksum_single_pass_mapside_combine(spark):
    """One scan, partial bit_xor/count before the tiny status exchange."""
    tree = tree_of(spark, "x_table_checksum")
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Exchange") == 1, tree
    assert tree.count("HashAggregate") == 2, tree


def test_exact_quantiles_histogram_shape(spark):
    """Histogram reduction first (map-side combined), then windows over
    the reduced table — never a sort of the raw rows."""
    plan = plan_of(spark, "x_exact_quantiles_chars")
    assert "partial_count" in plan, plan
    tree = tree_of(spark, "x_exact_quantiles_chars")
    assert "SortMergeJoin" not in tree, tree


def test_embedding_drift_single_explode(spark):
    """The per-dim table persists: BOTH consumers (per-label side and
    global-centroid side) must read the cache — the explode subtree
    appears only inside the InMemoryRelation displays, never as a live
    second scan."""
    tree = tree_of(spark, "x_embedding_drift_by_source")
    assert tree.count("InMemoryTableScan") == 2, tree


def test_audio_energy_is_arrow_mapinpandas(spark):
    tree = tree_of(spark, "x_multimodal_audio_energy")
    assert "MapInPandas" in tree, tree
    assert "BatchEvalPython" not in tree, tree


def test_bpe_pair_counts_reduces_to_vocab_before_pair_work(spark):
    # the pair explode must run on the word-frequency table (vocab
    # grain), never on raw tokens: plan order is explode(words) ->
    # partial+final count agg -> pair generate -> partial+final sum agg,
    # with top-30 as TakeOrdered. 4 HashAggregates (2 partial/final
    # pairs), 2 exchanges, no sort of the full pair table.
    tree = tree_of(spark, "x_bpe_pair_counts")
    assert tree.count("HashAggregate") == 4, tree
    assert tree.count("Exchange") == 2, tree
    assert "TakeOrderedAndProject" in tree, tree


def test_word_entropy_single_shuffle_then_doc_rollup(spark):
    # one (doc_id, word) shuffle with map-side combine; the doc-grain
    # rollup must NOT re-exchange (doc_id is a prefix of the first
    # shuffle's key, so Spark reuses the partitioning)
    tree = tree_of(spark, "x_word_entropy_quality")
    assert tree.count("Exchange") <= 2, tree
    assert "SortMergeJoin" not in tree and "BroadcastHashJoin" not in tree, tree


def test_ann_recall_truth_and_probe_sides_broadcast(spark):
    # both the 5-query truth side and the IVF probe/candidate sides are
    # tiny relative to the corpus: every join must broadcast, and the
    # corpus must never be sort-merge-shuffled for the evaluation
    tree = tree_of(spark, "x_ann_recall_at_k")
    assert "SortMergeJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree or "BroadcastNestedLoopJoin" in tree, tree


def test_quality_classifier_is_pure_streaming_projection(spark):
    # classifier filtering must STREAM at 100 TB: one scan, zero
    # exchanges, all features + logit inside codegen
    tree = tree_of(spark, "x_quality_classifier_score")
    assert "Exchange" not in tree, tree
    assert tree.count("Scan parquet") == 1, tree
    assert "BatchEvalPython" not in tree, tree


def test_exact_substring_caps_window_df_before_pairing(spark):
    # the df cap (HAVING count <= 20) must aggregate BEFORE the self
    # join — it bounds the quadratic fan-out per window key. A plan
    # that capped AFTER pairing would have exactly ONE join; the
    # cap-before shape has three (each pair side semi-joins the
    # aggregated keep set, then the pair join) — so >= 3 joins pins the
    # ordering, not just the presence of the aggregates. The window
    # index must be persisted (one tokenize+shingle+md5 pass, not four).
    tree = tree_of(spark, "x_dedup_exact_substring")
    assert "CartesianProduct" not in tree, tree
    n_joins = sum(
        tree.count(j)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins >= 3, tree
    assert "InMemoryTableScan" in tree, tree
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1, tree


def test_duplicate_span_fraction_single_index_pass(spark):
    # the doc-grain duplication fraction must annotate window df via a
    # WindowExec (count over partition by h) — ONE exchange of the
    # window index — not a groupBy-df-then-join that ships the index
    # twice. Pin: a window operator present, no pair-style self join
    # (the only join is the doc-grain left join back to documents), no
    # cartesian, no Python, and no persist (single-consumer index).
    tree = tree_of(spark, "x_duplicate_span_fraction")
    assert "CartesianProduct" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert "Window" in tree, tree
    n_joins = sum(
        tree.count(j)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, tree
    assert "InMemoryTableScan" not in tree, tree


def test_dedup_survivors_argmax_is_aggregate_not_window(spark):
    # the per-cluster survivor pick must be the struct-max AGGREGATE
    # (partial-aggregable: each map task emits one candidate per
    # cluster before the exchange) — not a row_number() window, which
    # would sort the whole corpus within cluster partitions. Pin: no
    # Window operator anywhere in the final plan, no cartesian, no
    # Python eval.
    tree = tree_of(spark, "x_dedup_survivors")
    assert "CartesianProduct" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert "Window" not in tree, tree


def test_split_leakage_safe_no_split_table_join(spark):
    # the split rule is a pure function of doc_id, so leak detection
    # must evaluate it ON the pair rows: the only outer join in the
    # plan is the single doc-grain attach of leak counts — a plan that
    # joined a materialized split table against the pairs would add
    # more. No cartesian, no Python eval.
    tree = tree_of(spark, "x_split_leakage_safe")
    assert "CartesianProduct" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert tree.count("LeftOuter") == 1, tree
    # the two cross-split directions must ride ONE pass over the pair
    # subtree (a CASE projection) — a filter-per-direction union runs
    # the banding/verify joins twice
    assert "Union" not in tree, tree


def test_simhash_hamming_pairs_broadcasts_pair_grain_only(spark):
    # small regime (candidate count under _SH_BROADCAST_CAP): the
    # pigeonhole verify joins broadcast the PAIR-grain candidate side;
    # the doc-grain fingerprint frame streams from its cache —
    # broadcasting fp would ship the corpus at scale
    tree = tree_of(spark, "x_dedup_simhash_hamming_pairs")
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "InMemoryTableScan" in tree, tree
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1, tree


def test_simhash_hamming_pairs_drops_hint_above_broadcast_cap(
    spark, monkeypatch
):
    # large regime (VERDICT r3 item 5): above the size gate the HARD
    # F.broadcast hint must be gone — a hint forces a driver-side
    # broadcast regardless of spark.sql.autoBroadcastJoinThreshold,
    # which is exactly the OOM a skewed hot block causes at scale. With
    # the cap forced to -1 and auto-broadcast disabled, the verify
    # joins must plan as non-broadcast joins (size-driven choice
    # restored to the conf/AQE), while correctness is unchanged.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries_ext,
    )

    # start cold: a prior same-tag build (the small-regime test) leaves
    # its caches live, and cache substitution would splice the candidate
    # InMemoryRelation over the block self-join, hiding the join shape
    query_scope.release()
    monkeypatch.setattr(queries_ext, "_SH_BROADCAST_CAP", -1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tree = tree_of(spark, "x_dedup_simhash_hamming_pairs")
        assert "BroadcastHashJoin" not in tree, tree
        assert "CartesianProduct" not in tree, tree
        n_joins = sum(
            tree.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin")
        )
        assert n_joins >= 3, tree  # block self-join + 2 verify joins
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        query_scope.release()


def test_simhash_hamming_pairs_wide_side_has_its_own_cap(spark, monkeypatch):
    # intermediate regime (r4 ADVICE): with_a carries the fingerprint
    # column so it is materially wider per row than cand — between the
    # two caps, only the narrow cand side may keep the hard hint while
    # the wide with_a join must fall back to size-driven planning.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries_ext,
    )

    query_scope.release()
    monkeypatch.setattr(queries_ext, "_SH_BROADCAST_CAP_WIDE", -1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tree = tree_of(spark, "x_dedup_simhash_hamming_pairs")
        assert "CartesianProduct" not in tree, tree
        # the narrow cand hint survives...
        assert tree.count("BroadcastHashJoin") == 1, tree
        # ...while the outer (wide) verify join and the block self-join
        # plan as non-broadcast joins
        n_joins = sum(
            tree.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin")
        )
        assert n_joins >= 2, tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        query_scope.release()


def test_bpe_merge_steps_scans_corpus_once_iterates_on_vocab(spark):
    # VERDICT r3 item 2's scale contract: the corpus is scanned ONCE
    # (the persisted word-frequency base frame) and every merge
    # iteration's pair re-count reads the vocab-grain CACHE, never the
    # parquet again. debug_frames exposes the base + per-iteration
    # count frames for exactly this assertion.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.bpe import (
        bpe_merge_steps,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_tokenizer import (
        _bpe_word_freq,
    )

    def tree_of_df(df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).split("\n\n", 1)[0]

    query_scope.release()
    try:
        frames = []
        steps = bpe_merge_steps(_bpe_word_freq(spark, SF), 3, debug_frames=frames)
        assert len(steps) == 3 and len(frames) == 4
        base = tree_of_df(frames[0])
        # one distinct parquet scan node (the explain expands the
        # materialized cache with AQE initial+final plans, repeating
        # the SAME node id)
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", base))) == 1, base
        for it in frames[1:]:
            tree = tree_of_df(it)
            assert "InMemoryTableScan" in tree, tree
            # any parquet scan in the explain lives INSIDE the cached
            # vocab relation — nothing re-reads the corpus
            first_scan = tree.find("Scan parquet")
            assert first_scan == -1 or tree.find("InMemoryRelation") < first_scan, tree
            # pair re-count is a single map-side-combined shuffle on
            # the vocab grain — no joins anywhere in the loop
            assert "Join" not in tree, tree
    finally:
        query_scope.release()


def test_bpe_compression_curve_single_pass_on_vocab_cache(spark):
    # all N+1 curve points compute in ONE aggregate pass over the
    # scoped-persisted word-frequency table (shared with the trainer
    # via cache-manager dedup) — one distinct parquet scan under the
    # cache, cache reads in the final plan, no Python, no joins.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_bpe_compression_curve")
        assert "InMemoryTableScan" in tree, tree
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert "BatchEvalPython" not in tree and "Join" not in tree, tree
        # one aggregate pass: a single pair of partial/final
        # HashAggregates ABOVE the cache (the InMemoryRelation's build
        # plan carries the word-frequency groupBy's own pair)
        above_cache = tree.split("InMemoryRelation", 1)[0]
        assert len(re.findall(r"HashAggregate", above_cache)) == 2, tree
    finally:
        query_scope.release()


def test_wordpiece_encode_is_pure_projection(spark):
    # both inference rules (greedy longest-match AND the BPE replay)
    # run in ONE projection over ONE scan: the learned vocabulary is
    # plan metadata and the munch fold iterates at runtime, so the plan
    # stays constant-size — zero exchanges, zero Python, no joins.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_wordpiece_encode_docs")
        assert "Exchange" not in tree, tree
        assert "BatchEvalPython" not in tree and "Join" not in tree, tree
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
    finally:
        query_scope.release()


def test_bpe_encode_docs_is_pure_projection(spark):
    # encode-time contract: the learned merge list is baked into the
    # plan as literals, so encoding the corpus is ONE scan + a codegen
    # projection — zero exchanges, zero Python, no joins. (The training
    # pass runs at build time on the vocab grain; its shape is pinned by
    # test_bpe_merge_steps_scans_corpus_once_iterates_on_vocab.)
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_bpe_encode_docs")
        assert "Exchange" not in tree, tree
        assert "BatchEvalPython" not in tree and "Join" not in tree, tree
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
    finally:
        query_scope.release()


def test_lm_predictability_folds_unigrams_and_joins_lm_once(spark):
    # scale contract: c1 folds into the bigram LM at TRAIN time (an
    # LM-grain join), so the corpus-sized score stream joins exactly
    # ONCE (on bg); V rides as a 1-row broadcast scalar (BNLJ), never a
    # cartesian. Equi-joins in the whole lazy plan: lm fold + score +
    # the final doc left join = 3. Scans of documents stay
    # column-pruned re-reads (the documented mixture-resample pattern —
    # cheaper at 100 TB than caching corpus-grain word arrays).
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_lm_bigram_predictability")
        assert "CartesianProduct" not in tree, tree
        n_equi = sum(
            tree.count(j)
            for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        )
        assert n_equi == 3, tree
        assert tree.count("BroadcastNestedLoopJoin") == 1, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_contamination_removal_adds_one_join_to_flag_plan(spark):
    # composition contract: the removal report is the flag query's own
    # plan plus ONE doc-grain equi-join onto the pruned
    # (doc_id, source, n_chars) projection and a map-side-combined
    # source rollup — no new shuffle-heavy machinery, no cartesian, no
    # Python. The flag plan itself carries 3 equi-joins (bench
    # broadcast + hits + doc-grain left join), so the report totals 4.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        flag_tree = tree_of(spark, "x_contamination_3gram")
        tree = tree_of(spark, "x_contamination_removal")
        kinds = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        n_flag = sum(flag_tree.count(j) for j in kinds)
        n_rep = sum(tree.count(j) for j in kinds)
        assert n_rep == n_flag + 1, (n_flag, n_rep, tree)
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        # the report's own rollup is partial+final around one exchange
        assert "partial_sum" in plan_of(spark, "x_contamination_removal"), tree
    finally:
        query_scope.release()


def test_containment_topk_is_takeordered_broadcast_pairs(spark):
    # sample-bounded by contract (doc_id < 100 reaches the scan as a
    # pushed filter): the pair generation is ONE broadcast nested-loop
    # join over the cached shingle-set projection — never an SMJ or
    # unbounded cartesian — and the top-20 plans as TakeOrdered, never
    # a global sort.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        plan = plan_of(spark, "x_dedup_containment_topk")
        tree = plan.split("\n\n", 1)[0]
        assert "TakeOrderedAndProject" in tree, tree
        assert "BroadcastNestedLoopJoin" in tree, tree
        assert "InMemoryTableScan" in tree, tree  # shared shingle cache
        assert "SortMergeJoin" not in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "LessThan(doc_id,100)" in plan.replace(" ", ""), plan
    finally:
        query_scope.release()


def test_lm_trigram_scores_through_one_tagged_union_join(spark):
    # scale contract (VERDICT r5 #5): the three Laplace components are
    # pre-divided at TRAIN time into ONE tagged-union LM (two LM-grain
    # fold joins, corpus-size independent), so the corpus-sized key
    # stream crosses exactly ONE co-partitioned equi-join — three
    # separate lookups would triple it. Equi-joins in the whole lazy
    # plan: tri-fold + bi-fold + score + the final doc left join = 4;
    # the V/N scalar rides as 1-row broadcasts (BNLJ), never a
    # cartesian; uni and bi are the scoped caches (type-grain, not the
    # corpus-grain class the r2 bm25 lesson forbids).
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_lm_trigram_predictability")
        assert "CartesianProduct" not in tree, tree
        n_equi = sum(
            tree.count(j)
            for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        )
        assert n_equi == 4, tree
        assert "BroadcastNestedLoopJoin" in tree, tree
        assert "InMemoryTableScan" in tree, tree  # uni/bi type-grain caches
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_budget_select_uses_distributed_prefix_sum(spark):
    # the budget cut must come from the two-level prefix sum: local
    # windows keyed by __pid, NEVER a single-partition global window
    # over the corpus (the naive sum() OVER (ORDER BY logit) shape that
    # cannot scale). The tiny P-row offsets window IS SinglePartition
    # by design (post-reduction), so assert the data-grain window is
    # pid-keyed rather than asserting SinglePartition's absence.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        plan = plan_of(spark, "x_budget_select_topquality")
        # the data-grain window keys on the partition id (the detail
        # section names the window spec columns)
        assert "__pid" in plan, plan
        tree = plan.split("\n\n", 1)[0]
        # distinct Window nodes: local pid window + P-row offsets window
        # (the cached relation's expansion repeats the same node id)
        assert len(set(re.findall(r"Window\s+\((\d+)\)", tree))) == 2, tree
        assert "CartesianProduct" not in tree, tree
        assert "InMemoryTableScan" in tree, tree  # pid-stability persist
        assert "BroadcastHashJoin" in tree, tree  # offsets broadcast back
    finally:
        query_scope.release()


def test_hard_negatives_broadcasts_queries_corpus_streams(spark):
    # the query side (vec_id < 5) broadcasts; the corpus side must not
    # be exchanged for the scoring — only the pruned candidate rows
    # shuffle for the per-query ranking window
    tree = tree_of(spark, "x_ann_hard_negatives")
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_dsir_ratio_table_broadcasts_no_token_grain_persist(spark):
    # the 256-bucket ratio table must BROADCAST onto the token stream
    # (an exchange-keyed join on bucket would shuffle the whole token
    # stream onto 256 keys); the token grain is never persisted (the r2
    # bm25 anti-pattern) — the documented cost is 3 pruned corpus
    # re-scans (bucket count, scoring, final doc join). The final
    # doc-grain left join carries NO hint: its build side is corpus-
    # sized, so the size-driven planner must stay free to pick SMJ at
    # scale (the SimHash size-gate lesson).
    tree = tree_of(spark, "x_dsir_hashed_importance")
    assert "BroadcastHashJoin Inner BuildRight" in tree, tree
    assert "InMemoryTableScan" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 3, tree


def test_quality_threshold_quantile_runs_on_histogram_grain(spark):
    # the per-source p75 must come from the (source, bucket) HISTOGRAM,
    # never a window over raw docs (PARTITION BY source puts whole
    # domains into single tasks): the Sort feeding the quantile windows
    # sorts a post-aggregation exchange, and the thresholds broadcast
    # back onto the doc stream.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_quality_threshold_by_source")
        assert re.search(
            r"Sort \(\d+\)\n\s*\+- Exchange \(\d+\)\n\s*\+- HashAggregate", tree
        ), tree
        assert "BroadcastHashJoin" in tree, tree
        assert "SortMergeJoin" not in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_mixture_apportion_single_scan_tiny_grain_windows(spark):
    # the corpus reduces ONCE to the persisted source-grain weight
    # table; total/leftover/ranking all read that cache (4 scans
    # without it — measured), the ranking window is single-partition by
    # design because it is post-reduction, and the scalar joins are
    # broadcast BNLJs, never a cartesian.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_mixture_apportion_budget")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert "InMemoryTableScan" in tree, tree
        assert len(set(re.findall(r"Window\s+\((\d+)\)", tree))) == 1, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_bpe_fertility_reduces_to_lang_vocab_grain(spark):
    # the replace chain must run on the (lang, word) VOCABULARY grain,
    # not per word occurrence: one corpus scan, two map-side-combined
    # aggregates ((lang, word) count then the lang rollup), zero joins,
    # zero Python — the whole query is scan -> reduce -> reduce.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_bpe_fertility_by_lang")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert len(set(re.findall(r"Exchange\s+\((\d+)\)", tree))) == 2, tree
        assert "Join" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "Window" not in tree, tree
    finally:
        query_scope.release()


def test_gopher_rules_is_one_codegen_projection(spark):
    # the rule battery is integer comparisons over one tokenization —
    # a single pruned scan, zero exchanges, zero joins, zero Python;
    # anything else would mean the filter stopped streaming
    tree = tree_of(spark, "x_quality_gopher_rules")
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree
    assert "BatchEvalPython" not in tree, tree


def test_word_pmi_pairs_in_row_pairs_no_corpus_selfjoin(spark):
    # pair generation must be IN-ROW (upper-triangle transform over the
    # vocab-filtered array): a corpus self-join on doc_id would shuffle
    # every pair row and is the O(L^2)-rows-on-the-wire shape this
    # query exists to avoid. The only joins are the two broadcast df
    # lookups; vocab membership and N ride broadcast scalar cross
    # joins; the top-V vocab is TakeOrdered (never a global sort) and
    # persisted ONCE for its three consumers.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_word_pmi_pairs")
        assert "SortMergeJoin" not in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert len(set(re.findall(r"BroadcastHashJoin[^(]*\((\d+)\)", tree))) == 2, tree
        assert (
            len(set(re.findall(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", tree))) == 2
        ), tree
        assert "TakeOrderedAndProject" in tree, tree
        assert len(set(re.findall(r"InMemoryTableScan\s+\((\d+)\)", tree))) == 3, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_sample_uniform_k_is_takeordered_no_global_sort(spark):
    # exact-k by hash order must plan as TakeOrderedAndProject over the
    # scan — a global Sort (or any Exchange) would serialize the corpus
    tree = tree_of(spark, "x_sample_uniform_k")
    assert "TakeOrderedAndProject" in tree, tree
    assert "Exchange" not in tree, tree
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree


def test_pagerank_iterates_without_python_or_cartesian(spark):
    # the 3 fixed iterations are node/edge-keyed joins + map-side-
    # combined sums downstream of the ONE materialized edge set
    # (localCheckpoint — the connected_components idiom) and the
    # persisted node-grain degree table; no Python, no cartesian, no
    # window over the corpus
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_pagerank_dup_graph")
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "Window" not in tree, tree
        # edges come from the checkpoint, not a re-derivation: the final
        # plan reads the materialized RDD and the cached degree table
        assert "Scan ExistingRDD" in tree, tree
        assert "InMemoryTableScan" in tree, tree
    finally:
        query_scope.release()


def test_retrieval_mrr_broadcasts_topk_never_shuffles_corpus(spark):
    # the top-k result (<= |queries|*k rows) must be the broadcast side
    # of both label attachments; the corpus label projection streams.
    # No sort-merge join, no cartesian, no Python anywhere.
    tree = tree_of(spark, "x_retrieval_mrr")
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_ann_pq_codes_computed_before_the_scoring_join(spark):
    # the corpus side of the ADC join must carry ONLY (neighbor_id +
    # m code columns) — the embedding is consumed by the in-plan argmin
    # projection and never crosses the join (that scan-width reduction
    # IS product quantization). Two pruned scans (codes side + query
    # side), the codebook folded in as literals, per-partition top-k
    # via WindowGroupLimit, no sort-merge join, no Python.
    import re as _re

    tree = tree_of(spark, "x_ann_pq_topk")
    assert len(set(_re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert "WindowGroupLimit" in tree, tree
    # the join input projection on the corpus side is the code table:
    # neighbor_id + c0..c3, nothing else (detail section carries the
    # per-node Output lists)
    plan = plan_of(spark, "x_ann_pq_topk")
    m = _re.search(r"Output \[5\]: \[vec_id#\d+L AS neighbor_id#\d+L", plan)
    assert m, plan[:3000]


def test_ann_pq_recall_shares_one_corpus_cache_and_broadcasts(spark):
    # truth and approx sides read ONE persisted corpus projection
    # (cache-manager dedup — the recall_at_k pattern) and the
    # <=|queries|*k comparison join is broadcast; no sort-merge join,
    # no Python.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_ann_pq_recall")
        assert "InMemoryTableScan" in tree, tree
        # the only parquet scan node is the ONE inside the shared
        # InMemoryRelation's build plan (display repeats it per reader)
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert "SortMergeJoin" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "BroadcastHashJoin LeftOuter" in tree, tree
    finally:
        query_scope.release()


def test_retrieval_ndcg_broadcasts_topk_and_label_counts(spark):
    # same contract as the MRR plan: the top-k result (<= |queries|*k
    # rows) and the label-grain count table are the broadcast sides;
    # the corpus label projection streams, pruned to two columns. The
    # only nested-loop join is the intended query-broadcast cross
    # inside cosine_topk. No sort-merge join, no Python.
    tree = tree_of(spark, "x_retrieval_ndcg")
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_bpe_vocab_usage_single_scan_reads_trainer_cache(spark):
    # ONE corpus scan for train + usage: the scoped-persisted word
    # frequency table feeds the trainer loop AND the usage pass (the
    # usage subtree must read the cache, not rescan parquet); the
    # symbol rollup is map-side combined and joins the literal merge
    # list by broadcast. No Python, no cartesian, no sort-merge.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_bpe_vocab_usage")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert "InMemoryTableScan" in tree, tree
        assert "BroadcastHashJoin LeftOuter" in tree, tree
        assert "SortMergeJoin" not in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_quality_signal_agreement_single_scan_one_exchange(spark):
    # both quality signals are computed in ONE projection over ONE
    # corpus scan (the gopher expression rides _qc_feature_frame's
    # extra-column pass-through); the only exchange is the map-side-
    # combined rollup to the <=4-row cell grain. No joins, no Python.
    tree = tree_of(spark, "x_quality_signal_agreement")
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
    assert len(set(re.findall(r"Exchange\s+\((\d+)\)", tree))) == 1, tree
    assert "Join" not in tree, tree
    assert "BatchEvalPython" not in tree, tree


def test_ann_matryoshka_recall_shares_one_corpus_cache_and_broadcasts(spark):
    # same contract as x_ann_pq_recall: truth and truncated sides read
    # ONE persisted corpus projection (the truncated side is a slice()
    # projection over the same cache) and the <=|queries|*k comparison
    # join is broadcast; no sort-merge join, no Python.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_ann_matryoshka_recall")
        assert "InMemoryTableScan" in tree, tree
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert "SortMergeJoin" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "BroadcastHashJoin LeftOuter" in tree, tree
    finally:
        query_scope.release()


def test_source_overlap_two_pruned_scans_no_corpus_selfjoin(spark):
    # two pruned scans (size branch + pair branch) instead of a
    # corpus-grain persist; the tiny per-source size table is cached so
    # both sides of the all-pairs frame read it (InMemoryTableScan, the
    # display repeats its build-plan scan); pair generation is IN-ROW so
    # no corpus self-join exists — the only joins are the broadcast
    # all-pairs (<= |sources|^2 rows) attachments. No sort-merge join,
    # no Python.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_source_overlap_jaccard")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 2, tree
        assert "InMemoryTableScan" in tree, tree
        assert "SortMergeJoin" not in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "BroadcastHashJoin" in tree, tree
    finally:
        query_scope.release()


def test_ccnet_buckets_lm_chain_runs_once_via_histogram_cache(spark):
    # the LM chain (5 pruned scans) plus the (doc_id, source) attach
    # run ONCE inside the cached histogram's build plan; BOTH the
    # weighted-quantile thresholds and the bucket rollup read the
    # InMemoryRelation. The only sort-merge join is the intended
    # co-keyed doc-grain attach of sources onto scores; thresholds
    # broadcast back. No cartesian, no Python.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        lm_tree = tree_of(spark, "x_lm_bigram_predictability")
        lm_scans = len(set(re.findall(r"Scan parquet\s+\((\d+)\)", lm_tree)))
        query_scope.release()
        tree = tree_of(spark, "x_ccnet_perplexity_buckets")
        scans = len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree)))
        assert scans == lm_scans + 1, (scans, lm_scans, tree)
        assert "InMemoryTableScan" in tree, tree
        assert tree.count("SortMergeJoin") <= 1, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_kcenter_iteration_is_takeordered_over_cached_corpus(spark):
    # each greedy round must be ONE scan of the cached corpus
    # projection with the selected set as a packed 1-row broadcast
    # (BroadcastNestedLoopJoin of a single-row relation, the k-means
    # _assign_in_row idiom) and the argmax as TakeOrdered — a global
    # Sort or a re-scan of the parquet per round would not survive a
    # large corpus. The registered query's own plan is the k-row local
    # relation (covered by the catalog-wide sweep); this test drives
    # the OPERATOR's iteration frame directly.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    try:
        emb = query_scope.scoped_persist(
            load_table(spark, SF, "embeddings").select(
                "vec_id",
                F.transform(
                    F.col("embedding"), lambda x: x.cast("double")
                ).alias("v"),
            )
        )
        assert S.kcenter_select(emb, k=0) == []  # k<1 contract
        frames = []
        S.kcenter_select(emb, k=3, debug_frames=frames)
        assert len(frames) == 2
        it = frames[-1].orderBy(F.col("d").desc(), F.col("vec_id").asc()).limit(1)
        tree = spark._jvm.PythonSQLUtils.explainString(
            it._jdf.queryExecution(), "formatted"
        ).split("\n\n", 1)[0]
        assert "TakeOrderedAndProject" in tree, tree
        assert "InMemoryTableScan" in tree, tree
        assert "BroadcastNestedLoopJoin" in tree, tree
        assert "CartesianProduct" not in tree, tree
        # the only exchanges are the collect_list packing of the <=k-row
        # selected set (one shuffle + its BroadcastExchange) — the
        # corpus branch reads the cache straight into the join
        assert tree.count("Exchange") <= 2, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_length_bucket_padding_single_scan_one_exchange(spark):
    # pure scan -> narrow cap projection -> ONE map-side-combined
    # rollup to the ~40-bucket grain; no joins, no window, no Python
    tree = tree_of(spark, "x_length_bucket_padding")
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Exchange") == 1, tree
    assert tree.count("HashAggregate") == 2, tree  # partial + final
    assert "Join" not in tree, tree
    assert "BatchEvalPython" not in tree, tree


def test_power_iteration_matvec_is_one_pass_over_cache(spark):
    # each power-iteration matvec must be ONE pass over the cached
    # corpus projection: posexplode (Generate) -> partial aggregate ->
    # one (pos)-keyed exchange -> final aggregate. 64 rows per mapper
    # cross the wire; no joins, no Python, no second scan.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries_retrieval as qr,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    try:
        ev = query_scope.scoped_persist(
            load_table(spark, SF, "embeddings").select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
        )
        it = qr._pi_matvec(ev, [1.0] + [0.0] * 63)
        tree = spark._jvm.PythonSQLUtils.explainString(
            it._jdf.queryExecution(), "formatted"
        ).split("\n\n", 1)[0]
        assert "InMemoryTableScan" in tree, tree
        assert "Generate" in tree, tree
        assert tree.count("HashAggregate") == 2, tree  # partial + final
        assert tree.count("Exchange") == 1, tree
        assert "Join" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_vocab_growth_reduces_to_word_grain_not_per_stage_distincts(spark):
    # the scale contract: ONE token exchange (map-side combined to the
    # word grain carrying min(stage)) instead of a per-stage
    # count-distinct Expand (4x the shuffle); doc/token totals ride a
    # second pruned scan; cumulative sums run on the 4-row spine
    # (post-reduction window). Broadcast spine joins, no sort-merge, no
    # cartesian, no Expand.
    tree = tree_of(spark, "x_vocab_growth_curve")
    assert "Expand" not in tree, tree
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert "Window" in tree, tree
    assert "BatchEvalPython" not in tree, tree


def test_lsh_band_tuning_shares_caches_two_scans(spark):
    # all three banding configs read the SAME cached signature frame
    # (the operator's scoped_persist + cache-manager dedup) and the one
    # exact-truth side its own pruned scan: exactly two distinct
    # parquet scans for a 3-config x 4-metric table. Pair frames are
    # sample-bounded; no cartesian, no Python.
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_dedup_lsh_band_tuning")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 2, tree
        assert "InMemoryTableScan" in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_incremental_minhash_broadcasts_batch_and_never_allpairs(spark):
    """VERDICT r6 #2 plan contract: the collision probe is one
    (band, bucket) equi-join whose BUILD side is the (small) batch's
    band keys — the corpus bands stream map-side, never shuffle for
    the probe — the keep-set is a left-anti join, and nothing plans a
    cartesian or a Python stage."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_dedup_incremental_minhash")
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        # the bucket probe is a broadcast hash join (batch side built)
        assert "BroadcastHashJoin" in tree, tree
        # ... and no shuffle join anywhere: the verify join-backs ride
        # the pair grain (collisions only) and broadcast too
        assert "SortMergeJoin" not in tree, tree
        assert "LeftAnti" in tree, tree
    finally:
        query_scope.release()


def test_curation_funnel_evaluates_each_gate_once(spark):
    """VERDICT r6 #3 plan contract: the funnel composes the four stage
    plans plus one 2-column spine scan — if any gate's chain were
    evaluated twice, its parquet scans would appear twice. Asserted
    dynamically against the stage queries' own plans so the pin
    survives legitimate changes inside a stage. No cartesian, no
    Python stage, and the final rollup is map-side combined."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    def n_scans(name: str) -> int:
        return len(re.findall(r"Scan parquet", tree_of(spark, name)))

    try:
        stage_scans = sum(
            n_scans(n)
            for n in (
                "x_quality_gopher_rules",
                "x_quality_threshold_by_source",
                "x_dedup_survivors",
                "x_contamination_3gram",
            )
        )
        tree = tree_of(spark, "x_curation_funnel")
        assert len(re.findall(r"Scan parquet", tree)) == stage_scans + 1, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_rrf_fusion_stages_topk_and_fuses_on_tiny_grain(spark):
    """Round-7 plan contract for x_retrieval_rrf_fusion: both stage
    lists are per-partition top-k (WindowGroupLimit — the rank<=k
    filter must never force a full sort of the corpus), the cosine
    stage's query row broadcasts (one BroadcastHashJoin minimum), and
    the only sort-merge join is the full-outer fuse of the two ≤20-row
    lists — the one join shape full outer requires, on a grain where
    it is free. No cartesian, no Python stage."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_retrieval_rrf_fusion")
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert tree.count("WindowGroupLimit") >= 2, tree
        assert "BroadcastHashJoin" in tree, tree
        assert tree.count("SortMergeJoin") == 1, tree
        assert "FullOuter" in tree, tree
    finally:
        query_scope.release()


def test_cross_source_matrix_broadcasts_everything_after_pairs(spark):
    """Round-7 plan contract for x_dedup_cross_source_matrix: after the
    (all-broadcast) pair chain, the endpoint prune and both source
    attaches must ALSO broadcast — the corpus's (doc_id, source)
    projection is its own single extra pruned scan (2 distinct parquet
    scans total: the pair chain's documents scan + the lookup's), and
    nothing plans a sort-merge join, cartesian, or Python stage."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_dedup_cross_source_matrix")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 2, tree
        assert "SortMergeJoin" not in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "BroadcastHashJoin" in tree, tree
    finally:
        query_scope.release()


def test_mixture_epochs_single_scan_tiny_grain(spark):
    """Round-7 plan contract for x_mixture_epochs: ONE corpus
    reduction to the persisted lang-grain weight table (single
    distinct parquet scan; totals + final frame both read the cache),
    the scalar totals row rides a broadcast nested-loop cross join
    (single row by construction), and nothing plans a cartesian or a
    Python stage — the apportionment query's shape."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_mixture_epochs")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert "InMemoryTableScan" in tree, tree
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "SortMergeJoin" not in tree, tree
    finally:
        query_scope.release()


def test_rank_overlap_curve_broadcasts_and_never_smj(spark):
    """Round-7 plan contract for x_retrieval_rank_overlap_curve: the
    stage lists keep their per-partition top-k shape
    (WindowGroupLimit), the tiny matched grain and depth spine ride
    broadcast joins only (the ≤20-row inner join broadcasts, the
    non-equi m <= depth join is a broadcast nested loop — NOT a
    CartesianProduct), and no sort-merge join or Python stage appears
    anywhere."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_retrieval_rank_overlap_curve")
        assert "CartesianProduct" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
        assert "SortMergeJoin" not in tree, tree
        assert tree.count("WindowGroupLimit") >= 2, tree
        assert "BroadcastNestedLoopJoin" in tree, tree
    finally:
        query_scope.release()


def test_quality_calibration_is_one_scan_one_exchange_no_joins(spark):
    """Round-7 plan contract for x_quality_calibration: both quality
    signals compute in ONE corpus projection (the signal-agreement
    pass-through shape), so the whole query is scan → map-side-combined
    rollup to the bin grain — a single parquet scan, a single exchange,
    zero joins, zero Python."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )

    try:
        tree = tree_of(spark, "x_quality_calibration")
        assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1, tree
        assert len(set(re.findall(r"Exchange\s+\((\d+)\)", tree))) == 1, tree
        assert "Join" not in tree, tree
        assert "BatchEvalPython" not in tree, tree
    finally:
        query_scope.release()


def test_ivf_incremental_assign_broadcasts_centroids_never_shuffles_vectors(spark):
    """Incremental IVF maintenance (VERDICT r7 #2): both assignment
    halves must be in-row argmins against the ONE-row packed broadcast
    centroid table (the k-means _assign_in_row shape) — a window keyed
    on vec_id would reshuffle the |corpus|×|seeds| fan-out — and the
    train/new combine is ONE conditional aggregation over the flagged
    union (no join of any kind: a full-outer of per-half rollups
    cannot broadcast and would plan a sort-merge exchange pair). The
    only exchanges allowed are metadata-grain: the two 1-row seed
    packs and the single cell-grain aggregate."""
    tree = tree_of(spark, "x_ann_ivf_incremental_assign")
    assert tree.count("BroadcastNestedLoopJoin") == 2, tree
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "Window"):
        assert op not in tree, (op, tree)
    # 2 single-row packs + 1 cell-grain agg; nothing vector-grain
    assert tree.count("+- Exchange") <= 3, tree
    assert "Union" in tree, tree


def test_ivm_rollup_incremental_never_rescans_base_version(spark):
    """The registered IVM query's lineage must contain the materialized
    rollup + the appended (v1) files only — the base version's data
    files are the 99.9% of a production table the incremental path
    exists to avoid rescanning."""
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks.versioned import (
        delta_files_between,
    )

    df = catalog.queries()["x_ivm_rollup_incremental"](spark, SF)
    inputs = [p.removeprefix("file:") for p in df.inputFiles()]
    assert inputs, "expected file-backed lineage"
    dirs = {os.path.dirname(p) for p in inputs}
    # the fixture's events.parquet itself must NOT be in the final lineage
    assert not any(d.endswith("testdata/" + SF.rsplit("/", 1)[-1]) for d in dirs), dirs
    tbl_dirs = {d for d in dirs if d.endswith("events_tbl")}
    roll_dirs = {d for d in dirs if d.endswith("rollup")}
    assert tbl_dirs and roll_dirs, dirs
    # of the events sink's files, EXACTLY v1's appended files are read
    tbl = tbl_dirs.pop()
    scanned = {os.path.basename(p) for p in inputs if os.path.dirname(p) == tbl}
    assert scanned == set(delta_files_between(tbl, 0, 1)), scanned


def test_unigram_em_plan_scans_corpus_once_and_stays_in_row(spark):
    """The unigram EM step must run on the persisted word-frequency
    reduction: the final plan reads the cache (at most the one
    cache-population parquet scan in the displayed child), the Viterbi
    is an in-row fold (no Window, no UDF, no join of the word table
    against a piece table), and the vocabulary enters as literals via
    a LocalTableScan."""
    tree = tree_of(spark, "x_unigram_em_step")
    assert "InMemoryTableScan" in tree, tree
    # the cached child is AQE-planned, so the formatted tree prints its
    # one parquet scan twice (initial + final plan) with the SAME node
    # id — count distinct scan nodes, not occurrences
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) <= 1, tree
    assert "LocalTableScan" in tree or "Scan ExistingRDD" in tree, tree
    for op in ("Window", "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"):
        assert op not in tree, (op, tree)


def test_unigram_prune_curve_single_pass_over_word_table(spark):
    """All four stage re-segmentations must run as in-row folds inside
    ONE aggregate pass over the persisted word-frequency table (the
    compression-curve precedent): one distinct parquet scan (the cache
    child), a single partial/final aggregate pair, the stack() unpivot,
    and no joins/windows/Python anywhere."""
    tree = tree_of(spark, "x_unigram_prune_curve")
    assert "InMemoryTableScan" in tree, tree
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) <= 1, tree
    for op in ("Join", "Window", "BatchEvalPython", "ArrowEvalPython"):
        assert op not in tree, (op, tree)
    # one aggregation above the cache: partial + final HashAggregate
    # around one exchange (the other distinct ids belong to the
    # displayed cache-population child, which aggregates wf itself)
    assert len(set(re.findall(r"Exchange\s+\((\d+)\)", tree))) <= 3, tree


def test_versioned_skipping_read_scans_one_types_files_only(spark):
    """The registered data-skipping query's lineage must be exactly the
    purchase commit's files — 1/|types| of the snapshot; the other four
    event types' files are zone-pruned before planning."""
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_scale import (
        _skipping_fixture_sink,
    )

    df = catalog.queries()["x_versioned_skipping_read"](spark, SF)
    tbl = _skipping_fixture_sink(spark, SF)
    all_files = set(versioned._files_of(tbl, versioned.latest_version(tbl)))
    scanned = {os.path.basename(p) for p in df.inputFiles()}
    assert scanned and scanned < all_files, (scanned, all_files)
    # exactly the purchase commit's files: version 2 minus version 1
    purchase_files = set(versioned.delta_files_between(tbl, 1, 2))
    assert scanned == purchase_files, (scanned, purchase_files)


def test_ivm_rollup_minmax_rescan_prunes_untouched_groups(spark):
    """The MIN/MAX IVM query's affected-group rescan must read only the
    affected group's (click's) files of the new snapshot — the other
    four groups' files never re-enter the lineage."""
    import json
    import os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_scale import (
        _ivm_minmax_fixture_sink,
    )

    df = catalog.queries()["x_ivm_rollup_minmax"](spark, SF)
    tbl, _ = _ivm_minmax_fixture_sink(spark, SF)
    m1 = versioned._manifest_of(tbl, 1)  # resolved: stored form may be incremental
    # precondition: v1's group-clustered layout gives disjoint zones
    click_files = {
        f
        for f, s in m1["file_stats"].items()
        if s.get("event_type", {}).get("min") == "click"
        and s["event_type"].get("max") == "click"
    }
    nonclick_files = {
        f
        for f, s in m1["file_stats"].items()
        if "event_type" in s and s["event_type"].get("min", "click") != "click"
    }
    assert click_files and nonclick_files, m1["file_stats"]
    inputs = {os.path.basename(p) for p in df.inputFiles()}
    # v1 files in the lineage: the changes_between diff reads all of v1
    # (by design — it derives the feed), but the affected-group RESCAN
    # adds no second read of non-click files; assert the click files are
    # scanned and the plan contains exactly one scan of the non-click
    # files (the diff), not two
    assert click_files <= inputs
    tree = df._jdf.queryExecution().executedPlan().toString()
    sample = next(iter(nonclick_files))
    assert tree.count(sample) <= 1, f"non-click file {sample} scanned more than once"


def test_versioned_merge_upsert_carries_untouched_files_name_identical(spark):
    """The MERGE query's copy-on-write lineage: the update batch lives
    inside ONE of the five id-range files, so the post-merge manifest
    must carry the other four base files verbatim (never rewritten) and
    replace exactly one."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_scale import (
        _merge_fixture_sink,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    catalog.queries()["x_versioned_merge_upsert"](spark, SF)
    tbl = _merge_fixture_sink(spark, SF)
    base_v = versioned.latest_version(tbl) - 1  # the merge is the last commit
    base_files = set(versioned._files_of(tbl, base_v))
    merged_files = set(versioned._files_of(tbl, base_v + 1))
    carried = base_files & merged_files
    assert len(base_files) == 5 and len(carried) == 4, (base_files, merged_files)
    # and the one replaced file is the middle id-range's (zone check)
    stats = versioned._manifest_of(tbl, base_v)["file_stats"]
    (replaced,) = base_files - carried
    zone = stats[replaced]["event_id"]
    total = sum(stats[f]["__file_rows__"] for f in base_files)
    assert zone["min"] == 2 * total // 5 and zone["max"] == 3 * total // 5 - 1, zone


def test_versioned_delete_where_carries_untouched_files_name_identical(spark):
    """The DELETE query's copy-on-write lineage: the delete predicate
    is range-confined to ONE of the five id-range files, so the
    post-delete manifest carries the other four base files verbatim."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_scale import (
        _delete_fixture_sink,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    catalog.queries()["x_versioned_delete_where"](spark, SF)
    tbl = _delete_fixture_sink(spark, SF)
    base_v = versioned.latest_version(tbl) - 1  # the delete is the last commit
    base_files = set(versioned._files_of(tbl, base_v))
    post_files = set(versioned._files_of(tbl, base_v + 1))
    carried = base_files & post_files
    assert len(base_files) == 5 and len(carried) == 4, (base_files, post_files)


def test_versioned_restore_read_is_zero_copy(spark):
    """The RESTORE query's rollback lineage: the restored (latest)
    manifest's file set is EXACTLY the pre-delete version's files,
    name-identical — restore republishes, it never rewrites data."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_scale import (
        _restore_fixture_sink,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    catalog.queries()["x_versioned_restore_read"](spark, SF)
    tbl = _restore_fixture_sink(spark, SF)
    latest = versioned.latest_version(tbl)
    # history: 5 range appends (v0..v4), the bad delete (v5), restore (v6)
    assert latest == 6
    restored = versioned._files_of(tbl, latest)
    good = versioned._files_of(tbl, 4)
    assert restored == good, "restore must point at the old version's own files"
    deleted_state = set(versioned._files_of(tbl, 5))
    assert set(good) - deleted_state, "the bad delete really rewrote a file"
    # and the bad version stays readable (history preserved)
    n_good = versioned.read_version(spark, tbl, latest).count()
    n_bad = versioned.read_version(spark, tbl, 5).count()
    assert n_good - n_bad == 66  # the middle-range %3 rows, back after rollback


def test_versioned_dv_delete_rewrites_no_data_file(spark):
    """The deletion-vector query's physical claim: the delete commit's
    file set is IDENTICAL to the base version's — rows are hidden by
    vectors, never by rewriting data files."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_scale import (
        _dv_delete_fixture_sink,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import versioned

    catalog.queries()["x_versioned_dv_delete"](spark, SF)
    tbl = _dv_delete_fixture_sink(spark, SF)
    latest = versioned.latest_version(tbl)
    assert versioned._files_of(tbl, latest) == versioned._files_of(tbl, latest - 1)
    m = versioned._manifest_of(tbl, latest)
    assert sum(e["rows"] for e in m["dv"].values()) == 91  # id % 11 == 3 at sf0.001
    # and the metadata-only count stays exact across the vectors
    assert versioned.metadata_count(tbl, latest) == 1000 - 91


# ---------------------------------------------------------------------------
# optimization round 10: the shapes the r10 changes bought, pinned
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["j3_anti_dedup", "p7_null_key_fill", "p3_sanitize_columns"],
)
def test_pruned_tickets_view_skips_customer_join(spark, name):
    """Queries consuming no customer-derived ticket column must not
    scan or join customer at all (r10: needed-column views — Catalyst
    prunes columns but cannot eliminate the unused left join itself)."""
    plan = plan_of(spark, name)
    assert "customer.parquet" not in plan, plan


def test_j1_tickets_side_has_single_customer_scan(spark):
    """j1's tickets side needs no customer column; only the chats side
    (contact_email) may keep its customer broadcast — exactly ONE
    customer scan in the whole plan (was two before r10)."""
    plan = plan_of(spark, "j1_full_outer_integrate")
    assert plan.count("customer.parquet") == 1, plan


def test_c13_static_pivot_single_exchange(spark):
    """The conditional-aggregation rewrite must keep the pivot at ONE
    exchange with a partial/final HashAggregate pair (the .pivot() form
    planned two exchanges via pivotfirst)."""
    tree = tree_of(spark, "c13_pivot_event_types")
    assert tree.count("Exchange") == 1, tree
    assert tree.count("HashAggregate") == 2, tree


def test_ivf_topk_assignment_never_shuffles_corpus(spark):
    """r10: cell assignment and query probes rank in-row against the
    packed broadcast seed row — the only Window (and its exchange) left
    is the final top-k; the corpus reaches it through broadcast joins
    and Generate, never a corpus-wide window exchange."""
    tree = tree_of(spark, "x_ann_ivf_topk")
    # count Window NODES ("- Window (n)"), not the WindowGroupLimit
    # partials whose name contains the substring
    assert tree.count("- Window (") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    # packed seeds: one collect_list aggregate per ranking side
    plan = plan_of(spark, "x_ann_ivf_topk")
    assert "collect_list" in plan, plan


def test_minhash_signatures_single_exchange_keyed_fanout(spark):
    """r10: the small-scan fan-out repartitions BY the aggregation key,
    so the signature aggregate reuses that exchange — exactly one
    Exchange (hashpartitioning on the id), one-phase SortAggregate."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.dedup import (
        minhash_signatures,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import (
        load_table,
    )

    sig = minhash_signatures(load_table(spark, SF, "documents"))
    tree = spark._jvm.PythonSQLUtils.explainString(
        sig._jdf.queryExecution(), "formatted"
    ).split("\n\n", 1)[0]
    assert tree.count("Exchange") == 1, tree
