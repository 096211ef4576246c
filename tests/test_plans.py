"""Plan-shape regression tests: the properties that make these
queries survive a 100× scale-up, pinned as assertions.

If one of these breaks, the query still returns correct rows — but
its plan has regressed into something that won't scale (lost
pushdown, a shuffle join where a broadcast belongs, a full-agg where
a partial belongs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inside_vectordb_spark import io as eio
from inside_vectordb_spark.plans import (
    assert_in_plan,
    assert_not_in_plan,
    count_in_plan,
    count_nodes,
    physical_plan,
    shuffled_payloads,
)
from inside_vectordb_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_q1_pushdown_and_partial_agg(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    # the date filter reaches the parquet scan
    assert_in_plan(df, "LessThanOrEqual(l_shipdate")
    # map-side partial aggregation before the group-key shuffle
    assert count_in_plan(df, "HashAggregate") >= 2


def test_q5_broadcasts_all_dims(spark):
    df = QUERIES["q5_region_revenue"](spark, SF_DIR)
    # every dim join is a broadcast — lineitem never shuffles for joins
    assert count_in_plan(df, "BroadcastHashJoin") >= 3
    assert_not_in_plan(df, "SortMergeJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_flagship_broadcasts_queries(spark):
    df = QUERIES["flagship_topk"](spark, SF_DIR)
    # the query side rides a broadcast nested-loop (scored stream),
    # never a materialized cartesian product
    assert_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")
    # corpus scan still prunes columns + pushes the id filter
    assert_in_plan(df, "LessThan(vec_id,20)")


def test_minhash_partial_aggregation(spark):
    df = QUERIES["minhash_signatures"](spark, SF_DIR)
    # all 12 minima aggregate map-side; only (doc_id, 12 longs) shuffle
    assert count_in_plan(df, "partial_min") == 12


def test_pushdown_survives_split_repartition(spark):
    """The load_table parallelism repartition must not cost pushdown
    (the property verified when the split was added)."""
    df = eio.load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") < 20
    ).select("vec_id")
    assert_in_plan(df, "LessThan(vec_id,20)")
    assert_in_plan(df, "ReadSchema: struct<vec_id:bigint>")


def test_metrics_broadcast_qrels(spark):
    df = QUERIES["recall_at_k"](spark, SF_DIR)
    # qrels/k-dim sides broadcast; no sort-merge join in the metric path
    assert count_in_plan(df, "BroadcastHashJoin") >= 1
    assert_not_in_plan(df, "SortMergeJoin")


def test_asof_join_single_exchange(spark):
    """The as-of join must stay the union+window formulation: exactly
    one hash exchange (the window partitioning on the key) and no
    join operator at all — the inequality-join formulation would show
    BroadcastNestedLoopJoin/CartesianProduct here."""
    df = QUERIES["events_asof_join"](spark, SF_DIR)
    assert count_in_plan(df, "Exchange hashpartitioning") == 1
    assert_in_plan(df, "Window")
    assert_not_in_plan(df, "Join")


def test_banded_pairs_hash_joins_only(spark):
    """The time-range self-join must be the banded equi-join: hash
    joins on (key, bin), never a nested-loop theta join."""
    df = QUERIES["events_cooccurrence"](spark, SF_DIR)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_rollup_single_shuffle(spark):
    """ROLLUP computes all three grouping levels in ONE aggregation
    pipeline (Expand + partial + final), not one shuffle per level."""
    df = QUERIES["events_time_rollup"](spark, SF_DIR)
    assert_in_plan(df, "Expand")
    assert count_in_plan(df, "Exchange hashpartitioning") == 1


def test_moving_avg_one_shuffle_for_both_windows(spark):
    """Both window frames share the (user_id, ts) sort — one exchange."""
    df = QUERIES["events_moving_avg"](spark, SF_DIR)
    assert count_in_plan(df, "Exchange hashpartitioning") == 1


def test_vocab_partial_aggregation(spark):
    """Term counts combine map-side: network is O(vocab), not O(tokens)."""
    df = QUERIES["vocab_top_terms"](spark, SF_DIR)
    assert count_in_plan(df, "HashAggregate") >= 2
    assert_in_plan(df, "TakeOrderedAndProject")


def test_curation_no_cartesian(spark):
    """The composed curation DAG stays hash/broadcast joins end to
    end — no nested-loop join sneaks in via the anti-join."""
    df = QUERIES["corpus_curation"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


def test_curation_no_text_in_shuffle(spark):
    """The exact-dedup keeper must shuffle only (md5(text), doc_id)
    pairs — a window over md5(text) would move the full corpus text
    over the network at 100 TB. Also pins: no Window node, and the
    keeper aggregation combines map-side."""
    df = QUERIES["corpus_curation"](spark, SF_DIR)
    assert_not_in_plan(df, "Window")
    assert_in_plan(df, "partial_min")
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (
                f"full text crosses a hash exchange ({part}): {cols}"
            )


def test_bm25_broadcast_only_joins(spark):
    """The query vocabulary/terms sides broadcast BEFORE the (doc,
    term) aggregation (only matching postings shuffle); corpus stats
    are driver literals, so no stats subplan / nested-loop join
    appears; no O(corpus) doc-length join (dl rides the token
    stream); no materialized cartesian."""
    df = QUERIES["bm25_topk"](spark, SF_DIR)
    assert count_in_plan(df, "BroadcastHashJoin") == 2
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "SortMergeJoin")
    assert_not_in_plan(df, "CartesianProduct")
    # document frequency comes from ONE count window over the
    # restricted postings, not a groupBy+broadcast-back that would
    # execute the corpus explode+count chain twice
    assert count_in_plan(df, "Window") >= 2  # df window + rank window
    # query derivation pushes its id filter into the parquet scan
    assert_in_plan(df, "LessThan(doc_id,6)")


def test_hybrid_fusion_no_text_in_shuffle(spark):
    """RRF fusion aggregates only (query_id, doc_id, contrib) — no
    document text may cross an exchange (the arms reduce to ranked
    id lists before fusing)."""
    df = QUERIES["hybrid_rrf_topk"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (
                f"document text crosses a fusion exchange ({part}): {cols}"
            )


def test_pq_indexed_scans_codes_not_vectors(spark):
    """PQ stored-index search: the corpus-wide scan must read the
    compressed codes table; the raw embedding table is only read by
    the candidate-keyed exact re-rank (its scan must carry a join
    filter, not feed a corpus-wide exchange of vectors)."""
    import inside_vectordb_spark.registry.ann as ra

    df = QUERIES["ann_pq_topk_indexed"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan  # the codes parquet participates
    assert_not_in_plan(df, "CartesianProduct")


def test_q7_q8_broadcast_dims_single_fact_shuffle(spark):
    """The five/eight-way TPC-H shapes must broadcast every dimension;
    the only sort-merge-eligible join is lineitem↔orders (and even
    that may resolve to broadcast at test scale) — never a cartesian
    product."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        df = QUERIES[name](spark, SF_DIR)
        assert count_in_plan(df, "BroadcastHashJoin") >= 4, name
        assert_not_in_plan(df, "CartesianProduct")


def test_q7_pushes_shipdate_range(spark):
    df = QUERIES["q7_volume_shipping"](spark, SF_DIR)
    assert_in_plan(df, "GreaterThanOrEqual(l_shipdate")


def test_q18_semi_join_before_enrichment(spark):
    """The HAVING set applies as a semi join; orderBy+limit plans as
    TakeOrderedAndProject, not a global sort."""
    df = QUERIES["q18_large_volume_customer"](spark, SF_DIR)
    assert_in_plan(df, "LeftSemi")
    assert_in_plan(df, "TakeOrderedAndProject")


def test_q19_single_side_implications_pushed(spark):
    """The derived quantity bound reaches the lineitem scan and the
    brand/size union prunes the part broadcast."""
    df = QUERIES["q19_discounted_revenue"](spark, SF_DIR)
    assert_in_plan(df, "GreaterThanOrEqual(l_quantity,1.0)")
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_nearest_centroid_broadcasts_centroids(spark):
    """The centroid relation broadcasts back; the corpus-long-form
    side never shuffles for the scoring join."""
    df = QUERIES["nearest_centroid_assign"](spark, SF_DIR)
    assert count_in_plan(df, "BroadcastHashJoin") >= 2
    assert_not_in_plan(df, "CartesianProduct")


def test_span_dedup_no_chunk_text_in_hash_shuffle(spark):
    """The span-dedup keeper election groups by md5(chunk) carrying
    only (hash, doc_id, pos) — span text must never ride the
    hash-keyed exchange (the corpus_curation lesson applied to the
    span tier). Text legitimately moves once, keyed by (doc_id, pos),
    for the rebuild."""
    df = QUERIES["span_dedup"](spark, SF_DIR)
    assert_in_plan(df, "partial_min")
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning") and "__h" in part:
            assert "chunk" not in cols, (
                f"span text crosses the keeper exchange ({part}): {cols}"
            )


def test_weighted_sample_is_heap_topk_not_global_sort(spark):
    """A-ES top-k must plan as TakeOrderedAndProject (per-partition
    heaps) — a range-partitioned global sort of the corpus would be
    the scale-killer form."""
    df = QUERIES["weighted_sample"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "rangepartitioning")


def test_kmeans_broadcasts_centroids_and_partial_aggregates(spark):
    """Every Lloyd assignment joins against BROADCAST centroids (the
    corpus never shuffles for assignment), and centroid updates
    combine map-side (partial averages): only k×dim partials per
    partition reach the exchange."""
    df = QUERIES["kmeans_lloyd"](spark, SF_DIR)
    assert count_in_plan(df, "BroadcastNestedLoopJoin") >= 2
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "SortMergeJoin")
    assert_in_plan(df, "partial_avg")


def test_ngram_decontamination_shuffles_hashes_not_grams(spark):
    """The corpus side of the decontamination join reduces each gram
    to a 32-char md5 before the exchange — gram text stays inside the
    map task."""
    df = QUERIES["decontamination_ngram"](spark, SF_DIR)
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "gram" not in cols, (
                f"gram text crosses a hash exchange ({part}): {cols}"
            )


def test_partitioned_layout_prunes_partitions(spark):
    """The lang filter must land in PartitionFilters on the
    partitioned layout — directory pruning, not row filtering."""
    df = QUERIES["partitioned_layout_roundtrip"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200], plan[:2000]


def test_user_journey_single_window_operator(spark):
    """lag/lead/ntile/cume_dist share one window spec — Catalyst must
    compute all four in a single Window operator (one user_id shuffle),
    not one per function."""
    df = QUERIES["events_user_journey"](spark, SF_DIR)
    assert count_in_plan(df, "Window ") == 1


def test_filtered_topk_hash_join_not_nlj(spark):
    """The label predicate must turn J5's broadcast nested loop into a
    broadcast HASH join — corpus never shuffles, candidates are
    O(matching pairs) not O(Q·N)."""
    df = QUERIES["filtered_topk"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "SortMergeJoin")


def test_merge_upsert_broadcast_anti_base_never_shuffles(spark):
    """MERGE resolves base-row survival with a broadcast anti join on
    the (small) change-key set — the base side must not shuffle."""
    df = QUERIES["corpus_merge_upsert"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # no hash-exchange carries the document text (the base payload)
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (part, cols)


def test_q21_exists_not_exists_as_semi_anti(spark):
    """Q21's correlated EXISTS/NOT-EXISTS must plan as one semi + one
    anti join on key pairs — no cartesian, no outer-join rewrite."""
    df = QUERIES["q21_waiting_suppliers"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q2_decorrelated_min_no_cartesian(spark):
    """Q2's correlated per-part min decorrelates to a window min over
    the cost relation; the dims are broadcast."""
    df = QUERIES["q2_min_cost_supplier"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q11_single_pass_scalar_threshold(spark):
    """Q11's global threshold is a 1-row broadcast; the part-value
    relation must not be a cartesian against anything bigger."""
    df = QUERIES["q11_important_stock"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan


def test_range_search_zero_shuffle(spark):
    """Radius retrieval is a single map-side stage: broadcast NLJ +
    filter, NO Exchange and NO Window anywhere in the plan."""
    df = QUERIES["range_search"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastNestedLoopJoin")
    # the only Exchanges are the ingest round-robins load_table adds
    # for small-file parallelism — no hash/range repartition, i.e. no
    # data-dependent shuffle, and no Window reduction at all
    assert_not_in_plan(df, "Exchange hashpartitioning")
    assert_not_in_plan(df, "Exchange rangepartitioning")
    assert_not_in_plan(df, "Window")


def test_column_stats_single_scan(spark):
    """ANALYZE is ONE aggregation pass: a single parquet scan feeding
    partial→final HashAggregate (Expand carries the multi-distinct)."""
    df = QUERIES["lineitem_column_stats"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1


def test_tfidf_no_cartesian_no_text_in_shuffle(spark):
    """TF-IDF's joins stay hash/broadcast (no materialized cartesian
    beyond the 1-row stats broadcast), and document text never
    crosses a hash exchange — only (doc_id, term, weight) postings
    move."""
    df = QUERIES["tfidf_topk"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")
    assert count_in_plan(df, "BroadcastHashJoin") >= 2
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (part, cols)


def test_lm_scores_no_text_in_shuffle(spark):
    """The unigram LM pipeline shuffles (term, cnt) and (doc_id,
    logp) only; corpus stats ride a 1-row broadcast; text never
    moves."""
    df = QUERIES["lm_perplexity_scores"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (part, cols)


def test_simhash_near_dup_no_text_in_shuffle(spark):
    """Banded SimHash search shuffles (band_key, id, signature)
    triples only — never text — and the band self-join is a hash
    join, not a nested loop."""
    df = QUERIES["simhash_near_duplicates"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (part, cols)


def test_lexical_indexed_scans_are_bucket_pruned(spark):
    """The stored-index BM25 search must prune its postings and
    dictionary scans to the query terms' hash buckets (PartitionFilters
    on pb) — the inverted-list property the artifact layout exists
    for."""
    df = QUERIES["bm25_topk_indexed"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pruned = [
        seg[:200] for seg in plan.split("PartitionFilters: [")[1:]
        if "pb" in seg[:200]
    ]
    assert len(pruned) >= 2, "postings/df scans are not pb-pruned"
    assert_not_in_plan(df, "CartesianProduct")
    # dl rides denormalized on the posting rows — the serving path
    # must never scan (or shuffle-join) the O(corpus) doclen relation
    assert "doclen" not in plan


def test_ivf_det_assignment_partial_aggregates(spark):
    """The deterministic-IVF assignment argmax must partial-aggregate
    map-side (struct-min), never window-shuffle corpus vectors by row
    id."""
    df = QUERIES["ann_ivf_det_topk"](spark, SF_DIR)
    assert_in_plan(df, "partial_min")
    assert_not_in_plan(df, "CartesianProduct")


def test_equi_depth_no_single_partition_window(spark):
    """Exact equi-depth must come from the distributed prefix-rank
    (range repartition + per-__pid windows + broadcast offsets),
    never a global ntile whose empty partition spec moves the whole
    table to one task (the round-4 verdict's scale defect #1)."""
    df = QUERIES["price_histogram_equidepth"](spark, SF_DIR)
    assert_not_in_plan(df, "ntile")
    assert_in_plan(df, "rangepartitioning")
    # the only window runs per range-partition
    plan = physical_plan(df)
    for seg in plan.split("Window [")[1:]:
        assert "__pid" in seg[:400], "window without __pid partition spec"


def test_bloom_decontamination_join_sees_survivors_only(spark):
    """The Bloom membership test is pure JVM: the probe-position
    semi joins are broadcast (no Python worker stage, no shuffle for
    the prefilter), and no gram text crosses any hash exchange — the
    bench join input is bloom-positive survivors only."""
    df = QUERIES["decontamination_bloom"](spark, SF_DIR)
    assert_not_in_plan(df, "MapInPandas")
    plan = physical_plan(df)
    assert plan.count("LeftSemi") >= 4, "expected 4 broadcast probe semi-joins"
    assert_not_in_plan(df, "SortMergeJoin")
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "gram" not in cols, (
                f"gram text crosses a hash exchange ({part}): {cols}"
            )


def test_signlsh_sweep_single_candidate_pass(spark):
    """The fused probe sweep: BOTH knob settings come from ONE
    candidate join — exactly one pruned scan of the persisted bucket
    table and one Expand-backed rollup aggregation, no union of
    re-planned per-setting subtrees (the r6 shape scanned and scored
    everything twice)."""
    df = QUERIES["ann_signlsh_sweep"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("ann_sign") == 1, "bucket table scanned more than once"
    assert "Union" not in plan
    assert "Expand" in plan  # the rollup's two grouping sets
    # the probed-bucket partition pruning survives the fusion
    assert "INSET" in plan or "PartitionFilters: [bucket" in plan


def test_dsir_broadcasts_logratio_and_shuffles_partial_sums(spark):
    """DSIR scoring: the per-bucket log-ratio table joins broadcast
    (it is bounded by n_buckets), and the final per-doc reduce is a
    partial-aggregated (doc_id, sums) shuffle — feature text never
    leaves the map side."""
    df = QUERIES["dsir_select"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin")
    assert_in_plan(df, "partial_count")
    assert_not_in_plan(df, "CartesianProduct")
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "feat" not in cols, (
                f"feature text crosses a hash exchange ({part}): {cols}"
            )


def test_embedding_near_dup_det_no_vectors_in_band_shuffle(spark):
    """The det banded sign-LSH near-dup: the candidate self-join
    shuffles (table_idx, bucket, id) triples only — embedding vectors
    rejoin by id afterward, and no cross product appears."""
    df = QUERIES["embedding_near_duplicates_det"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")
    for part, cols in shuffled_payloads(df):
        if "bucket" in part:
            assert not any("embedding" in c or c in ("v", "__v") for c in cols), (
                f"vectors cross the band exchange ({part}): {cols}"
            )


def test_embedding_near_dup_det_single_signature_pass(spark):
    """The r7 verdict's one genuine plan defect, pinned fixed: the
    candidate self-join and both verify probes must read MATERIALIZED
    inputs (InMemoryRelation), so the n_tables×bits sign-plane fold
    (a Generate over the posexploded band array) appears exactly ONCE
    in the plan and the corpus is not rescanned per reference. Before
    the fix the live executed plan had 0 cache nodes, 2 signature
    Generates and 4 embeddings FileScans."""
    for name in ("embedding_near_duplicates_det", "embedding_near_duplicates_lsh"):
        df = QUERIES[name](spark, SF_DIR)
        # both band self-join sides and both verify probes read
        # materialized relations
        assert count_nodes(df, "InMemoryTableScanExec") >= 4, (
            f"{name}: band/vector inputs not materialized"
        )
        # the signature fold (the band posexplode Generate) lives
        # only inside the cached plan — zero LIVE Generates means it
        # executes exactly once, at materialization
        assert count_nodes(df, "GenerateExec") == 0, (
            f"{name}: band signature subtree generates live — "
            "self-join re-evaluates the fold"
        )


def test_curriculum_stages_no_single_partition_window(spark):
    """Stage assignment must come from the shared distributed
    prefix-rank (per-__pid windows + broadcast offsets), never a
    global ntile over an empty partition spec — same pin as
    equi-depth, applied to the curriculum query."""
    df = QUERIES["curriculum_stages"](spark, SF_DIR)
    assert_not_in_plan(df, "ntile")
    plan = physical_plan(df)
    for seg in plan.split("Window [")[1:]:
        assert "__pid" in seg[:400], "window without __pid partition spec"


def test_semantic_decon_broadcasts_benchmark_side(spark):
    """decontamination_semantic: the benchmark side must BROADCAST
    (it is small by definition) and the training corpus must reach
    the argmax as a map-side partial aggregate — no sort-merge join,
    no corpus shuffle keyed by row."""
    df = QUERIES["decontamination_semantic"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "SortMergeJoin")
    assert_not_in_plan(df, "CartesianProduct")
    # map-side partial_min before the one vec_id exchange (struct-min
    # lowers to SortAggregate, not HashAggregate)
    assert_in_plan(df, "partial_min")


def test_linear_fusion_no_text_in_shuffle(spark):
    """hybrid_linear_topk: fusion operates on candidate lists; raw
    document text must never ride an exchange."""
    df = QUERIES["hybrid_linear_topk"](spark, SF_DIR)
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (part, cols)


def test_ivf_km_assignment_broadcasts_centroids(spark):
    """ann_ivf_km_topk: every centroid-side join (assignment, probe)
    is a broadcast — the corpus never shuffles to meet the k×dim
    quantizer."""
    df = QUERIES["ann_ivf_km_topk"](spark, SF_DIR)
    assert count_in_plan(df, "BroadcastNestedLoopJoin") >= 2
    assert_not_in_plan(df, "CartesianProduct")


def test_source_cap_window_group_limit_pushdown(spark):
    """source_quota_cap: rank <= cap must plan as a Partial
    WindowGroupLimit BEFORE the source exchange — map tasks pre-trim
    to their local top-cap per source, so no domain's full contents
    ever shuffle. A plain Window would sort every source's documents
    post-exchange (the per-domain scale-killer)."""
    df = QUERIES["source_quota_cap"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (part, cols)


def test_perplexity_buckets_single_window_exchange(spark):
    """perplexity_buckets: rank and per-source count share ONE
    (source)-keyed window stage over the scored projection; document
    text never rides an exchange."""
    df = QUERIES["perplexity_buckets"](spark, SF_DIR)
    assert count_in_plan(df, "Window ") <= 2  # rank+count fused per spec
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert "text" not in cols, (part, cols)


def test_mrl_coarse_window_group_limit_no_vectors_in_shuffle(spark):
    """ann_mrl_topk: the prefix stage's rank <= C must ride
    WindowGroupLimit, and no hash exchange may carry a vector column
    — only (query_id, doc_id, score) triples cross the wire (vectors
    reach stage 2 via broadcast joins)."""
    df = QUERIES["ann_mrl_topk"](spark, SF_DIR)
    assert_in_plan(df, "WindowGroupLimit")
    banned = ("qv", "cv", "pre", "embedding")
    for part, payload in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            for col in payload:
                assert not any(b in col for b in banned), (part, payload)


def test_hnsw_indexed_only_partials_shuffle(spark):
    """Scatter-gather over the stored graph: the only hash exchange
    carries the Q×k partial triples, never graph rows or vectors."""
    df = QUERIES["ann_hnsw_vendored_indexed"](spark, SF_DIR)
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert set(cols) <= {"query_id", "doc_id", "score"}, (part, cols)
    assert_not_in_plan(df, "CartesianProduct")


def test_hnsw_indexed_scatter_gather_only_partials_shuffle(spark, monkeypatch):
    """The scatter-gather plan, forced by a zero resident budget (the
    registry query's index would otherwise be served resident): one
    searching branch per stored partition, and any exchange carries
    only the Q×k partial triples, never graph rows or vectors."""
    from inside_vectordb_spark.operators import hnsw_index

    monkeypatch.setattr(hnsw_index, "_RESIDENT_MAX_BYTES", 0)
    df = QUERIES["ann_hnsw_vendored_indexed"](spark, SF_DIR)
    assert count_nodes(df, "MapInPandasExec") == 4
    assert count_nodes(df, "LocalTableScanExec") == 0
    for part, cols in shuffled_payloads(df):
        assert set(cols) <= {"query_id", "doc_id", "score"}, (part, cols)
    assert_not_in_plan(df, "CartesianProduct")


def test_hnsw_indexed_resident_is_one_local_scan_and_no_job(spark):
    """A resident answer plans as a single LocalTableScan (the score
    rounding folded in) and collecting it launches no Spark job, with
    the session's Arrow conversion on or off."""
    from inside_vectordb_spark.plans.audit import _walk

    sc = spark.sparkContext
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            df = QUERIES["ann_hnsw_vendored_indexed"](spark, SF_DIR)
            nodes = [
                n.getClass().getSimpleName()
                for n in _walk(df._jdf.queryExecution().executedPlan())
            ]
            assert nodes == ["LocalTableScanExec"], (arrow, nodes)
            group = f"resident-no-job-{arrow}"
            sc.setJobGroup(group, group)
            rows = df.collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(rows) == 200
            assert sc.statusTracker().getJobIdsForGroup(group) == [], arrow
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, before)


def test_mrl_sq_candidates_broadcast_no_vector_shuffle(spark):
    """The quantized funnel: queries broadcast into the decoded-codes
    scan, candidates broadcast into the rerank — no exchange ever
    carries an embedding array."""
    df = QUERIES["ann_mrl_sq_topk"](spark, SF_DIR)
    for part, cols in shuffled_payloads(df):
        if part.startswith("hashpartitioning"):
            assert not any("embedding" in c or "__cv" in c or "__qv" in c
                           for c in cols), (part, cols)
    assert count_in_plan(df, "BroadcastHashJoin") >= 2
    assert_not_in_plan(df, "CartesianProduct")
    # WindowGroupLimit pre-trims both stages' windows map-side
    assert count_in_plan(df, "WindowGroupLimit") >= 2


def _exact_gemm_inputs(spark, n_queries=3):
    """A local query batch (collecting it runs no job) and the
    embeddings file read directly, without ``io.load_table``'s
    round-robin split, so the corpus scan is the request's one job."""
    import pyarrow as pa

    q = eio.query_vectors(spark, SF_DIR).limit(1).collect()[0]
    queries = spark.createDataFrame(
        pa.table(
            {
                "query_id": pa.array(range(n_queries), pa.int64()),
                "embedding": pa.array([list(q["embedding"])] * n_queries),
            }
        )
    )
    return queries, spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_gemm_driver_is_one_local_scan_and_one_job(spark):
    """The driver placement's answer plans as a single LocalTableScan
    (the score rounding folded in), with the session's Arrow
    conversion on or off, and a whole request — construction plus
    collect — runs exactly one Spark job: the corpus scan."""
    from inside_vectordb_spark.operators.topk import exact_cosine_topk_gemm
    from inside_vectordb_spark.plans.audit import _walk

    sc = spark.sparkContext
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            queries, corpus = _exact_gemm_inputs(spark)
            group = f"exact-driver-one-job-{arrow}"
            sc.setJobGroup(group, group)
            df = exact_cosine_topk_gemm(queries, corpus, k=10)
            rows = df.collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
            nodes = [
                n.getClass().getSimpleName()
                for n in _walk(df._jdf.queryExecution().executedPlan())
            ]
            assert nodes == ["LocalTableScanExec"], (arrow, nodes)
            assert len(rows) == 30
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, arrow
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, before)


def test_exact_gemm_executor_keeps_partials_only_shuffle(spark, monkeypatch):
    """The executor placement, forced by a zero byte budget: the
    mapInPandas kernel plus the merge window, and the plan's only
    exchange carries the Q×k partial triples, never corpus vectors."""
    from inside_vectordb_spark.operators import topk

    monkeypatch.setattr(topk, "_RESIDENT_MAX_BYTES", 0)
    queries, corpus = _exact_gemm_inputs(spark)
    df = topk.exact_cosine_topk_gemm(queries, corpus, k=10)
    assert count_nodes(df, "MapInPandasExec") == 1
    assert count_nodes(df, "WindowExec") == 1
    assert [set(cols) for _, cols in shuffled_payloads(df)] == [
        {"query_id", "doc_id", "score"}
    ]


def test_exact_gemm_placement_bounds(spark, monkeypatch):
    """Over 1,000 queries, a corpus without a usable size estimate and
    a corpus over the byte budget keep the executor placement; a
    corpus exactly at the budget is served on the driver."""
    from inside_vectordb_spark.operators import topk

    def placement(queries, corpus):
        df = topk.exact_cosine_topk_gemm(queries, corpus, k=10)
        return "executor" if count_nodes(df, "MapInPandasExec") else "driver"

    queries, corpus = _exact_gemm_inputs(spark)
    big_batch, _ = _exact_gemm_inputs(spark, n_queries=1001)
    at_bound, _ = _exact_gemm_inputs(spark, n_queries=1000)
    assert placement(big_batch, corpus) == "executor"
    assert placement(at_bound, corpus) == "driver"
    # an RDD-backed relation reports spark.sql.defaultSizeInBytes
    unsized = spark.createDataFrame(corpus.rdd, corpus.schema)
    assert placement(queries, unsized) == "executor"
    est = corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    monkeypatch.setattr(topk, "_RESIDENT_MAX_BYTES", est)
    assert placement(queries, corpus) == "driver"
    monkeypatch.setattr(topk, "_RESIDENT_MAX_BYTES", est - 1)
    assert placement(queries, corpus) == "executor"
