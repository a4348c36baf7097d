"""Physical-plan regression tests: the scale story (broadcasts, pushdown,
pruning, partial aggregation, no cartesian blowups) pinned so a refactor
can't silently regress it.  These only build plans — nothing executes."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# Queries allowed a BroadcastNestedLoopJoin: each broadcasts a tiny,
# bounded side by construction (k query vectors / one corpus-stats or
# global-average row).
BNLJ_OK = {
    "q_knn_brute", "q_knn_pandas", "q_tfidf_top_terms", "q22_idle_customers",
    "q_histogram",  # 1-row min/max edges frame broadcast into bucketing
    "q11_important_stock",  # 1-row global-total broadcast
    "q15_top_supplier",  # 1-row max-revenue broadcast
    "q_unigram_logprob",  # 1-row corpus-token-total broadcast
    "q_dq_audit",  # 1-row violation×checked count joins per audit rule
    "q_bm25_search",  # 1-row (n_docs, avgdl) stats broadcast
    "q_key_skew_profile",  # 1-row table-total broadcast
    "q_knn_ivf_multiprobe",  # |queries|×|centroids| probe ranking, both tiny
    "q_heavy_hitters_cms",  # 1-row (n_total, n_keys) totals broadcast
    "q_zorder_layout",  # 1-row min/max bounds broadcast for normalization
    "q_temperature_sample",  # 1-row min-domain-count broadcast into rates
    "q_pmi_collocations",  # 1-row (token-total, pair-total) broadcast
    "q_user_trend",  # 1-row global min-day broadcast into the x offset
    "q_ann_recall_eval",  # ground-truth side IS the documented brute scan
    "q_matryoshka_eval",  # both sides are the documented brute scan
    "q_hard_negatives",  # brute scan (q_knn_brute shape) + label inequality
    "q_knn_int8",  # brute scan on quantized vectors (q_knn_brute shape)
    "q_contrastive_triplets",  # one brute scan scoring both triplet sides
    "q_drift_psi",  # 1-row timeline-midpoint bounds broadcast
    "q_hybrid_search_rrf",  # 1-row dense query vector broadcast
    "q_ndcg_eval",  # ground-truth side IS the documented brute scan
    "q_kn_logprob",  # 1-row bigram-type-total broadcast
    "q_ppl_buckets",  # inherits the KN subplan's 1-row type-total broadcast
    "q_knn_binary",  # |queries| signature rows broadcast into the 8-byte scan
    "q_graph_recall_eval",  # ground-truth side IS the documented brute scan
    "q_graph_q8_recall_eval",  # ground-truth side IS the documented brute scan
    "q_graph_routed_recall_eval",  # same brute-truth side
    "q_graph_insert_policy",  # same brute-truth side as q_graph_recall_eval
    "q_jl_recall_eval",  # bounded |queries| x corpus audit scan, both brute sides
    "q_bitext_mine",  # 25-row source batch broadcast into the target
    # scan (forward) and <=25 mined candidates into the source scan
    # (backward) — the documented bounded mining pass
}


def _plan(spark, name: str) -> str:
    return _explain(entrymod.queries()[name](spark, SF_DIR))


def _explain(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def _nodes(plan: str, op: str) -> int:
    """Count physical-plan NODES (the numbered detail entries), not raw
    substring hits — 'formatted' mode prints each node twice (tree line
    + detail header)."""
    return len(re.findall(rf"\(\d+\) {op}\b", plan))


def test_no_cartesian_anywhere(spark):
    """No registered query may plan a CartesianProduct, and nested-loop
    joins are allowed only where the build side is provably tiny."""
    for name in entrymod.queries():
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_q5_star_join_broadcasts_all_dimensions(spark):
    """Q5: every dimension join is broadcast; the single fact-side join
    is hash (hinted), never sort-merge — no fact-table sort at any SF."""
    plan = _plan(spark, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q6_pushdown_and_pruning(spark):
    """Q6: all three predicates reach the parquet scan, and the scan
    reads exactly the four referenced columns."""
    plan = _plan(spark, "q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[([^\]]*)", plan).group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    read_cols = {c.split(":")[0] for c in schema.split(",")}
    assert read_cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_q1_partial_aggregation(spark):
    """Q1: map-side partial agg before the exchange (two HashAggregate
    levels), so the shuffle carries group rows, not line items."""
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_flagship_exchange_budget(spark):
    """The sessionize→window→11-feature pipeline runs in at most two
    exchanges (window partitioning + final agg); a refactor that adds a
    third shuffle would regress 100 TB wall-clock materially."""
    plan = _plan(spark, "q_session_features")
    assert _nodes(plan, "Exchange") <= 2, plan


def test_bucketed_join_is_exchange_free(spark):
    """The bucketed orders⋈lineitem join: with broadcast disabled (the
    100 TB regime — neither fact side fits), the join must plan as a
    SortMergeJoin over the two bucketed scans with NO exchange below
    it; the only shuffle in the whole query is the final tiny groupBy.
    This is the pin that the ingest-time bucket layout actually
    eliminates the big join shuffle."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "q_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert _nodes(plan, "SortMergeJoin") == 1, plan
    assert _nodes(plan, "Exchange") == 1, plan


def test_time_rollup_cascade_reuses_lower_grains(spark):
    """Hour→day→week cascade: the day and week grains aggregate the
    persisted hourly frame (InMemoryTableScan), so the raw events scan
    appears exactly once in the plan — coarser grains never rescan the
    fact table."""
    plan = _plan(spark, "q_time_rollup")
    # All three union branches read cached frames ('formatted' mode also
    # re-prints the cached relation's plan inside each InMemoryTableScan
    # node, so count NODES, not substrings): the raw scan only exists
    # inside the hourly cache, executed once.
    assert _nodes(plan, "InMemoryTableScan") >= 3, plan
    assert _nodes(plan, "Scan parquet") == 1, plan


def test_sampling_is_scan_plus_filter_only(spark):
    """Key-stable sampling must stay a pure row-predicate: exactly one
    exchange (the summary agg), no join nodes at all."""
    plan = _plan(spark, "q_sample_hash")
    assert "Join" not in plan
    assert _nodes(plan, "Exchange") == 1


def test_decontaminate_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (tiny) benchmark shingle set
    and never sort-merge the corpus against it; the shingle subplan is
    shared, so only one parquet scan of documents survives."""
    plan = _plan(spark, "q_decontaminate")
    assert _nodes(plan, "BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert _nodes(plan, "Scan parquet") <= 1, plan


def test_chunk_sequences_prefix_sum_is_distributed(spark):
    """Sequence chunking must window the data partition-locally (hash
    on pid), keeping any SinglePartition exchange confined to the
    n_partitions-row offsets frame; the offsets side joins broadcast."""
    plan = _plan(spark, "q_chunk_sequences")
    assert "hashpartitioning(pid" in plan, plan
    assert _nodes(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert _nodes(plan, "Scan parquet") <= 1, plan


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q10_returned_items", "q_topk"]
)
def test_topk_never_total_sorts(spark, name):
    """orderBy().limit(k) must plan TakeOrderedAndProject — a global
    sort of the full result would be a scale regression."""
    plan = _plan(spark, name)
    assert "TakeOrderedAndProject" in plan, name


def test_range_filter_pushes_ts_predicates_to_scan(spark):
    """The events range filter must reach the parquet scan as
    PushedFilters on the RAW ts column (row-group pruning at scale) —
    the regression guard for the ts_literal rewrite: wrapping ts in a
    conversion expression inside the predicate would silently turn
    pruning off while staying result-correct."""
    plan = _plan(spark, "q_range_filter")
    pushed = re.search(r"PushedFilters: \[([^\]]*)", plan).group(1)
    assert "GreaterThanOrEqual(ts" in pushed, pushed
    assert "LessThan(ts" in pushed, pushed


def test_sliding_window_single_exchange(spark):
    """Sliding-window features: one hash exchange on the grouping keys
    (the window explode is a projection, not a shuffle)."""
    plan = _plan(spark, "q_stream_sliding_features")
    assert _nodes(plan, "Exchange") == 1, plan[:600]


def test_group_topk_single_exchange_no_global_sort(spark):
    """Per-group top-k sample: one exchange on the group keys and no
    global Sort — the ranking sort is the per-partition window sort."""
    plan = _plan(spark, "q_group_topk_sample")
    # window exchange + final per-type agg exchange
    assert _nodes(plan, "Exchange") <= 2, plan[:600]
    assert "rangepartitioning" not in plan.lower()


def test_approx_sketch_keeps_percentiles_out_of_sortagg(spark):
    """q_approx_sketch's distinct and quantile aggregates must stay
    SPLIT: the single-agg form plans an Expand that drags every
    percentile buffer through a SortAggregate fallback (measured 7x at
    sf0.1).  Pin: zero SortAggregate, and the percentile buffers run
    as exactly one ObjectHashAggregate pair (partial + final)."""
    plan = _plan(spark, "q_approx_sketch")
    assert _nodes(plan, "SortAggregate") == 0
    assert _nodes(plan, "ObjectHashAggregate") == 2


def test_int8_quantize_is_exchange_free(spark):
    """The quantizer needs no statistics pass: scan -> explode ->
    project, zero Exchange anywhere in the plan."""
    plan = _plan(spark, "q_int8_quantize")
    assert _nodes(plan, "Exchange") == 0, plan


def test_bpe_tokenize_topk_plans_take_ordered(spark):
    plan = _plan(spark, "q_bpe_tokenize")
    assert "TakeOrderedAndProject" in plan


def test_knn_ivf_trained_broadcasts_probes(spark):
    """Trained IVF search: probes (queries x nprobe) broadcast into the
    bucketed corpus scan — never a shuffle of the corpus onto buckets."""
    plan = _plan(spark, "q_knn_ivf_trained")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_ivfpq_broadcasts_adc_tables(spark):
    """Composed IVF-PQ: both per-(query, list) ADC tables and the
    rescore sides are broadcast into the encoded-corpus scan — the
    corpus is never shuffled onto buckets or codes, and nothing
    degenerates to a cartesian product.  ``q_knn_ivfpq`` returns a
    checkpoint of this search (it releases its training cache before
    returning), so the search plan over a trained index is read here;
    training runs jobs."""
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        ivfpq_search,
        train_ivfpq,
    )
    from activity_classifier_spark_cassandra_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, codebooks, resid = train_ivfpq(emb)
    try:
        plan = _explain(ivfpq_search(emb, coarse, codebooks, resid=resid))
    finally:
        resid.unpersist()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_skewres_flagship_exchange_budget(spark):
    """Hybrid flagship: each branch shuffles its rows a bounded number
    of times — cold (window) + hot (bucket window + metadata joins) +
    the union feature agg must stay within a fixed exchange budget, and
    every metadata join is broadcast (hot side only carries detected
    hot keys)."""
    plan = _plan(spark, "q_session_features_skewres")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2  # hot-key list + metadata
    # 14 at round 6; 19 at round 7: the lazy adaptive threshold
    # (hot_keys_adaptive) replaced the eager full events scan with a
    # window-sum over the per-key counts frame, and Catalyst plans
    # that detection subtree once per branch reference — the extra
    # exchanges all move the counts frame (one row per distinct key,
    # metadata-scale), never the events table, and the runtime
    # de-duplicates via exchange reuse.  The pin still catches a
    # refactor that starts re-shuffling the full frame per stage.
    assert _nodes(plan, "Exchange") <= 19, _nodes(plan, "Exchange")


def test_audio_features_prunes_payload_before_exchange(spark):
    """The binary WAV payload must exist only inside the Python stages:
    nothing after the mapInPandas decode carries the content column,
    and the plan has no exchange at all (pure per-partition map)."""
    plan = _plan(spark, "q_audio_features")
    assert _nodes(plan, "Exchange") == 0, plan


def test_hybrid_rrf_fusion_joins_are_bounded(spark):
    """RRF: the only big-data work is the two candidate generations;
    the fusion joins run on ≤2·RRF_LIST_N rows.  Pin: no cartesian,
    and the scan count stays at the two candidate generators' own
    budget (4 pruned documents scans from the BM25 shape — postings,
    doclen, stats — plus 2 embeddings scans); a refactor that
    re-scans per fused row would blow this up."""
    plan = _plan(spark, "q_hybrid_search_rrf")
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "Scan parquet") <= 6, plan


def test_edit_distance_dp_runs_after_candidate_gate(spark):
    """Edit-distance verify: the Levenshtein DP must sit above the
    banded candidate join + est-Jaccard gate (a HashAggregate with the
    n_match count), never on a raw doc×doc product; scans stay at the
    candidate generator's budget + the two text-side reads."""
    plan = _plan(spark, "q_dedup_edit_distance")
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan
    # band-count gate aggregates (partial+final) are present
    assert _nodes(plan, "HashAggregate") >= 2, plan
    assert _nodes(plan, "Scan parquet") <= 3, plan


def test_ndcg_eval_joins_rank_metadata_only(spark):
    """NDCG: corpus scans feed the two rankings; the DCG join runs on
    N_QUERIES·NDCG_K rank rows.  Pin the scan budget (truth + approx
    sides read embeddings twice each: queries + corpus)."""
    plan = _plan(spark, "q_ndcg_eval")
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "Scan parquet") <= 4, plan


def test_pca_power_final_plan_is_exchange_free(spark):
    """The registered PCA frame is one projection over the parquet
    scan: training collapsed to broadcast literals (mu, v), so the
    scoring plan must contain no exchange, no join, no aggregate."""
    plan = _plan(spark, "q_pca_power")
    assert _nodes(plan, "Exchange") == 0, plan
    assert _nodes(plan, "HashAggregate") == 0, plan
    assert _nodes(plan, "Scan parquet") == 1, plan


def test_minhash_cc_plan_is_checkpoint_rooted(spark):
    """The star-CC fixpoint runs eagerly with per-round
    localCheckpoints, so the RETURNED plan must be rooted at
    checkpointed RDD scans — no parquet scan, no re-derivation of the
    banded candidate join, and the only remaining work is the
    metadata-scale root-labeling joins + the size window."""
    plan = _plan(spark, "q_dedup_minhash_cc")
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_winnow_overlap_plan_shape(spark):
    """Winnowing: gram hashing + window-min ride ONE doc_id sort
    (adjacent window specs share the exchange), the pair join is an
    equi-join (no cartesian), and the documents scan is shared — the
    fps frame feeds sizes/rare/join via one scan subtree, so the plan
    must stay within a bounded scan budget."""
    plan = _plan(spark, "q_winnow_overlap")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # window-min + lead over the same (doc_id, pos) ordering must not
    # introduce a second exchange per window spec
    assert _nodes(plan, "Exchange") <= 6, plan
    assert _nodes(plan, "Scan parquet") <= 4, plan


def test_dsir_scores_via_broadcast_ratio_join(spark):
    """DSIR: the 256-row log-ratio model joins the per-doc bucket
    counts as a BROADCAST (the corpus side is never shuffled for the
    scoring join), the bucketed frame is persisted so model build and
    scoring share ONE corpus scan, and nothing is cartesian."""
    plan = _plan(spark, "q_dsir_weights")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert _nodes(plan, "Scan parquet") <= 1, plan


def test_dedup_apply_broadcasts_the_component_table(spark):
    """The corpus joins the (tiny) component-label table broadcast on
    BOTH paths — members ranked, non-members anti-joined — so the
    corpus itself is never shuffled; the ranking window partitions
    the member table only (its exchange input is the broadcast-join
    output, not a corpus sort)."""
    plan = _plan(spark, "q_dedup_apply")
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "BroadcastHashJoin") >= 2, plan
    # two corpus scans (member join + anti join); CC itself is rooted
    # at the checkpointed RDD, not parquet
    assert _nodes(plan, "Scan parquet") <= 2, plan
    assert "Scan ExistingRDD" in plan, plan


def test_gopher_rules_is_a_pure_projection(spark):
    """The Gopher filter must run at scan speed: one parquet scan, no
    exchange, no join — every rule is a codegen'd expression."""
    plan = _plan(spark, "q_gopher_rules")
    assert _nodes(plan, "Exchange") == 0, plan
    assert _nodes(plan, "Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_ppl_buckets_broadcasts_the_threshold_table(spark):
    """CCNet bucketing: the per-language tercile table joins back
    BROADCAST; the scored (doc_id, lang, ppl) frame is persisted so
    threshold agg and bucket join share one KN evaluation."""
    plan = _plan(spark, "q_ppl_buckets")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_kn_logprob_trains_on_type_table_only(spark):
    """Kneser-Ney: all model stats (c1/n1f, n1p, type total) derive
    from the bigram TYPE table, not repeated corpus scans — the plan
    re-derives the bigram projection a bounded number of times (type
    build + scoring side) and never joins corpus-to-corpus."""
    plan = _plan(spark, "q_kn_logprob")
    assert "CartesianProduct" not in plan
    # the scalar type-count join must be the broadcast variant
    assert "BroadcastNestedLoopJoin" in plan, plan
    # persisted type table: one corpus scan feeds the type build, one
    # feeds the scoring side; the 3 model stats read the cache
    assert "InMemoryTableScan" in plan, plan
    assert _nodes(plan, "Scan parquet") <= 2, plan


def test_winnow_selection_stays_row_local_single_md5(spark):
    """Round-8 winnow shape: fingerprint selection is row-local array
    math.  Pins: (1) the optimized plan evaluates md5 in exactly ONE
    place — the InferFiltersFromGenerate regression re-inlined the
    whole selection (nested lambdas included) into the scan Filter,
    turning the scan quadratic; (2) no Window/Sort anywhere (the old
    shape shuffled the full gram table through a doc_id window); (3)
    the persisted fingerprint/pruned frames are reused, so the plan
    holds InMemoryTableScans rather than repeated document scans."""
    import __spark_entry__ as entrymod
    from activity_classifier_spark_cassandra_spark.operators.dedup import (
        _winnow_fingerprint_rows,
    )

    fp = _winnow_fingerprint_rows(spark, "/root/testdata/sf0.001")
    opt = fp._jdf.queryExecution().optimizedPlan().toString()
    # the cached full query references this subplan several times, so
    # the single-evaluation pin runs on the fingerprint frame itself
    assert opt.count("md5") == 1, opt.count("md5")
    assert "Window" not in opt and "Sort" not in opt, opt

    plan = _plan(spark, "q_winnow_overlap")
    assert _nodes(plan, "Window") == 0, plan
    assert _nodes(plan, "InMemoryTableScan") >= 3, plan


def test_phash_prunes_payload_and_ships_16_byte_rows(spark):
    """The PNG bytes must exist only inside the Python stages: no
    exchange may carry the content column — everything that shuffles
    is (media_id, phash) plus the band projection."""
    plan = _plan(spark, "q_phash_near_dup")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "content" not in line, line


def test_span_apply_one_gram_exchange_no_cartesian(spark):
    """Apply pass rides the report's shape: one gh window exchange,
    one doc_id window, aggregates; the final verdict join must not
    re-scan documents more than twice (grams + n_tokens projection)."""
    plan = _plan(spark, "q_span_dedup_apply")
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "Scan parquet") <= 2, plan
    assert _nodes(plan, "Window") == 2, plan


def test_jpeg_decode_is_zero_exchange_python_chain(spark):
    """Synthesis and decode are both partition-local Python stages —
    the plan must contain no Exchange and never ship the blob."""
    plan = _plan(spark, "q_jpeg_decode")
    assert _nodes(plan, "Exchange") == 0, plan
    assert "CartesianProduct" not in plan


def test_knn_binary_signature_scan_shape(spark):
    """The hamming scan must broadcast the query side (bounded rows);
    the rerank never re-plans a second corpus-wide nested loop."""
    plan = _plan(spark, "q_knn_binary")
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 1, plan


def test_triangle_count_three_thin_joins(spark):
    """Degree-ordered triangle counting: hash/merge equi-joins only
    (orientation, wedge, closure + 2 degree joins), no nested loop."""
    plan = _plan(spark, "q_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bitext_corpus_candidate_join_shape(spark):
    """Full-corpus mining: the probes->cells candidate joins are
    equi-joins keyed on the cell id with NOTHING corpus-sized
    broadcast (the probe frame is corpus-scale, unlike the batch
    miner's 25-row broadcast), and no window runs over a raw side —
    only over the per-query candidate ranking keys."""
    plan = _plan(spark, "q_bitext_mine_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # round 12: the registry path is the BLAS variant — the forward
    # and backward candidate passes COGROUP probes with cell members
    # on the cell id (each side's vectors cross Arrow once per cell,
    # never per pair), so the pin is the cogroup node count plus the
    # no-cartesian guards above
    assert len(re.findall(r"FlatMapCoGroupsInPandas", plan)) >= 2
