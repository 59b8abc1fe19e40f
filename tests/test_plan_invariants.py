"""Global physical-plan invariants over the whole query registry.

Every registered query is planned (not executed) at sf0.001 and its
physical plan checked for patterns that would be scale-killers on a real
cluster:

* ``CartesianProduct`` — never acceptable.
* ``BroadcastNestedLoopJoin`` — only for the brute-force ANN baselines,
  whose build side is an explicitly broadcast, provably small query /
  centroid set (that IS the brute-force contract; the LSH/IVF tiers are
  the scale path).
* Unpartitioned ``Window`` (empty partitionSpec — Spark plans it as a
  single-partition WindowExec, serializing the whole input through one
  task) — only over inputs bounded by CONSTRUCTION, never corpus-sized
  (see WINDOW_GLOBAL_ALLOWED). r8: orderkey_gap_islands' global
  row_number was rewritten onto relational.global_row_number (range
  buckets + broadcast offsets); r11 rewrote it again onto boundary
  anti-joins whose pairing windows run over TakeOrdered top-100
  frames, so its allowlist slot is the bounded-frame kind.

* A root ``Sort`` (the first node below the root projections of the
  optimized plan) — only where something reads the order
  (ROOT_SORT_KEPT): registry results are unordered multisets.

Catching these at plan level keeps a future query edit from silently
reintroducing an all-pairs join that works at sf0.01 and dies at 100 TB.

The exact similarity joins (one shared prefix kernel in operators/dedup)
are also pinned to key their candidate joins on the 8-byte token hash
``_h`` and never to aggregate or join on the gram string.

The publish path's wide builds (the validation gate's fused aggregate
and ``mask_model``'s projection) are pinned to a driver cost, counted in
py4j commands, that barely grows with the column count.
"""

from __future__ import annotations

import os
import re

import pytest

from dbt_gdpr_anonymizer_spark.queries import all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")

# Allowed BroadcastNestedLoopJoin cases — every one has a broadcast side
# whose size is bounded by CONSTRUCTION, not by data volume:
#   ann_cosine_topk / ann_ivf_topk / kmeans_embedding_clusters /
#   ann_recall_report — brute-force baselines and centroid tables
#     (query-set / k·dim scale);
#   tfidf_top_terms / bm25_search / sparse_cosine_search /
#   word_frequency_zipf / event_value_drift_psi — a 1-row corpus-stats
#     aggregate cross-joined in;
#   t_closeness_segments / t_closeness_numerators — group ×
#     sensitive-value grid: both cross-join sides are post-aggregation
#     tables bounded by key cardinality (the sensitive-value dim and a
#     1-row corpus total), never data volume.
#   erasure_cascade_documents was REMOVED from this list in r7: the
#     small-list tier is now a trie-regex contains-any FILTER compiled
#     from the collected term list — it plans NO join operator at all,
#     and this test pins that (a regression back to the nested-loop
#     contains join fails here).
BNLJ_ALLOWED = {
    "t_closeness_segments",
    "t_closeness_numerators",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "kmeans_embedding_clusters",
    "ann_recall_report",
    "tfidf_top_terms",
    "bm25_search",
    "sparse_cosine_search",
    "word_frequency_zipf",
    "event_value_drift_psi",
    "dataset_card_by_source",
    #   funnel_conversion — the stacked stage counts are 1-row aggregates
    #     cross-joined in (bounded by construction, never data volume)
    "funnel_conversion",
    #   source_freshness_report — the global-max is a 1-row broadcast
    #     cross join onto a per-source (bounded-cardinality) aggregate
    "source_freshness_report",
    #   mixture_sampling_plan — 1-row corpus-total broadcast cross join
    #     onto the source-cardinality plan table (same bounded pattern)
    "mixture_sampling_plan",
    #   bigram_lm_perplexity_documents / naive_bayes_lang_classifier —
    #     the model's 1-row stats frame (vocab size / class priors+totals)
    #     broadcast cross-joined into the scoring join (bounded by
    #     construction: always exactly one row)
    "bigram_lm_perplexity_documents",
    "naive_bayes_lang_classifier",
    #   trigram_lm_interpolated_documents — the same 1-row (V, T) stats
    #     frame broadcast cross-joined onto the trigram-vocab-bounded
    #     model table (the bigram/NB bounded 1-row-stats pattern)
    "trigram_lm_interpolated_documents",
    #   kn_bigram_lm_documents — the 1-row bigram-type total broadcast
    #     cross-joined onto the bigram-vocab-bounded model table (same
    #     bounded 1-row-stats pattern as the other LM queries)
    "kn_bigram_lm_documents",
    #   pmi_collocations_documents — the 1-row corpus pair total
    #     broadcast cross-joined onto the vocab-bounded min-count-cut
    #     pair table (same bounded 1-row-stats pattern)
    "pmi_collocations_documents",
    #   cm_join_size_orders_lineitem — the 1-row sketch estimate
    #     broadcast cross-joined with the 1-row exact join count (two
    #     1-row frames; the bounded 1-row-stats pattern)
    "cm_join_size_orders_lineitem",
    #   distinctive_terms_documents — the 1-row corpus token total
    #     broadcast cross-joined onto the vocab-bounded (group, word)
    #     count table (same bounded 1-row-stats pattern as bigram/NB)
    "distinctive_terms_documents",
    #   dsir_importance_weights_documents / dsir_gumbel_topk_documents —
    #     the 1-row target/pool token-totals frame broadcast cross-joined
    #     onto the bucket-bounded (<= n_buckets rows) model table
    "dsir_importance_weights_documents",
    "dsir_gumbel_topk_documents",
    #   semantic_decontaminate_embeddings — EXACT broadcast scoring
    #     against the benchmark set is the contract (eval suites are
    #     small by construction; an LSH candidate tier would lose recall
    #     exactly where misses are the failure mode)
    "semantic_decontaminate_embeddings",
    #   pq_recall_report — composes the exact cosine_topk baseline (the
    #     ann_recall_report precedent: query-set-bounded broadcast side)
    "pq_recall_report",
    #   pq_adc_topk_embeddings — the brute-force ADC tier: the broadcast
    #     side is the query-LUT table (query-set scale, the
    #     ann_cosine_topk contract); the cell-routed composition that
    #     replaces it at scale is ivf_pq_topk_embeddings, whose probe
    #     join is a broadcast HASH join and is NOT allowlisted here
    "pq_adc_topk_embeddings",
    #   zorder_layout_orders — the 1-row min/max stats frame broadcast
    #     cross-joined into the per-row key computation (the bounded
    #     1-row-stats pattern)
    "zorder_layout_orders",
    #   assoc_rules_brand_pairs — the 1-row basket-total frame broadcast
    #     cross-joined onto the brand-domain-bounded rules table (the
    #     bounded 1-row-stats pattern)
    "assoc_rules_brand_pairs",
    #   spatial_radius_pairs_customers — the 1-row max|lat| stats frame
    #     broadcast cross-joined into the per-row grid-cell computation
    #     (the bounded 1-row-stats pattern); the pair join itself is a
    #     hash equi-join on (gi, gj) and is NOT allowlisted
    "spatial_radius_pairs_customers",
    #   vocab_growth_documents — the 1-row doc-count frame broadcast
    #     cross-joined into the integer bucket assignment (the bounded
    #     1-row-stats pattern)
    "vocab_growth_documents",
    #   rfm_segments_customers — two 1-row broadcasts (corpus max date;
    #     the 12-boundary pivot row) cross-joined into per-row codegen
    #     (the bounded 1-row-stats pattern)
    "rfm_segments_customers",
    #   rrf_fusion_documents — the 1-row corpus stats (n_docs, avgdl)
    #     broadcast cross-joined into both scorers (the bm25_search
    #     bounded 1-row-stats pattern)
    "rrf_fusion_documents",
    #   mondrian_utility_customers — the 1-row global-range frame
    #     broadcast cross-joined onto the class-cardinality-bounded
    #     Mondrian box table (the bounded 1-row-stats pattern)
    "mondrian_utility_customers",
    #   q22_global_sales_opportunity — the 1-row positive-balance stats
    #     frame broadcast cross-joined into the threshold filter (the
    #     bounded 1-row-stats pattern; Q22's scalar subquery)
    "q22_global_sales_opportunity",
    #   auc_lang_classifier — composes naive_bayes_scores, whose 1-row
    #     stats frame (class priors + token totals) is the allowlisted
    #     bounded 1-row-stats crossJoin of the NB query itself
    "auc_lang_classifier",
    #   minkprob_documents — the bigram LM's 1-row vocab-size frame
    #     broadcast cross-joined onto the vocab-bounded model table
    #     (the bigram_lm_perplexity bounded 1-row-stats pattern)
    "minkprob_documents",
    #   ndcg_fused_retrieval — composes rrf_fusion (its 1-row corpus
    #     stats broadcast) plus the 1-row dcg x idcg cross join (two
    #     bounded 1-row-stats frames)
    "ndcg_fused_retrieval",
    #   jl_distortion_report — the pair fan-out is a crossJoin of two
    #     40-row query-set frames (the t_closeness/ann_cosine bounded
    #     contract); the corpus is never pair-joined
    "jl_distortion_report",
}


# Allowed unpartitioned-Window cases — every global window below runs
# over a frame bounded by CONSTRUCTION, never by corpus size:
#   word_frequency_zipf — rank over the 100 surviving top terms;
#   temperature_resample_documents — Σ over the GROUP-SIZES table
#     (group-cardinality rows: languages/domains), not the corpus;
#   token_budget_select_documents — the cumulative window runs over the
#     single boundary score-stratum only (one ppm value's population);
#     degenerate all-ties corpora are routed to the range-bucketed
#     two-pass scheme by the max_boundary_rows guard (r8).
WINDOW_GLOBAL_ALLOWED = {
    "word_frequency_zipf",
    "temperature_resample_documents",
    "token_budget_select_documents",
    #   vocab_growth_documents — the cumulative fold runs over the
    #     n_buckets-row (16) bucket frame, never the corpus
    "vocab_growth_documents",
    #   rrf_fusion_documents — the rank windows run over the two
    #     TakeOrdered top-100 frames (bounded by construction, the
    #     word_frequency_zipf precedent)
    "rrf_fusion_documents",
    #   ndcg_fused_retrieval — the rank/ideal-rank windows run over the
    #     <= 2*topn-row fused release (bounded by construction)
    "ndcg_fused_retrieval",
    #   orderkey_gap_islands — r11 anti-join rewrite: the start/end
    #     pairing row_numbers run over the two TakeOrdered top-100
    #     frames (bounded by construction, the rrf_fusion precedent);
    #     the corpus-scale work is the two hash anti self-joins
    "orderkey_gap_islands",
}


# A registry result is an unordered multiset: the checker and the bench
# hash rows without regard to order, so a sort at the root of a plan is
# two jobs (range sample + exchange) whose order nothing reads. A root
# Sort is kept only where something reads the order:
ROOT_SORT_KEPT = {
    # tests/test_corpus_profile.py asserts the collect() order (rank).
    "word_frequency_zipf",
    # The rest sort inside the operator (named per entry) whose output
    # the query returns; dropping an operator's sort changes that
    # operator and its own tests (open on ROADMAP direction 2).
    "assoc_rules_brand_pairs",  # operators/basket.association_rules
    "benford_profile_orders",  # operators/profile.benford_profile
    "changepoint_daily_events",  # operators/profile.changepoint_scan
    "dp_median_acctbal_by_segment",  # operators/privacy.dp_quantile
    "dp_noisy_order_counts",  # operators/privacy.dp_noisy_counts
    "dp_noisy_spend_by_priority",  # operators/privacy.dp_noisy_sum
    "gini_spend_by_priority",  # operators/profile.gini_concentration
    "k_anonymity_generalize",  # operators/privacy.generalize_to_k
    "ks_drift_event_values",  # operators/profile.ks_drift
    "l_diversity",  # operators/privacy.l_diversity_violations
    "microaggregate_acctbal",  # operators/privacy.microaggregate
    "minkprob_documents",  # operators/lm.min_k_prob_scores
    "mondrian_kanon_customers",  # operators/privacy.mondrian_partition
    "record_linkage_customers",  # operators/linkage.fs_link_pairs
    "rfm_segments_customers",  # operators/segment.rfm_segments
    "rrf_fusion_documents",  # operators/similarity.rrf_fuse
    "schema_test_report",  # operators/validate.generic_schema_tests
    "source_overlap_matrix_documents",  # operators/quality.source_overlap_matrix
    "spatial_radius_pairs_customers",  # operators/spatial.radius_pairs
    "spearman_qty_price_lineitem",  # operators/profile.spearman_corr
    "t_closeness_numerators",  # operators/privacy.t_closeness_numerators
    "t_closeness_segments",  # operators/privacy.t_closeness_report
    "triangle_count_brands",  # operators/graph.triangle_count
    "vocab_growth_documents",  # operators/vocab.vocab_growth
    "zorder_layout_orders",  # operators/layout.zorder_layout_stats
}

_planned: dict[str, object] = {}


def _plan(spark, name):
    """The query's DataFrame, built once per session: every invariant
    below reads the same plan."""
    if name not in _planned:
        _planned[name] = all_queries()[name](spark, SF_DIR)
    return _planned[name]


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_unbounded_join_in_plan(spark, name):
    df = _plan(spark, name)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join outside the brute-force allowlist"
        )
    if name not in WINDOW_GLOBAL_ALLOWED:
        from tests.conftest import unpartitioned_windows

        hits = unpartitioned_windows(df)
        assert not hits, (
            f"{name}: unpartitioned Window (single-partition WindowExec "
            f"at scale) outside the bounded-frame allowlist: {hits}"
        )


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_unread_root_sort(spark, name):
    if name in ROOT_SORT_KEPT:
        return
    node = _plan(spark, name)._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() == "Project":
        node = node.child()
    assert node.getClass().getSimpleName() != "Sort", (
        f"{name}: root Sort that no consumer reads (results are unordered "
        "multisets); drop it or add the query to ROOT_SORT_KEPT with the reader"
    )


# A join keyed on the token hash, and an aggregate or join keyed on the
# gram string alone (containment's old groupBy("shingle") + back-join).
_H_JOIN = re.compile(r"Join \[_h#\d+L?\], \[_h#\d+L?\]")
_GRAM_AGG = re.compile(r"HashAggregate\(keys=\[(shingle|_gram)#\d+L?\]")
_GRAM_JOIN = re.compile(r"Join \[(shingle|_gram)#")


@pytest.mark.parametrize(
    "name",
    ["edit_distance_neardup", "ngram_containment_neardup", "ngram_jaccard_neardup"],
)
def test_similarity_joins_key_on_token_hash(spark, name):
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    df = all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_caches(df)
    assert _H_JOIN.search(plan), f"{name}: no candidate join on _h"
    assert not _GRAM_AGG.search(plan), f"{name}: aggregate keyed on the gram"
    assert not _GRAM_JOIN.search(plan), f"{name}: join keyed on the gram"


def _py4j_commands(monkeypatch, fn) -> int:
    """py4j commands this thread sends while ``fn()`` runs, not counting
    the reference releases that Python garbage collection sends whenever
    it runs."""
    import threading

    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    caller = threading.get_ident()
    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.get_ident() == caller and not command.startswith(release):
            sent[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        fn()
    return sent[0]


# Extra columns per build -> the most py4j commands they may add in
# total: the gate's scan counts travel as one array column (flat), and
# mask_model's selectExpr ships one string per column (about one command
# each). Built from chained Column calls they cost ~100 and ~20 per column.
_WIDE_BUILD_BOUND = {"validate": 10, "mask_model": 2 * 35}


@pytest.mark.parametrize("build", sorted(_WIDE_BUILD_BOUND))
def test_wide_build_cost_is_flat_in_column_count(spark, monkeypatch, build):
    from dbt_gdpr_anonymizer_spark.config import EngineSettings
    from dbt_gdpr_anonymizer_spark.operators.validate import validate
    from dbt_gdpr_anonymizer_spark.policy import SERVICES_POLICY, mask_model

    # 5 string columns (validate) / the 5 policy columns (mask_model),
    # then 35 more pass-through string columns.
    base = {
        "validate": "contact_email string, contact_phone string, "
        "contact_email_anon string, contact_phone_anon string, "
        "organization_category string, latitude double, longitude double, "
        "latitude_anon double, longitude_anon double",
        "mask_model": "contact_email string, contact_phone string, "
        "street_address string, latitude double, longitude double",
    }[build]
    conf = EngineSettings(salt_key="unit_salt_for_build_cost")

    def frame(extra: int):
        ddl = base + "".join(f", x{i} string" for i in range(extra))
        return spark.createDataFrame([], ddl)

    def run(df):
        if build == "validate":
            validate(df, df)
        else:
            mask_model(df, SERVICES_POLICY, conf)

    frames = {extra: frame(extra) for extra in (0, 35)}
    run(frames[0])  # warm-up: first-call imports and JVM class loading
    cost = {
        extra: min(_py4j_commands(monkeypatch, lambda: run(df)) for _ in range(3))
        for extra, df in frames.items()
    }
    assert cost[35] - cost[0] <= _WIDE_BUILD_BOUND[build], cost
