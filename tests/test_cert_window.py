"""Certification-window bookkeeping, enforced mechanically.

The correctness driver certifies ``__spark_entry__.QUERIES``
front-to-back and stops at 50 entries; queries past the window rely on
prior-round certificates. Round 4's advice flagged that the rotation
discipline lived only in a comment — these tests make it a tracked
requirement: the window composition for the CURRENT round is pinned, so
an accidental reorder (or an oracle-less query sneaking in) fails CI
instead of silently spending a certification slot.

When rotating for a new round, update ROUND_WINDOW_HEAD deliberately —
that edit is the bookkeeping record.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

WINDOW = 50

# Round-12 window head: the queries that MUST be certified this round.
# Composition pinned by the round-11 verdict (Next round #1):
# the 9 ROUND12_LEADS (8 displaced r8 holders + the never-certified
# round-11 addition), then strict least-recently-certified.
ROUND_WINDOW_HEAD = [
    # the 9 round-12 leads, in the order the round-11 verdict pins:
    # (a) r8 holders displaced by the 4-round cycle, r8 order
    "mixture_weights", "incremental_leakage_split", "bpe_merges",
    "bpe_encode", "bigram_surprisal", "perplexity_buckets",
    "dsir_importance", "funnel_daily",
    # (b) reshaped in round 11: none
    # (c) new in round 11, never driver-certified
    "incremental_span_removed",
    # then the first 41 of the 47 queries last certified together,
    # in that run's certification order
    "event_transitions", "incremental_curate", "behavior_diversity",
    "contamination", "shipping_priority", "churn_labels",
    "time_decay_features", "big_spender_customers", "multimodal_decode",
    "multimodal_frames", "salted_user_agg", "salted_join",
    "top_docs_per_source", "duration_percentiles", "volume_shipping",
    "duplicate_spans", "incremental_duplicate_spans", "product_profit",
    "returned_item_customers", "order_count_distribution", "user_daily",
    "item_daily", "entry_type_daily", "binge_ratio",
    "retention_yesterday", "retention_today", "dim_gap_features",
    "exact_dedup", "minhash_signatures", "minhash_lsh_pairs",
    "dedup_components", "ngram_jaccard_pairs", "simhash",
    "simhash_near_pairs", "text_profile", "repetition_profile",
    "market_share", "quality_filter_verdict", "bpe_encode_persisted",
    "dsir_select", "dsir_select_tokens",
]


# no spare slots this round — the 9 leads + 41 r9 rotations consume
# all 50. Anything added or reshaped in round 12 lands as flagged
# ROUND13_LEADS overflow below.
ROUND_WINDOW_FILL: list[str] = []

# ROUND-13 LEADS (the sanctioned overflow path, fifth application):
# queries that must open the round-13 window, least-recently-certified
# first. (a) the 6 r9 certificate holders the 50-slot window could not
# fit this round, in their r9 certification order; (b) any query
# reshaped in round 12 (none); (c) any query NEW in round 12 (none —
# round 12 followed the verdict's "strengthen, don't grow": zero
# additions).
ROUND13_LEADS = [
    # (a) r9 holders displaced by the 4-round cycle, r9 order
    "quality_rule_report", "ccnet_curate", "hard_negatives",
    "knn_label_agreement", "dedup_rate_report", "tokenizer_drift",
]

# CYCLE-LENGTH NOTE: at 154+ registered queries a 50-slot window
# cannot complete a 3-round LRU rotation (3 x 50 = 150 < 154) — the
# steady-state cycle is FOUR rounds, mathematically forced by coverage
# growth. The invariant the window test enforces is strict
# least-recently-certified ORDER — the cycle length follows from
# |queries| / WINDOW.
#
# ROUND-13 FILL (the 50 queries last certified together after those
# 47, in that run's certification order). The
# ROUND13_LEADS above + the FIRST 50-len(leads)=44 of these fill
# round 13's window; the remainder (the last 6: user_cohort_setops,
# customers_no_orders, tokenizer_fertility, split_leakage_audit plus
# the two preceding them) lead round 14 ahead of the r11 holders:
#   tfidf_top_terms, pmi_collocations, ngram_novelty,
#   cross_source_overlap, quality_survivor_dedup, d4_select,
#   curriculum_order, lang_id_confusion, ivf_recall_sweep,
#   incremental_novelty, pii_scrub, fingerprint_pairs,
#   cardinality_sketch, semantic_dedup, line_dedup, token_surprisal,
#   item_pagerank, distribution_drift, bpe_pair_counts,
#   quantile_sketch, scd2_history, feature_backfill, negative_samples,
#   key_skew_profile, frequency_sketch, rolling_active_users,
#   quality_report, user_value_ranks, cohort_retention,
#   item_triangles, attribution, winsorize, target_encode,
#   multimodal_resize, multimodal_audio_windows, order_priority_counts,
#   forecast_baseline, token_budget_mix, leakage_safe_split,
#   corpus_shuffle, dataset_split, split_summary, stratified_sample,
#   weighted_sample, capped_user_events, source_balanced_sample,
#   user_cohort_setops, customers_no_orders, tokenizer_fertility,
#   split_leakage_audit


def test_round13_leads_are_registered_past_the_window():
    names = list(entrymod.QUERIES)
    for q in ROUND13_LEADS:
        assert names.index(q) >= WINDOW


def test_window_head_holds_the_must_certify_queries():
    names = list(entrymod.QUERIES)
    assert names[:len(ROUND_WINDOW_HEAD)] == ROUND_WINDOW_HEAD
    assert names[len(ROUND_WINDOW_HEAD):WINDOW] == ROUND_WINDOW_FILL
    assert len(names) >= WINDOW


def test_every_query_has_an_oracle():
    # rows-only queries are allowed by the driver contract but each one
    # permanently weakens a certification row — adding one must be a
    # deliberate decision recorded here (currently: none)
    names = set(entrymod.QUERIES)
    oracles = set(entrymod.oracle_sql())
    assert names == oracles


def test_no_duplicate_query_names():
    names = list(entrymod.QUERIES)
    assert len(names) == len(set(names))
