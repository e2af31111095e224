"""Driver-contract query registry.

``SPARK_QUERIES``: name -> callable(spark, sf_dir) -> DataFrame.
``ORACLE_SQL``:    name -> equivalent DuckDB SQL (omitted for ops that
                   are not SQL-expressible; the driver then records a
                   weaker rows-only check).

Every query exercises engine operators (SURVEY section 2) against the
driver's synthetic tables; aliases match between both sides because
the driver's comparator sorts columns by name before hashing.

Each module declares its queries once, in one ``QUERIES`` table of
``(name, builder, oracle SQL or None)`` rows (``data.registry`` turns
it into the module's ``SPARK_QUERIES``/``ORACLE_SQL``); the loop below
merges the modules in a fixed order, then ``_PRIORITY`` moves the
driver window to the front.
"""

from . import (
    advanced,
    analytics,
    breadth,
    core,
    corpus,
    decision,
    digest,
    llm_ops,
    mlaudit,
    privacy,
    recsys,
)

_ALL, ORACLE_SQL = {}, {}
for _mod in (llm_ops, corpus, core, analytics, breadth, advanced, decision,
             digest, mlaudit, privacy, recsys):
    _ALL.update(_mod.SPARK_QUERIES)
    ORACLE_SQL.update(_mod.ORACLE_SQL)

# The external correctness harness checks the FIRST 50 entries in
# dict order (of len(SPARK_QUERIES) total).  We (a) run ALL queries
# against their oracles locally and commit the result
# (tools/check_correctness.py -> LOCAL_CORRECTNESS_r{N}.md), and
# (b) order the registry so the driver's independent certification
# lands where it is most valuable: never-certified ORACLE-BACKED
# entries first, then the stalest last-certified oracle-backed
# entries by sorted(names, key=(last_round, registry index)) over
# the committed CORRECTNESS_r* artifacts.  tools/window_audit.py
# reports the ground truth and tests/test_window_audit.py ASSERTS
# the committed window equals it, so the rotation rule is
# machine-checked, not narrated.
#
# Entries WITHOUT a DuckDB oracle are excluded from the window — the
# driver cannot verify them at all (it answers ``err: no_oracle``
# with rows/schema/hash all null), so a no-oracle occupant is a
# wasted certification slot by construction.  Their correctness
# stays pinned by the local pytest suites (rows/shape/property
# checks) like every other non-SQL-expressible operator path.
_PRIORITY = (
    # ---- driver window (slots 1-50): the stalest-certified
    # oracle-backed entries in window_audit's rotation order (its
    # ground truth)
    "embedding_neardup_lsh", "snapshot_diff_orders",
    "scd2_customer_history", "order_rank_functions",
    "price_histogram", "lineitem_moments", "user_activity_streaks",
    "lineitem_hash_sample", "audience_overlap_kmv",
    "label_noise_scan", "context_budget_report", "ngram_novelty",
    "bpe_merge_candidates", "hard_negative_mining",
    "minhash_accuracy", "pmi_collocations", "semantic_dedup_fixed",
    "embedding_ivf_topk_fixed", "doc_classifier_score",
    "pii_redaction_report", "doc_unigram_logprob",
    "doc_bigram_logprob", "crossdoc_span_coverage",
    "embedding_covariance_stats", "embedding_kmeans_profile_fixed",
    "embedding_pq_topk_fixed", "source_weighted_median_quality",
    "source_dup_matrix", "mg_stream_topk_fixed",
    "corpus_train_val_split", "doc_weighted_sample",
    "brand_random_walks", "join_size_estimate",
    "temporal_split_leakage", "rolling_distinct_users",
    "nation_revenue_trend", "ewma_monthly_revenue",
    "segment_spend_gini", "brand_triangles",
    "event_transition_matrix", "key_skew_profile",
    "purchase_attribution", "brand_pagerank",
    "events_value_outliers", "conversion_latency",
    "rfm_segmentation", "quantile_binning",
    "customer_entity_resolution", "dsir_importance_report",
    "ann_recall_exact_fixed",
    # ---- 50-slot window boundary ----
    # queue head: the next-stalest pool in rotation order
    # (window_audit prints it).  Certification-period arithmetic:
    # 189 oracle-backed entries / 50 slots = a ~3.8-round
    # re-certification period at zero growth; the full-registry local
    # sweep (tools/check_correctness.py) stays the freshness backstop
    # between driver certifications.  New queries must be inserted
    # ABOVE this queue but INSIDE the window (displacing the window's
    # tail down here) so a later driver artifact can never strand a
    # never-certified oracle-backed entry outside the window.
    "text_token_stats", "lang_id_confusion", "doc_fingerprint",
    "dedup_documents_exact", "doc_quality_score", "token_count_bpe",
)

assert set(_PRIORITY) <= set(_ALL), sorted(set(_PRIORITY) - set(_ALL))

SPARK_QUERIES = {k: _ALL[k] for k in _PRIORITY}
SPARK_QUERIES.update({k: v for k, v in _ALL.items() if k not in SPARK_QUERIES})

#: Exact small-sf correctness baselines kept ONLY as oracle
#: cross-checks for their bucketed/indexed scale twins: the O(n^2)
#: pair baselines behind ``embedding_top_pairs_lsh`` /
#: ``embedding_neardup_lsh``, and the exact-kNN-ground-truth recall
#: readouts (``ann_recall_report`` + its deterministic oracle twin)
#: whose component index paths are benched as their own entries.
#: The bench skips them: an exact corpus-wide scan is never the plan
#: we'd run at 100 TB, so timing it misrepresents the headline path.
BENCH_EXCLUDE = frozenset({
    "embedding_top_pairs", "embedding_neardup",
    "ann_recall_report", "ann_recall_exact_fixed",
})

__all__ = ["SPARK_QUERIES", "ORACLE_SQL", "BENCH_EXCLUDE"]
