"""Query registry: every operator from SURVEY.md §2 exposed as a named
(spark builder, DuckDB oracle SQL) pair — the driver-contract surface.

Importing this package populates ``REGISTRY`` from the per-domain modules,
then reorders it so the first ``DRIVER_WINDOW`` entries form a covering set
of every operator family (the external correctness harness verifies a
bounded prefix of the registry; round 1 proved only the first 50 entries
get driver verdicts, leaving 43 queries with local-only evidence).

Ordering policy (round 15 — planner-generated via
``python -m scripts.plan_rotation 15`` at the 191-query registry, with
CORRECTNESS_r14.json the newest checked-in verdict file; round 14 closed
without a rotation, so the r13 window was verified twice and the
planner now reports 42 MUST entries, 6 of them deferred):

- Slots 1-36 (MUST): the planner's kept MUST list, oldest verdict
  first. The eight r9-verdict queries lead — at round 14 they were
  already 5 rounds old, past the 4-round freshness bound
  (``knn_ivf_pq_fixed`` … ``purchase_attribution``; the first seven
  are the fillers the round-13 window donated to its new gates). Then
  28 r10-verdict queries.
- Slots 37-44: one representative per family the MUST set misses,
  oldest verdicts first. ``parts_bought_together`` /
  ``orders_validation_report`` are sole members of their families and
  recur every round by construction; ``tx_cdf_change_counts`` is both
  the q_tx representative and a round-13 gate.
- Slots 45-50: the other six round-13 gates
  (tests/test_registry_order.py::test_round_changed_queries_in_window),
  on slots donated from the END of the kept MUST list, per the
  planner's donation rule (the window has no filler slots left). The
  donated entries are r10-verdict queries: ``price_quantile_sketch``,
  ``pricing_summary``, ``promo_revenue_share``, ``recent_window_topk``,
  ``regional_revenue``, ``sessionized_set_ops``.
- Over capacity: the planner defers six more r10-verdict MUST entries
  (``status_code_histogram``, ``token_array_ops``, ``top_tokens``,
  ``user_interarrival_stats``, ``wayback_timestamps``,
  ``windowed_funnel_levels``). With the six donated ones, these 12
  queries are the rotation guard's non-failing round-15 projection:
  the debt the skipped round-14 rotation left. They stay un-windowed
  this round, so they strand once a round-15 verdict file lands; the
  next rotation must window them first.
- The rotation debt guard (tests/test_registry_order.py::
  test_no_query_strands_beyond_k_rounds) asserts zero strands at the
  max CHECKED-IN CORRECTNESS round and reports the next-round
  projection as a non-failing warning; the bound constant lives in
  scripts/plan_rotation.py (``FRESHNESS_BOUND = 4``).

Retired windows (rounds 1-14) are recorded in ROUNDLOG.md and git history.
"""

from .registry import REGISTRY, Query, query  # noqa: F401

# Populate the registry (import order = registration order; display order is
# fixed up below).
from . import q_events  # noqa: E402,F401
from . import q_tpch  # noqa: E402,F401
from . import q_text  # noqa: E402,F401
from . import q_dedup  # noqa: E402,F401
from . import q_similarity  # noqa: E402,F401
from . import q_crawl  # noqa: E402,F401
from . import q_schedule  # noqa: E402,F401
from . import q_sql_extra  # noqa: E402,F401
from . import q_pivot  # noqa: E402,F401
from . import q_sessions  # noqa: E402,F401
from . import q_joins_advanced  # noqa: E402,F401
from . import q_tpch2  # noqa: E402,F401
from . import q_tpch3  # noqa: E402,F401
from . import q_pipeline  # noqa: E402,F401
from . import q_spans  # noqa: E402,F401
from . import q_corpus  # noqa: E402,F401
from . import q_graph  # noqa: E402,F401
from . import q_diff  # noqa: E402,F401
from . import q_interval  # noqa: E402,F401
from . import q_sketch  # noqa: E402,F401
from . import q_validate  # noqa: E402,F401
from . import q_behavior  # noqa: E402,F401
from . import q_timeseries  # noqa: E402,F401
from . import q_market  # noqa: E402,F401
from . import q_tx  # noqa: E402,F401

#: Size of the external harness's verification prefix (empirical, round 1).
DRIVER_WINDOW = 50

#: Names pinned to the front of the registry, in order. Everything not
#: listed keeps its registration order after these.
PRIORITY: tuple[str, ...] = (
    # -- MUST: verdicts aging past the bound, oldest first (planner sect. 1)
    "knn_ivf_pq_fixed",  # q_similarity, r9
    "lang_source_rollup",  # q_text, r9
    "media_jpeg_features",  # q_crawl, r9
    "media_png16_features",  # q_crawl, r9
    "media_png_features",  # q_crawl, r9
    "media_wav_features",  # q_crawl, r9
    "null_coalesce_projection",  # q_events, r9
    "purchase_attribution",  # q_behavior, r9
    "benchmark_contamination",  # q_pipeline, r10
    "bigram_pmi_collocations",  # q_corpus, r10
    "bloom_part_membership",  # q_sketch, r10
    "bpe_learned_merges",  # q_pipeline, r10
    "cheapest_supplier_per_part",  # q_sql_extra, r10
    "cluster_golden_records",  # q_dedup, r10
    "conditional_aggregation",  # q_sql_extra, r10
    "cube_lineitem_status",  # q_sql_extra, r10
    "daily_cohort_retention",  # q_behavior, r10
    "date_function_suite",  # q_sql_extra, r10
    "doc_pii_scan",  # q_pipeline, r10
    "doc_token_stats",  # q_text, r10
    "embedding_near_dup",  # q_similarity, r10
    "event_type_stats",  # q_events, r10
    "graph_unit_propagation",  # q_graph, r10
    "idle_rich_customers",  # q_joins_advanced, r10
    "important_part_value",  # q_joins_advanced, r10
    "knn_opq_fixed",  # q_similarity, r10
    "large_volume_customers",  # q_tpch3, r10
    "last_shipper_per_order",  # q_tpch2, r10
    "late_shipment_priority",  # q_tpch2, r10
    "lineitem_price_asof_scd2",  # q_diff, r10
    "media_gif_features",  # q_crawl, r10
    "mimetype_fallback_chain",  # q_schedule, r10
    "mmh3_partition_keys",  # q_schedule, r10
    "order_value_running",  # q_tpch, r10
    "orders_in_top_segments",  # q_sql_extra, r10
    "pack_sequences",  # q_pipeline, r10
    # -- family reps, oldest verdicts first (planner section 2) ----------
    "concurrent_sessions",  # q_interval, r12
    "parts_bought_together",  # q_market, r14 — sole member, recurs
    "status_pivot",  # q_pivot, r12
    "approx_distinct_users",  # q_sessions, r11
    "dup_span_doc_stats",  # q_spans, r11
    "decayed_event_counts",  # q_timeseries, r11
    "tx_cdf_change_counts",  # q_tx, r14 — also a round-13 gate
    "orders_validation_report",  # q_validate, r14 — sole member, recurs
    # -- round-13 gates on slots donated from the END of the kept MUST
    # list (price_quantile_sketch … sessionized_set_ops, all r10) -------
    "referrer_host_histogram",  # q_crawl, r14 — A-5 self-exclusion
    "screenshot_strip_ring",  # q_crawl, r14 — P-8 + A-10 over the operator
    "solr_etl_projection",  # q_crawl, r14 — F-6/F-8/F-9/F-10 ETL in one gate
    "tx_dml_merge_state",  # q_tx, r14 — DML + 4-clause MergeBuilder
    "tx_time_travel_counts",  # q_tx, r14 — snapshots + RESTORE
    "tx_generated_dml_state",  # q_tx, r14 — generated columns + DML
)


def _reorder() -> None:
    missing = [n for n in PRIORITY if n not in REGISTRY]
    assert not missing, f"PRIORITY names not registered: {missing}"
    assert len(set(PRIORITY)) == len(PRIORITY), "duplicate PRIORITY names"
    ordered = {n: REGISTRY[n] for n in PRIORITY}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()
