"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 + the
LLM-pipeline extensions, as (spark, sf_dir) -> DataFrame callables.
``oracle_sql()`` — matching DuckDB SQL for the driver's differential gate;
omitted only for hash-algorithm-specific / streaming-stateful ops where no
portable SQL equivalent exists (driver records rows-only checks for those).

Implementations live in ``alibaba_cppfeaturestore_spark.plans.catalog``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-Q1-shaped
    scan→filter→agg over lineitem."""
    return QUERIES["q1_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


# The first 50 entries are the driver's check window (the driver runs a
# 50-query prefix; every one of the 50 carries a DuckDB oracle). Changed
# entries always outrank merely-stale ones; the rest rotate oldest
# driver row first (tools/freshness.py --plan emits the list).
# Deliberate window omissions for CHANGED entries (r10 verdict item 8:
# the changed-set was hand-assembled and missed three oracle fixes; now
# tools/freshness.py diffs catalog.py against the last round-close
# commit, auto-promotes forgotten entries, and
# tests/test_driver_window.py fails the round if a git-touched oracled
# entry is neither windowed nor spelled here WITH a reason).
_WINDOW_EXEMPT_CHANGED: dict[str, str] = {
    # (r12 close: the two additive-module exemptions that briefly lived
    # here are retired — tools/freshness.py now attributes diffs at
    # FUNCTION granularity, so an additive-only module change promotes
    # no dependents mechanically, with the coarse module-level answer
    # printed by --plan as the audit trail.)
    "alibaba_cppfeaturestore_spark/plans/views.py": (
        "r13 wide-blast-radius module exemption (the escape hatch "
        "test_module_touched_entries_in_window_or_exempt documents): "
        "load_table gained an analyzed-plan memo keyed on (applicationId, "
        "path, mtime) — a driver-side plan-build cache, not a value or "
        "plan-shape change; every entry reads tables through it, so the "
        "function-level attribution promotes all 211 entries, which no "
        "50-entry window can hold. Certified by TWO full 211-entry "
        "`driver_sim --strict` runs on this tree this round (211 pass / "
        "0 FAIL each). Entries whose causes include the genuinely "
        "compute-changed modules (dedup/similarity/multimodal/vectors/"
        "kv) are windowed, not exempted. r14 extends the same class of "
        "change: the memo re-key (session identity + mtime_ns in the "
        "value, bounded size) is still a plan-build cache only. The "
        "memo's keying then moved into the shared stamped_memo helper "
        "(also used by catalog._KEY_UNIQUE_MEMO) with no change in what "
        "a hit returns; certified by a full 211-entry `driver_sim "
        "--strict` run (211 pass / 0 FAIL)."
    ),
    # r14 wide-blast-radius exemptions, one shared cause: every
    # operator-internal .persist() was wrapped in
    # ranks.register_persisted(...) so release_persisted()/
    # persist_scope() cover it (r13 verdict item 4) — a cache-LIFECYCLE
    # change that alters no value and no plan shape (the persist calls,
    # storage levels, and expressions are byte-identical; only the
    # Python-side registry sees the handle). The function-level
    # attribution promotes the 60+ entries consuming these modules,
    # which no 50-entry window can hold. Certified by a full 211-entry
    # `driver_sim --strict` run on the r14 close tree (recorded in
    # OPTIMIZATION_r14.md); the one entry with a REAL plan-affecting
    # change this round (stream_tumbling_window_counts,
    # state_partitions 8->4) is windowed, not exempted. dedup.py's only
    # other r14 edit is a docstring precondition note.
    "alibaba_cppfeaturestore_spark/operators/dedup.py": (
        "r14 register_persisted wrapping + an incremental-minhash "
        "docstring note; no value or plan-shape change (see block "
        "comment above). Later edit: the incremental MinHash path moved "
        "to the bucket-list candidate shape and the MinHash/winnow pair "
        "expansion became one helper — the three entries whose plans "
        "that changes (dedup_minhash_lsh, dedup_minhash_incremental, "
        "dedup_winnow_containment) are windowed; every other dependent "
        "is promoted only by the call-graph closure over untouched "
        "defs. Certified by a full 211-entry `driver_sim --strict` run "
        "(211 pass / 0 FAIL)."
    ),
    "alibaba_cppfeaturestore_spark/functions/text.py": (
        "dead-function deletion only (char_count, avg_token_length had "
        "no caller); no remaining def changed. Certified by a full "
        "211-entry `driver_sim --strict` run (211 pass / 0 FAIL)."
    ),
    "alibaba_cppfeaturestore_spark/functions/vectors.py": (
        "dead-function deletion only (l2_distance had no caller); no "
        "remaining def changed. Certified by a full 211-entry "
        "`driver_sim --strict` run (211 pass / 0 FAIL)."
    ),
    "alibaba_cppfeaturestore_spark/operators/dictionary.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/graph.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/retrieval.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/scaling.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/sketches.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/statistics.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/timeseries.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
}

_DRIVER_WINDOW = [
    # Round-14 rotation (tools/freshness.py --plan, adopted verbatim):
    # (a) 8 changed entries — stream_tumbling_window_counts is the one
    #     REAL plan-affecting change this round (state_partitions 8->4,
    #     measured, output-identical); json_codec_roundtrip's span was
    #     crossed by the adjacent stream-staging-memo rework;
    #     aliccp_silver_to_gold_e2e, the ANN family and
    #     multimodal_embed_topk are promoted through the call-graph
    #     reverse closure over this round's lifecycle-only edits
    #     (register_persisted wrapping / memo re-key — the module
    #     exemptions above document why the other 50+ dependents are
    #     exempted rather than windowed; these six carry causes the
    #     closure attributes to non-exempt modules, so they rotate in
    #     as the conservative answer).
    # (b) the oldest unchanged driver rows, oldest-first: the remaining
    #     r08 cohort, the full r09 cohort, and the two oldest r10 rows.
    # Then the MinHash bucket-path change: its three plan-changed entries
    # head the window, displacing the three youngest rows of the tail.
    "dedup_minhash_lsh",  # changed
    "dedup_minhash_incremental",  # changed
    "dedup_winnow_containment",  # changed
    "json_codec_roundtrip",  # changed
    "stream_tumbling_window_counts",  # changed
    "aliccp_silver_to_gold_e2e",  # changed
    "ann_brute_force_topk",  # changed
    "ann_ivf_portable_topk",  # changed
    "ann_ivf_topk",  # changed
    "ann_lsh_bucketed_topk",  # changed
    "multimodal_embed_topk",  # changed
    "dedup_semantic_embedding",  # r08
    "embedding_random_projection",  # r08
    "embedding_threshold_pairs",  # r08
    "feature_standard_scale",  # r08
    "feature_winsorize",  # r08
    "group_percentile_exact",  # r08
    "heavy_hitter_tokens",  # r08
    "histogram_order_values",  # r08
    "jdbc_roundtrip_derby",  # r08
    "layout_zorder_clustering",  # r08
    "pareto_revenue_concentration",  # r08
    "q12_priority_line_mix",  # r08
    "q13_customer_order_distribution",  # r08
    "agg_pivot_user_event_values",  # r09
    "attribution_first_vs_last_touch",  # r09
    "dq_event_order_cadence",  # r09
    "feature_correlations",  # r09
    "feature_quantile_normalize",  # r09
    "histogram_percentile_estimate",  # r09
    "markov_event_transitions",  # r09
    "online_lookup_latest_features",  # r09
    "path_top_event_sequences",  # r09
    "proj_select_cast",  # r09
    "q14_promo_revenue_share",  # r09
    "q15_top_revenue_supplier",  # r09
    "q21_sole_late_suppliers",  # r09
    "q4_late_order_priority",  # r09
    "q5_local_supplier_volume",  # r09
    "q7_nation_volume_shipping",  # r09
    "q8_market_share",  # r09
    "q9_product_type_profit",  # r09
    "quality_unigram_logprob",  # r09
    "scalar_math_funcs",  # r09
    "scd2_interval_lookup",  # r09
    "scd2_user_event_history",  # r09
    "stream_checkpoint_restart",  # r09
    "stream_online_upsert",  # r09
    "token_count_bpe",  # r09
    "window_running_user_spend",  # r09
]



def _ordered():
    head = {n: QUERIES[n] for n in _DRIVER_WINDOW}
    tail = {n: qd for n, qd in QUERIES.items() if n not in head}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.spark for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}
