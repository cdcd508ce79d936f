"""Query suite registry — the correctness matrix for SURVEY.md §2.

Every implemented operator/capability registers one or more named queries:
a PySpark DataFrame callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent ANSI-SQL oracle string that DuckDB runs on
the same parquet tables. The driver hash-compares the two at sf0.01; this
mirrors the reference's golden-file `.q`/`.q.out` strategy
(reference: itests/util/.../QTestUtil.java:140) with a live oracle.

Conventions (driver contract):
- alias every computed column identically in Spark code and oracle SQL;
- ROUND floating aggregates (double summation order differs between
  engines — same trick as QTestUtil's DigestPrintStream);
- CAST integer aggregates in the oracle to BIGINT (DuckDB sum() returns
  INT128, which would mismatch Spark's bigint schema).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a suite query (+ optional DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate suite query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# The round driver's CORRECTNESS gate samples the FIRST 50 entries of
# queries()/oracle_sql(). Since r5 the window is an EXPLICIT name list
# (_WINDOW below) applied as a reorder in load_all() — modules stay in
# their natural order and the rotation plan is computed from
# verification_ledger.json (entry -> rounds driver-green) instead of
# hand-shuffling _MODULES. History of the module-order rotations:
#   r1 window (verified): tpch, tpch_extra, functions_scalar2/3, joins,
#     aggregates[0:10].
#   r2 window (verified): dml(5) + aggregates_sketch(2) + llm core(29) +
#     windows(6) + setops(6) + sorts[0:2].
#   r3 window (verified 50/50): subqueries(7) + lateral(6)
#     + functions_scalar(8) + events_windows(9) + operators_misc(7)
#     + hiveql_dialect(8) + misc_extra(4) + llm_pipeline(1).
#   r4 window (this order): ALL 38 entries with no green driver row ever —
#     analytics_extra(3), sorts tail(5), llm_cleaning(6),
#     llm_embeddings(5), llm_lm(5), fn_xpath_family(1), aggregates
#     tail(4, split into aggregates_tail so the 8 r1-verified aggregates
#     stay out of the window), dml_sql(7 + the new multi-clause MERGE
#     entry), and similarity_topk_ivf (re-queued: its only driver row
#     ever is r2's `err: no_oracle`; the recall-invariant oracle landed
#     in r3) + similarity_topk_pq — padded to 50 with re-verifications
#     (sorts[0:2], functions_scalar3's four r1-green entries,
#     similarity bruteforce/lsh, dml head). After r4: 185/185 registry
#     entries driver-verified at least once.
# FREEZE RULE: new registry entries land either INSIDE the current
# window (if added this round) or below it — growth can't outrun driver
# verification.
_MODULES = [
    "analytics_extra",  # 3 unverified                          (cum  3)
    "sorts",            # 5 unverified + 2 reverify             (cum 10)
    "llm_cleaning",     # 6 unverified + new length_outliers    (cum 17)
    "llm_embeddings",   # 5 unverified                          (cum 22)
    "llm_lm",           # 5 unverified + new mixture/zipf       (cum 29)
    "functions_scalar3",  # 1 unverified (xpath) + 4 reverify   (cum 34)
    "aggregates_tail",  # 4 unverified                          (cum 38)
    "dml_sql",          # 7 unverified + new merge_multi_clause (cum 46)
    "llm_similarity",   # ivf(requeue) + pq + 2 reverify        (cum 50)
    # --- 50-entry r4 window ends exactly at similarity_topk_pq ---
    "dml",
    "subqueries",
    "lateral",
    "functions_scalar",
    "events_windows",
    "operators_misc",
    "hiveql_dialect",
    "misc_extra",
    "llm_pipeline",
    "aggregates",
    "aggregates_sketch",
    "llm_sampling",
    "llm_dedup",
    "llm_text",
    "llm_chunking",
    "llm_multimodal",
    "windows",
    "setops",
    "tpch",
    "tpch_extra",
    "functions_scalar2",
    "joins",
    "llm_extra",  # r4 late additions — below the window → r5 queue
    "statements_extra",  # r4 late additions — below the window → r5 queue
    "dialect_extra",  # r5 dialect surface — names pulled into _WINDOW
    # late-r6 continued-session surface — below the frozen r6 window →
    # r7 rotation queue (freeze rule)
    "statements_r6c",
    # r7 surface — its entries sit inside the r7 window (freeze rule)
    "statements_r7",
    # r8 surface — its entry sits inside the r8 window (freeze rule)
    "statements_r8",
    "statements_r9",
    # r10 surface — its entries sit inside the r10 window (freeze rule)
    "statements_r10",
]
# R5 WINDOW (verified 50/50): the 18 entries with no driver row after
# r4 + 5 new r5 entries + 27 high-value re-verifications — after r5,
# every registry entry has been driver-green at least once.
# R6 WINDOW: staleness rotation (the r5 verdict's prescription). The 2
# new r6 statement entries (freeze rule) + all 35 entries whose latest
# green row is r1 + 11 of the 37 whose latest is r2 (the relational
# core: all 6 setops, 3 window-head entries, 1 DML) + the new
# ddl_sql_describe_function entry (freeze rule) + the 2 entries
# whose IMPLEMENTATIONS changed this round and therefore outrank pure
# staleness (dedup_embedding_cosine_pairs — 3-bit sign blocking, itself
# r2-stale — and clean_decontaminate_embeddings — new exact matmul
# path). The remaining r2-latest entries (samplers, multimodal, text
# head, dedup head, pack_*, approx aggs, window_share_of_partition,
# window_distribution_functions, dml_merge_matched_delete) are the r7
# rotation queue.
# tests/test_ledger.py asserts the window is exactly 50, covers every
# never-green entry, and that verification_ledger.json matches the
# CORRECTNESS_r0*.json union.
# R7 WINDOW (verified 50/50 — the first all-green driver gate): the 1
# never-green entry (window_named_window_inheritance, oracle fixed) +
# all 32 r2-stale entries + the new stats_answered_aggregates entry +
# 16 oldest-r3 re-verifications.
# R8 WINDOW (the r7 verdict's prescription): ALL 31 entries whose
# latest green row is r3 (events_*, hiveql_*, lateral_*, uncorrelated
# subqueries + CTE, op_masking/ngrams/salted_skew/transform,
# dedup_keep_first_by_priority, pipeline_corpus_prep,
# setop_union_type_coercion, stream_stateful_running_totals) +
# stats_answered_aggregates (its IMPLEMENTATION changed this round:
# event-driven fingerprint invalidation replaces the per-query walk,
# and unaliased count(*) now surfaces as count(1) — the
# changed-implementation rule outranks staleness) + the new r8
# stats_partition_pruned_aggregates entry (freeze rule) + 17 oldest-r4
# re-verifications (the 7 whose first green predates r4, then a family
# spread across agg/clean/ddl/dedup/dml/emb/sample;
# fn_xpath_family swapped out for the new r8 database entry).
# R13 WINDOW (the r12 verdict's prescription, optimization round 2/2):
# every query whose construction or physical plan was rewritten in the
# r12 optimization round gets a driver-side oracle row — the r12 window
# rotation covered ZERO of them (its 50 entries were all untouched
# staleness picks). Pinned: the 16 headline bench queries +
# dedup_ngram_jaccard_pairs; 15 of the 17 are ALSO the natural oldest-r9
# staleness picks (the r12 rewrites targeted exactly the queries last
# driver-verified in r9), so the pinning and the staleness rotation
# almost coincide. Window = ALL 30 r8-stale entries (latest green r8:
# r3-origin lateral/subquery/op cohort + r4-origin agg/clean/ddl/dml/emb
# heads + stats/database entries) + the 17 pins + 3 kept oldest-r9
# re-verifications (agg_count_distinct, dedup_connected_clusters,
# dml_delete_where — first-green r1/r2, A-Z). The marginal oldest-r9
# picks displaced by the 2 non-r9-stale pins (similarity_topk_ivf,
# agg_rollup_order_priority — r12-rewritten, latest green r10):
# dml_merge_upsert, events_tumbling_window. Computed from
# verification_ledger.json regenerated through r12 (histogram
# r8:30 r9:50 r10:50 r11:50 r12:50); post-r13 staleness floor is r9.
_WINDOW = [
    # -- stalest cohort: latest green row is r8 (all 30, first-green, A-Z) --
    "hiveql_union_mixed",
    "lateral_explode_outer_empty",
    "lateral_inline_structs",
    "lateral_json_tuple_props",
    "lateral_posexplode_first_tokens",
    "lateral_stack_unpivot",
    "op_masking_family",
    "op_ngrams_top20",
    "op_salted_skew_join",
    "op_transform_script",
    "pipeline_corpus_prep",
    "setop_union_type_coercion",
    "stream_stateful_running_totals",
    "subq_cte_reuse",
    "subq_in_uncorrelated",
    "subq_not_exists_correlated",
    "subq_not_in_uncorrelated",
    "subq_scalar_uncorrelated",
    "agg_histogram_numeric",
    "agg_min_max_by",
    "clean_pii_scrub",
    "clean_quality_flags",
    "ddl_sql_export_import",
    "dedup_semantic_kept",
    "dml_sql_multi_insert",
    "emb_l2_normalize",
    "sample_weighted_reservoir",
    # -- changed-implementation pins (rule outranks staleness, r6/r8
    # -- precedent; displace the three youngest-first-green r8-stale
    # -- entries stats_partition_pruned_aggregates, database_qualified_dml,
    # -- stats_answered_aggregates): jaccard_pairs' r13 MERGE hint also
    # -- changes dedup_connected_clusters' plan, and the r13
    # -- count()-integrity guard in the shared _recall_booleans changes
    # -- similarity_topk_pq / similarity_topk_ivfpq (similarity_topk_ivf
    # -- is already pinned below) --
    "dedup_connected_clusters",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    # -- r12-rewritten pins (every headline query + the heaviest registry
    # -- entry; 15/17 are also the natural oldest-r9 staleness picks) --
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q21_waiting_suppliers",
    "window_rank_top_parts",
    "agg_rollup_order_priority",
    "events_session_window",
    "join_skew_salted",
    "dedup_minhash_near_duplicates",
    "dedup_ngram_jaccard_pairs",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "chunk_documents_overlapping",
    "text_tfidf_keywords",
    # -- changed-implementation pins (rule outranks staleness, as in
    # -- r6/r8: the r13 Arrow-fold→JVM-expression rewrites change these
    # -- entries' plans, so they displace the kept marginal oldest-r9
    # -- re-verifications agg_count_distinct + dedup_connected_clusters) --
    "text_rolling_fingerprint",
    "dedup_simhash_near_duplicates",
    # -- new in r13 (freeze rule: new entries land inside the window,
    # -- swapping the marginal oldest-r9 pick dml_delete_where) --
    "similarity_probe_only",
]


def load_all() -> dict[str, QuerySpec]:
    """Import every suite module (side effect: fills REGISTRY), then
    return the registry with the driver-verification window first: the
    driver samples the first 50 entries, so _WINDOW controls exactly
    which queries get a CORRECTNESS row this round."""
    for mod in _MODULES:
        importlib.import_module(f"hive_2_3_2_spark.suite.{mod}")
    missing = [n for n in _WINDOW if n not in REGISTRY]
    if missing:
        raise ValueError(f"_WINDOW names not in REGISTRY: {missing}")
    ordered = {n: REGISTRY[n] for n in _WINDOW}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
