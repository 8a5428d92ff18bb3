"""Query registry: the engine's declared operator surface.

Every implemented operator/query gets one entry: a builder
``(spark, sf_dir) -> DataFrame`` and, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL string run against the same
parquet tables. The driver contract (__spark_entry__.py) is a thin
view over this registry; tests iterate it too.

Parity rules (SURVEY.md §7.4):
- alias every computed column identically in Spark and SQL;
- round floating aggregates to a fixed scale in BOTH engines so
  summation-order epsilon differences can't flip the value hash;
- avoid nondeterministic functions; break ordering ties explicitly.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    """Decorator: add a query builder (and optional oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Driver-check rotation (COVERAGE.md "verification rotation"): the
# driver's CORRECTNESS run verifies the FIRST 50 entries of the
# queries() dict, so ordering IS the verification schedule.
# History: r1 48/50; r2 49/50; r3-r4 50/50; r5 49/50; r6 49/50; r7
# 50/50; r8 50/50; r9 50/50 (13 never-checked + 7 r8-changed + 10
# r9-changed + 20 oldest r2).
# ROUND-10 RECUT (exactly the r9 verdict's prescription #1):
#   slots 1-23   the 23 queries that have NEVER had a driver verdict
#                (the round-9 wave-18..23 additions). Four of them —
#                timeseries_pacf_durbin, timeseries_variance_ratio,
#                pandas_map_in_arrow_tokens, ml_simplified_silhouette
#                — also carry round-10 advisor fixes (promote-before-
#                multiply widening, ASCII-trim parity, order-free
#                centroids), so their first-ever verdicts cover the
#                POST-change code;
#   slots 24-46  23 of the 25 remaining r2-era verdicts;
#   slots 47-50  the FOUR round-10 plan rewrites outside the never-
#                checked set (changed code must not coast on its old
#                verdicts — the same displacement rule round 9
#                applied, stated plainly): graph_kcore_peel (action
#                fusion + AQE gate), ml_item_item_cf (self-join ->
#                per-basket pair expansion), dedup_repeated_lines_
#                corpus (fused doc aggregation), pipeline_naive_
#                bayes_spam (persist + fused scalar collect). These
#                pre-empt the last two r2 slots and the planned
#                oldest-r3 slot; deviation from the r9 verdict's
#                arithmetic (r2 cohort ends at 2, not 0): the 2
#                leftover r2 entries (subquery_in_high_qty,
#                subquery_not_exists_customers) LEAD the round-11
#                queue below.
# After this window: zero of the queries that existed at round-10
# START remain never-checked, and the r2 cohort is 2. Round 10 ALSO
# added 20 new queries (waves 24-27) — new evidence debt, ledgered
# in COVERAGE.md.
# ROUND-11 RECUT (executed): 7 changed-code slots + 2 r2 (cohort
#   -> 0) + 18 never-checked (cohort -> 0) + 23 oldest r3 — all
#   50/50 green (CORRECTNESS_r11).
# ROUND-12 RECUT (exactly the r11 verdict's prescription #1, with
# the judge's ordering — changed code, then the 39 never-checked
# wave-28..37 additions, then oldest r3 to fill 50):
#   slots 1-4    the round-12 rewrites of queries that already
#                carry verdicts (changed code must not coast —
#                the displacement rule every round since r9):
#                graph_assortativity (degree-moment algebraic
#                collapse -14..33% A/B'd, + partition-sizing gate),
#                graph_community_modularity (contingency-table
#                fusion -3%), graph_kcore_peel and ml_item_item_cf
#                (gate partition sizing — a priori static
#                shuffle-partition sizing from the fact footprint;
#                kcore 7.9 -> 4.4s, item_cf 1.46 -> 1.28s
#                interleaved at sf0.1, self-retiring at sf1).
#                graph_pagerank_bipartite and graph_rich_club_
#                coefficient were ALSO rewritten but their
#                rewrites measured SLOWER in interleaved A/Bs
#                (single-checkpoint fusion +20%; basket pair
#                build +74% at sf1) and were REVERTED to the r11
#                code — docstring-only diffs keep their verdicts;
#   slots 5-43   the 39 wave-28..37 queries, in wave order —
#                the cohort that has NEVER had a driver verdict
#                burns to zero. TWO of them are also round-12
#                changed code, so their first-ever verdicts cover
#                the post-change form: ml_loo_1nn_embedding_
#                accuracy (lazy executor-side corpus load + 1e-9
#                similarity snap, advisor item),
#                pipeline_dedup_threshold_curve (single-use
#                persist dropped; gate variant rejected as a
#                wash);
#   slots 44-50  the 7 oldest r3-era refreshes from the standing
#                queue.
# After the r12 window ran (CORRECTNESS_r12 50/50): never-checked =
# 0 for wave<=37; 13 r3-era remained; waves 38-40 added 14 new
# never-checked; 54 of the 56 r11 fan-out flips still lacked
# re-verdicts (graph_assortativity and graph_kcore_peel got theirs
# in r12 slots 1/3 on post-flip code).
# ROUND-13 RECUT (the r12 verdict's prescription #1, judge's
# ordering — changed code, then never-checked, then r3-era, then
# flips to fill 50):
#   slots 1-4    round-13 changed code with existing verdicts (the
#                displacement rule): ml_loo_1nn_embedding_accuracy
#                (refactor onto the shared _top2_other_stream GEMM
#                core + IVF candidate path behind the 32k cap),
#                ml_item_item_cf (pair key packed into one long
#                before the Exchange — sf1 -8..12%, sf0.1 wash;
#                <=1.4s claim RETIRED with a FLOOR row, PLANS.md),
#                dedup_repeated_lines_corpus (scan fan-out landed:
#                2.11 -> 1.22s sf0.1, 8.80 -> 2.04s sf1; the r11
#                audit missed it because it had never opted in),
#                pipeline_dedup_threshold_curve (threshold sweep
#                collapsed to two conditional aggregations —
#                -8% sf0.1 / -16% sf1, values identical, parity
#                re-green at five scales).
#   slots 5-18   the 14 wave-38..40 queries in wave order — the
#                never-checked cohort burns to zero again. TWO are
#                also round-13 changed code, so their first-ever
#                verdicts cover the post-change form:
#                agg_bartlett_variance_test (HUGEINT/decimal
#                widening of the snapped-log chain, advisor item)
#                and similarity_ratio_margin (shared GEMM core).
#   slots 19-31  the 13 r3-era refreshes (the whole trailing
#                queue — r3-era cohort -> 0 after this window).
#   slots 32-50  19 of the 54 pending r11 fan-out-flip re-verdicts,
#                table order (PLANS.md r11 audit). Deviation from
#                the verdict's "23 of 56" arithmetic: 4 changed-code
#                slots displace 4 flips (the same displacement rule
#                that created the deviation in r10), and 2 of the 56
#                already got post-flip verdicts in r12 (slots 1/3).
# After the r13 window ran (CORRECTNESS_r13 50/50): never-checked = 0
# for waves <= 40, r3-era = 0; the 6 wave-41/42 queries and 35 r11
# fan-out flips remained (the r14 standing queue, closed below).
# ROUND-14 RECUT (the r13 verdict's prescription #1 — changed code,
# then never-checked, then ALL remaining flips; the queue fits one
# window EXACTLY, 6 + 5 + 4 + 35 = 50):
#   slots 1-6    round-14 changed code: quality_functional_
#                dependencies (count_distinct -> single-exchange
#                size(collect_set) per FD, -41% sf1),
#                pipeline_dedup_threshold_curve (coalesce-to-0 on an
#                empty scored relation, advisor item),
#                ml_item_item_cf (raise_error guard on the packed
#                pair key's 2^31 bound, advisor item),
#                similarity_label_mmd_drift (divisor matches the
#                oracle's sequential division order, advisor item —
#                ALSO wave-41 never-checked, so its first-ever
#                verdict covers the post-change form),
#                dedup_simhash + dedup_simhash_banded (the 64-bit
#                fingerprint core rebuilt as F.expr strings —
#                construction-only, values pinned bit-identical in
#                tests/test_round14.py).
#   slots 7-11   the remaining wave-41/42 never-checked, wave order.
#   slots 12-15  wave 43 (new this round, 5-scale parity green).
#   slots 16-50  ALL 35 remaining r11 fan-out-flip re-verdicts,
#                table order (PLANS.md r11 audit) — the flip cohort
#                goes to ZERO with this window.
# After this window: never-checked = 0, r3-era = 0, flip backlog =
# 0 — the first window since the r11 fan-out change with no standing
# driver-evidence debt of any kind.
CHECK_ORDER: list[str] = [
    # ================= ROUND-15 RECUT =================
    # Priority per the standing displacement rule and the r14
    # verdict's item 5: (1) round-15 changed code, (2) the ~29
    # empty-corpus-sweep-touched queries whose plans changed in
    # e1f3f39 with only pre-fix driver verdicts (incl. the four
    # shared-helper members: _corpus_matrix guard reorder ->
    # ratio_margin/loo_1nn; similarity._train_quantizer's empty-
    # sample raise, ahead of the shared similarity.lloyd loop that
    # dedup_semantic_clusters also runs -> ivf_topk/index_persist_reuse),
    # (3) the twice-drift-flagged resident, (4) the two round-15
    # FLOOR-row subjects, (5) refreshes of the r14 changed-code
    # cohort. Exactly 50.
    # slots 1-11: round-15 changed code (wave-1 rewrites)
    "agg_corr_matrix_daily",
    "text_source_vocab_jaccard",
    "graph_triangle_count",
    "graph_link_prediction",
    "graph_hits_fixed_iter",
    "graph_local_clustering_coeff",
    "graph_adamic_adar_topk",
    "graph_ktruss_edge_support",
    "graph_label_propagation_2round",
    "similarity_pq_rerank",
    "pipeline_dedup_threshold_curve",
    # slots 12-40: the empty-corpus-sweep cohort (e1f3f39)
    "agg_durbin_watson_daily",
    "agg_friedman_test",
    "agg_hll_partitioned_union",
    "agg_levene_variance_homogeneity",
    "agg_theil_inequality",
    "agg_theta_sketch_setops",
    "agg_wasserstein_weekend",
    "dedup_semantic_clusters",
    "embedding_pca_power_iteration",
    "graph_assortativity",
    "graph_community_modularity",
    "graph_pagerank_bipartite",
    "ml_roc_curve_points",
    "pipeline_filter_funnel_report",
    "profile_table_stats",
    "quality_column_expectations",
    "scan_partitioned_dpp",
    "scan_partitioned_pruning",
    "similarity_topk_lsh",
    "text_compression_ratio",
    "timeseries_engle_granger_coint",
    "timeseries_holt_trend",
    "timeseries_sample_entropy",
    "timeseries_theil_sen",
    "window_percentile_bucket_scalable",
    "similarity_ratio_margin",
    "ml_loo_1nn_embedding_accuracy",
    "similarity_ivf_topk",
    "similarity_index_persist_reuse",
    # slot 41: drift-flagged in both the r14 and r15 baselines
    "text_rake_keywords",
    # slots 42-43: round-15 FLOOR-row subjects (PLANS.md)
    "ml_price_elasticity_by_brand",
    "ml_fisher_lda_closed_form",
    # slots 44-50: r14 changed-code cohort refresh + the remaining
    # worst-ratio resident
    "ml_item_item_cf",
    "dedup_end_to_end_canonical",
    "dedup_cluster_components",
    "quality_functional_dependencies",
    "dedup_simhash",
    "dedup_simhash_banded",
    "ml_simplified_silhouette",
    # ---- end of the 50-slot window ----
]




def check_ordered_names() -> list[str]:
    """Registry names in driver-check priority order: CHECK_ORDER
    first (skipping stale entries), then the rest in registration
    order (new queries, then round-1 greens)."""
    listed = [n for n in CHECK_ORDER if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(listed)]
    return listed + rest


def query_names() -> list[str]:
    return sorted(QUERIES)


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from etl_data_ingestion_spark.operators import (  # noqa: F401
        tpch,
        tpch_partsupp,
        tpch_dates,
        joins,
        aggregates,
        windows,
        setops,
        scalars,
        topk,
        dedup,
        similarity,
        textops,
        ingest_queries,
        curation,
        corpus,
        funnel,
        graph,
        streaming_queries,
        multimodal,
        subqueries,
        pandas_surface,
        sources_scan,
        warehouse,
        attribution,
        video,
        mlops,
        stats_tests,
        graph2,
    )
