#!/usr/bin/env python
"""Physical-plan audit over every catalog query.

Sweeps each registered query's plan for the shapes that kill 100 TB
jobs — ``Expand`` (multi-count_distinct row blow-up),
``CartesianProduct`` and ``BroadcastNestedLoopJoin`` (non-equi joins
over big sides) — and fails unless every occurrence is on the explicit
allowlist below (each entry documents WHY the shape is intentional).
Also reports per-query counts of shuffle exchanges as a cost map. Both
read one walk of the physical plan's nodes (:func:`plan_nodes`): the
shapes are looked for in every node, cached subplans and subqueries
included; the count takes only the query's own shuffle exchanges, so a
broadcast or reused exchange is not a shuffle and a cached frame's
shuffles are not counted again in every query that scans it. Every
query is planned after ``release_persisted()``, so its counts do not
depend on which queries ran before it.

Usage::

    python scripts/plan_audit.py [sf_dir]    # default sf0.001

Exit code 0 = no unexplained expensive shapes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query -> {shape: reason} for intentional expensive shapes.
ALLOWED: dict[str, dict[str, str]] = {
    "sketch_joinsize_events_orders": {
        "BroadcastNestedLoopJoin": "two one-row folds crossed (exact vs estimate)"
    },
    "audit_drift_daily_trend": {
        "BroadcastNestedLoopJoin": "10-row bin grid crossed with |groups|/|days| dims"
    },
    "streaming_f2_selfjoin_events": {
        "BroadcastNestedLoopJoin": "two one-row folds crossed (exact vs estimate)"
    },
    "sketch_f2_selfjoin_events": {
        "BroadcastNestedLoopJoin": "two one-row folds crossed (exact vs estimate)"
    },
    "curation_quality_tiers": {
        "BroadcastNestedLoopJoin": "one-row corpus-totals + uniform-lnV folds"
    },
    "curation_perplexity_filter": {
        "BroadcastNestedLoopJoin": "one-row corpus-totals fold (N/V)"
    },
    "curation_dsir_weights": {
        "BroadcastNestedLoopJoin": "one-row vocabulary-totals fold (N_t/N_r/V)"
    },
    "curation_dsir_topk": {
        "BroadcastNestedLoopJoin": "one-row vocabulary-totals fold (N_t/N_r/V)"
    },
    "audit_distribution_drift": {
        "BroadcastNestedLoopJoin": "10-row bin grid crossed with |groups| dim"
    },
    "streaming_drift_monitor": {
        "BroadcastNestedLoopJoin": "10-row bin grid crossed with |groups| dim"
    },
    # r13 fused ADC: the per-query distance tables ride a broadcast
    # Q-row frame (Q = |query batch|, 5 here) crossed against the coded
    # corpus — deliberately replaces the m-way explode + (m, code)
    # lookup join + re-aggregation shuffle (plans/r13/sim_pq_adc_topk_*).
    "sim_pq_adc_topk": {
        "BroadcastNestedLoopJoin": "Q-row broadcast dtable crossed with coded corpus (fused ADC)"
    },
    "sim_pq_recall_at_k": {
        "BroadcastNestedLoopJoin": "Q-row broadcast dtable crossed with coded corpus (fused ADC)"
    },
    # One-row scalar folds: crossJoin(broadcast(1-row)) is a BNLJ by
    # construction and costs one row per partition.
    "events_funnel_view_click_purchase": {
        "BroadcastNestedLoopJoin": "one-row scalar totals fold"
    },
    "tpch_q11_part_value_concentration": {
        "BroadcastNestedLoopJoin": "one-row grand-total fold (q11 HAVING threshold)"
    },
    "sketch_hll_set_algebra": {
        "BroadcastNestedLoopJoin": "one-row register-estimate folds crossed"
    },
    "sketch_quantile_error_eval": {
        "BroadcastNestedLoopJoin": "3 quantile probes vs bounded cum rows"
    },
    "sketch_hll_distinct_users": {
        "BroadcastNestedLoopJoin": "one-row register fold vs scalar"
    },
    "streaming_hll_distinct_users": {
        "BroadcastNestedLoopJoin": "one-row register fold vs scalar"
    },
    "sketch_hll_daily_rollup": {
        "BroadcastNestedLoopJoin": "one-row merged-register fold"
    },
    "sketch_cms_user_counts": {
        "BroadcastNestedLoopJoin": "probe keys vs one-row stream total"
    },
    "streaming_cms_user_counts": {
        "BroadcastNestedLoopJoin": "probe keys vs one-row stream total"
    },
    "sketch_histogram_quantiles_value": {
        "BroadcastNestedLoopJoin": "3 quantile probes vs one-row total"
    },
    "streaming_histogram_quantiles_value": {
        "BroadcastNestedLoopJoin": "3 quantile probes vs one-row total"
    },
    "sketch_bloom_history_membership": {
        "BroadcastNestedLoopJoin": "probe rows vs broadcast bit relation"
    },
    "profile_events_key_skew": {
        "BroadcastNestedLoopJoin": "one-row totals x one-row top-key fold"
    },
    "curation_domain_mixture": {
        "BroadcastNestedLoopJoin": "O(domains) rows vs one-row totals fold"
    },
    "window_customer_spend_quartiles": {
        "BroadcastNestedLoopJoin": "one-row quantile-boundary fold (with_global_rank)"
    },
    "mysql_detailed": {
        "BroadcastNestedLoopJoin": "one-row preamble probe broadcast"
    },
    "mysql_aggregate": {
        "BroadcastNestedLoopJoin": "one-row preamble probe broadcast"
    },
    "mysql_skip_warnings": {
        "BroadcastNestedLoopJoin": "one-row preamble probe broadcast"
    },
    "mysql_hourly_slow_rate": {
        "BroadcastNestedLoopJoin": "one-row preamble probe broadcast (via sheet)"
    },
    "events_hourly_gapfill": {
        "BroadcastNestedLoopJoin": "one-row bounds x tiny type set spine"
    },
    "events_hourly_locf": {
        "BroadcastNestedLoopJoin": "one-row bounds x tiny type set spine"
    },
    # Inherent grouping-sets expansion.
    "rollup_orders_status_priority": {"Expand": "ROLLUP grouping sets"},
    "events_sliding_2h_rollup": {
        "Expand": "hopping-window assignment (bounded window/slide = 2x)"
    },
    "cube_events_type_day": {"Expand": "CUBE grouping sets (chosen marginals)"},
    # Deliberate exact baseline: tiny broadcast query set x corpus.
    "sim_cosine_topk": {
        "BroadcastNestedLoopJoin": "exact top-k baseline, 5 queries broadcast"
    },
    "sim_lsh_recall_at_k": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_lsh_multiprobe_recall_at_k": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_pq_recall_at_k": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_ivf_recall_at_k": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_ivf_index_ingest": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_ivfpq_recall_at_k": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_ivf_rebalance": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_ivfpq_index_ingest": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_ivfpq_rerank_recall_at_k": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "sim_ivfpq_rebalance_recall": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "streaming_ann_ingest_recall": {
        "BroadcastNestedLoopJoin": "inherits the exact-baseline side it evaluates"
    },
    "cbo_join_events_orders_rollup": {
        "Expand": "two COUNT(DISTINCT) in one agg (users + orders) - "
                  "the standard x3 Expand; both distincts are the "
                  "query's semantics, partials stay map-side"
    },
    "tpch_q22_dormant_customer_balance": {
        "BroadcastNestedLoopJoin": "one-row (sum, count) scalar-average fold"
    },
}


def plan_nodes(df) -> list[tuple[str, bool]]:
    """``(class name, own)`` of every node in ``df``'s executed physical
    plan, descending through ``AdaptiveSparkPlanExec`` and AQE query
    stages. ``own`` marks the nodes reached through children alone: the
    plan the query runs itself. Inner plans — a cached frame's subplan
    under an in-memory scan, a subquery — are walked too, with ``own``
    false, so an expensive shape is seen wherever it sits but a
    cached frame's shuffles are not counted again in every query that
    scans it."""
    nodes: list[tuple[str, bool]] = []
    stack = [(df._jdf.queryExecution().executedPlan(), True)]
    while stack:
        node, own = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), own))
            continue
        if name.endswith("QueryStageExec"):
            stack.append((node.plan(), own))
            continue
        nodes.append((name, own))
        for seq, inner_own in ((node.children(), own), (node.innerChildren(), False)):
            stack.extend((seq.apply(i), inner_own) for i in range(seq.size()))
    return nodes


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

    from sressentials_spark import loggen
    from sressentials_spark.artifacts import release_persisted
    from sressentials_spark.catalog import QUERIES
    from sressentials_spark.session import get_spark

    spark = get_spark("plan-audit", shuffle_partitions=8)
    loggen.ensure_mongo_log(sf_dir)
    loggen.ensure_mysql_log(sf_dir)
    loggen.ensure_documents_jsonl(sf_dir)
    loggen.ensure_documents_csv(sf_dir)

    shapes = ["Expand", "CartesianProduct", "BroadcastNestedLoopJoin"]
    violations: list[str] = []
    for name, fn in sorted(QUERIES.items()):
        # Each query plans over a cold cache, as in the driver gate: a
        # frame an earlier query materialized has a known size, which
        # can turn this query's shuffle join into a broadcast one.
        release_persisted()
        try:
            df = fn(spark, sf_dir)
            nodes = plan_nodes(df)
        except Exception as exc:  # plan-time failure is itself a finding
            violations.append(f"{name}: PLAN FAILURE {type(exc).__name__}: {exc}")
            continue
        n_exchange = nodes.count(("ShuffleExchangeExec", True))
        flagged = [s for s in shapes if any(n == f"{s}Exec" for n, _ in nodes)]
        allowed = ALLOWED.get(name, {})
        bad = [s for s in flagged if s not in allowed]
        note = ",".join(
            f"{s}(ok: {allowed[s]})" if s in allowed else f"{s}(UNEXPLAINED)"
            for s in flagged
        )
        print(f"  {name}: exchanges={n_exchange}" + (f" {note}" if note else ""))
        for s in bad:
            violations.append(f"{name}: unexplained {s}")
    if violations:
        print("VIOLATIONS:")
        for v in violations:
            print("  " + v)
        return 1
    print("PLAN AUDIT: clean (all expensive shapes allowlisted)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
