"""The benchmark's workloads and the layer map its traced run reports.

Each workload is a fixed list of declared queries (``plans.queries.REGISTRY``
names).  A *pass* runs every query of the workload once; the seed only
permutes the order of each pass.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, list[str]] = {
    # The reference's ETL surface: scans, filters, cleaning, hash
    # aggregation, joins, top-k, set operations, search, text and time
    # series.
    # Each query is small, so a pass is dominated by per-query overhead:
    # building the plan in Python, Catalyst planning and job scheduling.
    # One query per operator shape, so the untimed check pass (which pays
    # for JIT and code generation) stays short and a run stays near a minute.
    "relational_light": [
        "scan_filter_project",
        "cleaning_normalize",
        "dedup_by_key",
        "top_orders_by_price",
        "grouped_topn",
        "pricing_summary",
        "rollup_lineitem",
        "unpivot_udtf_twin",
        "having_big_customers",
        "revenue_by_region",
        "shipping_priority",
        "customers_without_orders",
        "setop_intersect",
        "word_counts_top20",
        "search_documents",
        "text_stats",
        "nested_hof_orders",
        "json_extract_props",
        "events_sessions",
        "cdc_last_state",
        "rolling_7day_revenue",
        "pivot_event_types",
        "asof_purchase_last_click",
        "funnel_view_click_purchase",
    ],
    # The extension operators: near-duplicate detection, similarity search,
    # graph peeling, and protocols that run many actions per query (artifact
    # writes and re-reads, streaming epochs with checkpoints).  Each query
    # runs jobs while its plan is built, so set-up and execution interleave.
    "dedup_stream": [
        "simhash_neardups",
        "cosine_neardups_blocked",
        "kcore_incremental_maintenance",
        "stream_dedup_watermarked",
        "partitioned_roundtrip",
    ],
}

#: Scale factor of each workload's input tables: the largest at which a run
#: stays near a minute (set-up 11-16 s, check pass 20-35 s, two timed
#: passes).  Measured on 4 cores: a relational_light pass takes 7.5-9 s at
#: sf 0.01 and 16.6 s at sf 0.1; a dedup_stream run takes 64-76 s at sf 0.05
#: and 75-94 s at sf 0.1.  At sf 0.01 ``documents`` and ``embeddings`` keep
#: their 500-row floor, so dedup_stream would mostly time kcore's actions;
#: at sf 0.05 (2500 documents, 1000 vectors) the near-duplicate and
#: similarity queries take a third of its pass (a fifth at sf 0.01).
#: relational_light measures per-query overhead, which sf 0.01 shows as well
#: as sf 0.1.
SF: dict[str, float] = {"relational_light": 0.01, "dedup_stream": 0.05}

#: Which end-to-end metric each per-layer metric is expected to move, and on
#: which workload.  Printed by the traced run next to the layer figures.
LAYER_MAP: dict[str, str] = {
    "session.get_spark_s": "setup_s",
    "sources.io.load_table": "query_geomean_s on relational_light",
    "plans.queries.construct_s": "query_geomean_s on relational_light",
    "plans.queries.build_jobs": "wall_s and query_tail_s on dedup_stream",
    "operators.<module>": "wall_s on the workload that calls the module",
    "streaming": "wall_s on dedup_stream",
    "py4j": "query_geomean_s on relational_light; dedup_stream unchanged",
    "catalyst.plan_s": "query_geomean_s on relational_light",
    "catalyst.exchanges": "wall_s on dedup_stream",
    "exec": "wall_s and query_tail_s on dedup_stream; relational_light unchanged",
    "exec.gc_s": "session.peak_rss_mb",
}


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    names = list(WORKLOADS[workload])
    random.Random(f"{seed}:{pass_no}").shuffle(names)
    return names
