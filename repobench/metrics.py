"""The metrics the benchmark prints, as BENCHMARK.json names them."""

from __future__ import annotations

from spans import SPAN_FIELDS

END_TO_END = (
    {"name": "setup_s", "unit": "s", "better": "lower"},
    {"name": "cycle_s", "unit": "s", "better": "lower"},
    {"name": "items_per_s", "unit": "1/s", "better": "higher"},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower"},
    {"name": "recall", "unit": "ratio", "better": "higher"},
)

# every span the workloads open, named after the function it wraps
SPANS = (
    "session.get_spark",
    # search_serve set-up: the index build
    "plans.ivf.build_ivf_index",
    "plans.pq.train_pq_codebooks",
    "plans.pq.pq_encode",
    "queries.embedding_analysis.knn_edges_published",
    # search_serve cycles: the read path
    "plans.ivf.ivf_search",
    "plans.pq.ivfpq_search",
    "operators.graph_ann.graph_beam_search_interactive",
    "operators.topk.score_topk_vectorized",
    "plans.sql_router.route_topk_sql",
    # registry_heavy cycles
    "queries.minhash_quality_audit",
    "queries.pq_recall_bound",
    "queries.ingest_index_build",
)

_FIELD_UNIT = {
    "self_s": "s",
    "pre_action_s": "s",
    "jobs": "count",
    "task_cpu_s": "s",
    "offcpu_s": "s",
    "shuffle_bytes": "bytes",
}

# quality ratios of single layers: (metric, workload quality key)
LAYER_QUALITY = (
    ("plans.ivf.recall_at_10", "ivf_recall_at_10"),
    ("plans.pq.recall_at_10", "ivfpq_recall_at_10"),
    ("operators.graph_ann.recall_at_10", "graph_recall_at_10"),
    ("queries.minhash_quality_audit.recall", "minhash_audit_recall"),
)

PER_LAYER = (
    tuple(
        {"name": f"{s}.{f}", "unit": _FIELD_UNIT[f], "better": "lower"}
        for s in SPANS
        for f in SPAN_FIELDS
    )
    + (
        {"name": "gc_s", "unit": "s", "better": "lower"},
        {"name": "spill_bytes", "unit": "bytes", "better": "lower"},
        {"name": "plans.artifacts.hit_ratio", "unit": "ratio", "better": "higher"},
    )
    + tuple({"name": m, "unit": "ratio", "better": "higher"} for m, _ in LAYER_QUALITY)
)


def per_layer_values(result: dict) -> dict:
    """Every per-layer metric of a traced run; a span the workload never
    opens reads 0 (no calls, no work)."""
    spans = result["per_span"]
    totals = result["workload_totals"]
    quality = result["detail"]["quality"]
    values = {}
    for s in SPANS:
        for f in SPAN_FIELDS:
            values[f"{s}.{f}"] = spans.get(s, {}).get(f, 0)
    values["gc_s"] = totals["gc_s"]
    values["spill_bytes"] = totals["spill_bytes"]
    values["plans.artifacts.hit_ratio"] = totals["hit_ratio"]
    for m, key in LAYER_QUALITY:
        q = quality.get(key)
        values[m] = q["hits"] / q["total"] if q and q["total"] else 0
    units = {m["name"]: m["unit"] for m in PER_LAYER}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}
