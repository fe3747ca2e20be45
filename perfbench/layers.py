"""The per-layer metrics a traced run prints, with units: the same list
for every workload, so a layer a workload does not run reads 0 there.
Kept to the numbers an optimization is most likely to move."""

from __future__ import annotations

from streams import QUERIES

ETL_SPANS = (
    "etl", "sources.extract", "plans.nem_etl.flatten_facilities",
    "plans.nem_etl.rollup_readings", "plans.nem_etl.consolidate_wide",
    "operators.reshape.pivot_wide", "sources.io.write",
    "plans.nem_publish.publish_to_files", "plans.nem_publish.replay_payloads",
    "streaming.pipeline.drain",
)
RENDER_SPANS = (
    "render", "render.read_sinks", "plans.dashboard.filter_snapshot",
    "plans.dashboard.facility_metrics", "plans.dashboard.market_metrics",
    "plans.dashboard.fuel_legend", "plans.dashboard.marker_sizes",
    "windows.totals_timeseries",
)

# The query catalog (workload query_catalog): one query per family; the
# operator module each exercises in comments.
CATALOG = (
    ("q_tpch_q1", "queries_tpch"),                # relational group-agg
    ("q_text_quality", "queries_text"),           # functions.text
    ("q_dedup_minhash_lsh", "queries_text"),      # operators.dedup (rows only)
    ("q_tfidf", "queries_corpus"),                # operators.tokenize
    ("q_ann_bruteforce", "queries_similarity"),   # operators.similarity
    ("q_triangle_count", "queries_graph"),        # operators.graph
    ("q_ohlc", "queries_temporal"),               # operators.temporal
)


def _names() -> list[str]:
    names = ["gen_s", "failed_ops_ratio", "tracing.setup_s", "tracing.job_s",
             "tracing.bookkeeping_s"]
    for s in ETL_SPANS[:-1]:
        names += [f"{s}.s", f"{s}.jobs", f"{s}.tasks", f"{s}.shuffle_bytes"]
        if s in ("etl", "plans.nem_etl.consolidate_wide", "plans.nem_publish.publish_to_files"):
            names.append(f"{s}.self_s")  # a leaf span's self time is its time
    # The drain's streaming jobs run on the queries' threads, outside its
    # job group: only its time.
    names.append("streaming.pipeline.drain.s")
    names += ["sources.extract.rows_out", "plans.nem_etl.rollup_readings.rows_out",
              "plans.nem_publish.replay_payloads.rows_out", "sources.io.write.bytes",
              "plans.nem_publish.events_out", "etl.span_coverage",
              "streaming.pipeline.drain.events", "streaming.pipeline.drain.first_visible_ms"]
    for q in QUERIES:
        p = f"streaming.pipeline.{q}"
        names += [f"{p}.batches", f"{p}.batch_ms_p50", f"{p}.batch_ms_max",
                  f"{p}.queryPlanning_ms", f"{p}.addBatch_ms", f"{p}.walCommit_ms"]
    names.append("streaming.pipeline.read_amplification")
    for layer in ("snapshot", "windows"):
        names += [f"streaming.{layer}.{k}" for k in
                  ("state_rows", "state_bytes", "rows_dropped_by_watermark", "dedup_dropped")]
    names += ["streaming.ingest.routed_ratio", "streaming.ingest.quarantined",
              "streaming.replay.generator_lag_p95_ms", "streaming.replay.backlog_events_mid",
              "streaming.replay.backlog_events_end"]
    names += [f"{s}.ms" for s in RENDER_SPANS]
    names += ["render.jobs", "render.tasks", "render.shuffle_bytes", "render.reruns",
              "render.per_s", "render.p50_ms", "live.setup_s", "live.staleness_ms",
              "live.batch_s", "live.delivered_per_s", "live.freshness_p50_ms",
              "live.freshness_p95_ms"]
    names.append("catalog.s")
    for q, _ in CATALOG:
        names += [f"catalog.{q}.s", f"catalog.{q}.jobs"]
    # per-module sums where a module has more than one query
    modules = [m for _, m in CATALOG]
    names += [f"catalog.{m}.s" for m in dict.fromkeys(modules) if modules.count(m) > 1]
    return names


def unit(name: str) -> str:
    """Unit of a metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last == "ms" or last.endswith("_ms") or "_ms_" in last:
        return "ms"
    if last.endswith("per_s") or last.endswith("eps"):
        return "1/s"
    if last == "s" or last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    if any(w in last for w in ("ratio", "coverage", "amplification")):
        return "ratio"
    return "count"


PER_LAYER = {name: unit(name) for name in _names()}
