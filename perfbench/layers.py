"""Per-layer metrics: name, unit, which way is better, and the end-to-end
metric and workload each is expected to move.

The traced run fails unless each workload reports exactly the metrics
mapped here to its components; a layer it does not reach reads 0.
"""

from __future__ import annotations

#: operator_mix's fixed query list (registered queries, llm/, operators/, streaming/)
OPERATOR_QUERIES = (
    "ann_cosine_topk",
    "setsim_join",
    "k_core_decomposition",
    "stream_interval_join_full",
)
#: table_dml's commit kinds, in pass order
DML_OPS = ("merge", "update_cow", "update_mor", "delete_cow", "delete_mor", "compact", "mtxn")

_ALL = ("ioc_feed", "bulletin_upsert", "table_dml", "operator_mix")

# (name, unit, better, moves, workloads)
LAYERS: list[tuple[str, str, str, str, tuple[str, ...]]] = [
    ("sources.scan_s", "s", "lower", "run_s", ("ioc_feed",)),
    ("sources.partitions", "count", "lower", "run_s", ("ioc_feed",)),
    ("ioc.transform_s", "s", "lower", "run_s", ("ioc_feed",)),
    ("ioc.n_parsed", "count", "higher", "items_per_s", ("ioc_feed",)),
    ("ioc.n_unsupported_type", "count", "lower", "items_per_s", ("ioc_feed",)),
    ("ioc.n_missing_md5", "count", "lower", "items_per_s", ("ioc_feed",)),
    ("ioc.n_indicators", "count", "higher", "items_per_s", ("ioc_feed",)),
    ("ioc.route_s", "s", "lower", "run_s", ("bulletin_upsert",)),
    ("ioc.n_insert", "count", "higher", "items_per_s", ("bulletin_upsert",)),
    ("ioc.n_update", "count", "higher", "items_per_s", ("bulletin_upsert",)),
    ("ioc.n_stale", "count", "lower", "items_per_s", ("bulletin_upsert",)),
    ("sources.enrich_s", "s", "lower", "run_s", ("bulletin_upsert",)),
]
for _ep, _wl in (("intelligence", "ioc_feed"), ("tipreport", "bulletin_upsert")):
    LAYERS += [
        (f"sinks.{_ep}.write_s", "s", "lower", "run_s", (_wl,)),
        (f"sinks.{_ep}.requests", "count", "lower", "run_s", (_wl,)),
        (f"sinks.{_ep}.size_rejects", "count", "lower", "run_s", (_wl,)),
        (f"sinks.{_ep}.objects_per_request", "count", "higher", "run_s", (_wl,)),
        (f"sinks.{_ep}.useful_request_ratio", "ratio", "higher", "run_s", (_wl,)),
        (f"sinks.{_ep}.bytes_sent", "B", "lower", "run_s", (_wl,)),
        (f"sinks.{_ep}.service_s", "s", "lower", "run_s", (_wl,)),
        (f"sinks.{_ep}.partitions", "count", "higher", "run_s", (_wl,)),
    ]
for _op in DML_OPS:
    LAYERS += [
        (f"io.commit_ms.{_op}", "ms", "lower", "run_s", ("table_dml",)),
        (f"io.jobs.{_op}", "count", "lower", "run_s", ("table_dml",)),
        (f"io.bytes_written.{_op}", "B", "lower", "run_s", ("table_dml",)),
    ]
LAYERS += [
    ("io.commit_ms.p50", "ms", "lower", "run_s", ("table_dml",)),
    ("io.commit_ms.p90", "ms", "lower", "run_s", ("table_dml",)),
    ("io.read_ms.p50", "ms", "lower", "run_s", ("table_dml",)),
    ("io.read_ms.p90", "ms", "lower", "run_s", ("table_dml",)),
    ("io.read_jobs", "count", "lower", "run_s", ("table_dml",)),
    ("io.live_versions", "count", "lower", "run_s", ("table_dml",)),
    ("io.write_amp", "ratio", "lower", "run_s", ("table_dml",)),
    ("io.space_amp", "ratio", "lower", "run_s", ("table_dml",)),
]
for _q in OPERATOR_QUERIES:
    LAYERS += [
        (f"plans.{_q}.s", "s", "lower", "run_s", ("operator_mix",)),
        (f"plans.{_q}.jobs", "count", "lower", "run_s", ("operator_mix",)),
    ]
LAYERS += [
    ("plans.fixture_cache_hits", "count", "higher", "setup_s", _ALL),
    ("plans.fixture_cache_builds", "count", "lower", "setup_s", _ALL),
    ("spark.jobs", "count", "lower", "run_s", _ALL),
    ("spark.stages", "count", "lower", "run_s", _ALL),
    ("spark.tasks", "count", "lower", "run_s", _ALL),
    ("spark.idle_frac", "ratio", "lower", "run_s", _ALL),
    ("spark.cpu_s", "s", "lower", "run_s", _ALL),
    ("spark.gc_s", "s", "lower", "run_s", _ALL),
    ("spark.driver_rss_mb", "MiB", "lower", "peak_rss_mb", _ALL),
    ("spark.workers_rss_mb", "MiB", "lower", "peak_rss_mb", _ALL),
    ("spark.jvm_rss_mb", "MiB", "lower", "run_s", _ALL),
    ("trace.pass_s", "s", "lower", "run_s", _ALL),
    ("trace.overhead_frac", "ratio", "lower", "run_s", _ALL),
    ("trace.spans", "count", "higher", "run_s", _ALL),
]

PER_LAYER = [(name, unit) for name, unit, *_ in LAYERS]
