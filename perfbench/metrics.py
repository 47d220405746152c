"""Metric names, units, and the per-layer figures of a traced run.

A traced run traces one operation of each pair (the same query in two
consecutive passes, or two consecutive operations), picked by a seeded
coin; per-layer timings come from the traced ones, and the tracing
overhead is the median over pairs of traced minus untraced latency.
Every per-layer metric is printed on every workload; one whose layer
the workload never calls reads 0.
"""

from __future__ import annotations

from harness import median
from queries import CURATION

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
}

# span name -> per-op median metric
_SPAN_METRICS = {
    "sources.collector.collect_once": "collector.collect_s",
    "plans.medallion.stg_stage": "medallion.stg_s",
    "plans.medallion.ods_stage": "medallion.ods_s",
    "plans.medallion.int_stage": "medallion.int_s",
    "plans.medallion.dwh_stage": "medallion.dwh_s",
    "quality.run_assertions": "quality.assertions_s",
    "queries.build": "queries.build_s",
    "engine.exec": "engine.exec_s",
}
# op kind -> per-op median latency metric
_KIND_METRICS = {
    **{k: f"filelog.{k}_s" for k in (
        "append", "append_all", "merge_by_key", "delete_where", "read",
        "read_pruned", "read_as_of", "read_changes", "write_checkpoint",
        "compact",
    )},
    "tail": "filelog_stream.tail_s",
    **{q: f"q.{q}_s" for q in CURATION},
}
# span name prefix -> layer, for self time
_LAYERS = [
    ("op", "bench"),
    ("io.", "io"),
    ("sources.collector.", "sources.collector"),
    ("plans.medallion.", "plans.medallion"),
    ("sources.merge.", "sources.merge"),
    ("quality.", "quality"),
    ("sources.filelog_stream.", "sources.filelog_stream"),
    ("sources.filelog.", "sources.filelog"),
    ("queries.", "queries"),
    ("engine.", "engine"),
]

PER_LAYER = {
    **{m: "s" for m in _SPAN_METRICS.values()},
    "medallion.ods_s_last_over_first": "ratio",
    "medallion.rows_late_dropped": "count",
    "medallion.rows_bad_id_dropped": "count",
    "lake.bytes_written_per_op": "B",
    "lake.files": "count",
    **{m: "s" for m in _KIND_METRICS.values()},
    "filelog.pruned_files_ratio": "ratio",
    "filelog.live_files": "count",
    "filelog.log_entries": "count",
    "filelog.bytes_written_per_user_byte": "ratio",
    "storage.bytes_per_user_byte": "ratio",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "host.cpu_steal_share": "ratio",
    **{f"self.{layer}_s": "s" for _, layer in _LAYERS},
    "trace.overhead_s": "s",
    "error_rate": "ratio",
}


def _layer(span: str) -> str:
    for prefix, layer in _LAYERS:
        if span == prefix or span.startswith(prefix):
            return layer
    return "bench"


def layer_metrics(ctx, ops, storage, written) -> "dict[str, float]":
    tr = ctx.tracer
    traced = [i for i in range(ops.n) if ops.traced[i]]
    out: "dict[str, float]" = {}
    for span, name in _SPAN_METRICS.items():
        d = [s for o, s in tr.durations(span).items() if o >= 0]
        if d:
            out[name] = median(d)
    # growth of the ods stage from the warm-up cycle (op -1) to the last
    # traced cycle
    ods = tr.durations("plans.medallion.ods_stage")
    if -1 in ods and max(ods) >= 0:
        out["medallion.ods_s_last_over_first"] = ods[max(ods)] / ods[-1]
    for kind, lat in ops.per_kind().items():
        if kind in _KIND_METRICS:
            out[_KIND_METRICS[kind]] = median(lat)
    for name, vals in ctx.samples.items():
        out[name] = median(vals)
    out.update(ctx.values)
    out.update(storage)
    if written and "lake.files" in out:
        out["lake.bytes_written_per_op"] = median(written)
    out["spark.jobs_per_op"] = sum(ops.jobs) / ops.n
    out["spark.tasks_per_op"] = sum(ops.tasks) / ops.n
    selfs: "dict[str, float]" = {}
    for span, s in tr.self_times().items():
        layer = _layer(span)
        selfs[layer] = selfs.get(layer, 0.0) + s
    for layer, s in selfs.items():
        out[f"self.{layer}_s"] = s / max(1, len(traced))
    diffs = ops.paired_overhead()
    if diffs:
        out["trace.overhead_s"] = median(diffs)
    out["error_rate"] = sum(ops.failed) / ops.n
    return out
