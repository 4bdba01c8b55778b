"""Per-layer metrics from the spans of a traced run.

Layers are the package's modules: ``sources``, ``functions``,
``operators``, ``ml``, ``plans`` and ``session`` (Spark's own job
scheduling, counted per operation). Every metric is reported on every
workload; a layer a workload never calls reads 0 there.
"""

from __future__ import annotations

import statistics

from spans import self_times

# metric -> (span name, unit); the value is the span's self time summed
# over one operation, median over operations
PER_OP_TIME = {
    "sources.list_ms": ("sources.list", "ms"),
    "sources.ingest_s": ("sources.ingest", "s"),
    "sources.scan_s": ("sources.scan", "s"),
    "functions.features_s": ("functions.features", "s"),
    "functions.curves_view_s": ("functions.curves_view", "s"),
    "functions.variogram_s": ("functions.variogram", "s"),
    "functions.period_s": ("functions.period", "s"),
    "operators.comparative_s": ("operators.comparative", "s"),
    "operators.search_s": ("operators.search", "s"),
    "operators.resume_s": ("operators.resume", "s"),
    "operators.ledger_write_s": ("operators.ledger_write", "s"),
    "ml.learn_s": ("ml.learn", "s"),
    "ml.predict_s": ("ml.predict", "s"),
    "ml.grid_s": ("ml.grid", "s"),
}
# metric -> span name; tasks launched inside the span, summed per operation
PER_OP_TASKS = {
    "sources.ingest_tasks": "sources.ingest",
    "functions.features_tasks": "functions.features",
}
# metric -> span name; median self time of one span, in ms
PER_SPAN_MS = {
    "operators.cone_ms_p50": "operators.cone",
    "operators.crossmatch_ms_p50": "operators.crossmatch",
    "plans.plan_ms_p50": "plans.plan",
    "plans.dict_query_ms_p50": "plans.dict_query",
}
SESSION = ("jobs", "stages", "tasks", "failed_tasks")


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(tracer, traced_ops, plain_ops, wl) -> dict:
    """(value, unit) per metric name."""
    spans = tracer.spans
    selfs = self_times(spans)
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree(root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.span_id, []))
        return out

    roots = [o["span"] for o in traced_ops if o["span"] is not None]
    per_op = [subtree(r) for r in roots]
    m: dict[str, tuple[float, str]] = {}
    for key, (name, unit) in PER_OP_TIME.items():
        scale = 1000.0 if unit == "ms" else 1.0
        m[key] = (_median([
            sum(selfs[s.span_id] for s in op if s.name == name) * scale
            for op in per_op]), unit)
    for key, name in PER_OP_TASKS.items():
        m[key] = (_median([
            sum(s.counts.get("tasks", 0) for s in op if s.name == name)
            for op in per_op]), "count")
    for key, name in PER_SPAN_MS.items():
        m[key] = (_median([selfs[s.span_id] * 1000.0 for s in spans
                           if s.name == name]), "ms")

    # counts read from the workload's own outputs, 0 where it has none
    m["operators.ledger_files"] = (0, "count")
    m["operators.ledger_bytes"] = (0, "bytes")
    m["operators.cone_rows_scanned_per_result"] = (0.0, "ratio")
    m.update(wl.layer_counts(traced_ops))

    totals = [tracer.total_counts(r) for r in roots]
    for k in SESSION:
        m[f"session.{k}"] = (_median([t.get(k, 0) for t in totals]), "count")

    m["trace.overhead_ms"] = (
        _median([o["s"] * 1000.0 for o in traced_ops])
        - _median([o["s"] * 1000.0 for o in plain_ops]), "ms")
    return m
