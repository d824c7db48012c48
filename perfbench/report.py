"""Turns a workload ``Result`` (and, in a traced run, its spans and Spark
event-log groups) into the report line and the result line."""

from __future__ import annotations

from perfbench import spans as sp
from perfbench.workloads import SUITE

#: End-to-end metrics, reported by every workload.
#:   latency_s  - seconds a client waits for one unit of its work: the
#:                median commit (cdc_cow), the median freshness round,
#:                batch hand-off until all three personalities are synced
#:                (mor_fresh), the median pass over the suite
#:                (analytic_suite)
#:   throughput - envelopes ingested per second of engine time in the
#:                ingest loop, inline services, syncs and reads included
#:                (cdc_cow, mor_fresh); queries answered per second of
#:                query time (analytic_suite)
E2E_UNITS = {
    "setup_s": "s",
    "latency_s": "s",
    "throughput": "1/s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

COUNT_LAYERS = ("tables.timeline", "tables.manifest", "tables.locks")


def _e2e(r, rss: float) -> dict:
    return {
        "setup_s": r.setup_s,
        "latency_s": r.latency_s,
        "throughput": r.work_units / max(r.engine_s, 1e-9),
        "peak_rss_mb": rss,
        "ok_ratio": 1.0 - r.failed / max(1, r.attempted),
    }


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in report order."""
    u = {
        "sources.cdc.self_s": "s",
        "sources.cdc.collapse_ratio": "ratio",
        "tables.table.upsert_s": "s",
        "tables.table.delete_s": "s",
        "tables.table.self_s": "s",
        "tables.table.files_rewritten_per_commit": "count",
        "tables.table.rows_rewritten_per_change": "ratio",
    }
    for layer in COUNT_LAYERS:
        u[f"{layer}.s"] = "s"
        u[f"{layer}.calls"] = "count"
    u["tables.timeline.conflicts"] = "count"
    u.update({
        "tables.maintenance.compaction_s": "s",
        "tables.maintenance.compaction_bytes": "bytes",
        "tables.maintenance.clean_s": "s",
        "tables.delta_export.sync_s": "s",
        "tables.iceberg_export.sync_s": "s",
        "tables.hudi_export.sync_s": "s",
        "tables.object_publish.puts": "count",
        "tables.object_publish.put_bytes": "bytes",
        "tables.object_publish.s": "s",
        "sql.engine.plan_s": "s",
        "sql.engine.exec_s": "s",
        "operators.plan_s": "s",
        "operators.exec_s": "s",
    })
    for q in SUITE:
        u[f"operators.{q}.exec_s"] = "s"
    u.update({
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.busy_s": "s",
        "spark.driver_gap_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.input_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.python_bytes": "bytes",
        "storage.bytes_written": "bytes",
        "storage.files_added": "count",
        "storage.live_files": "count",
        "storage.table_bytes": "bytes",
        "trace.overhead_pct": "%",
        "trace.bookkeeping_pct": "%",
    })
    return u


def _per_layer(r, ref, ctx, groups: dict) -> dict[str, float]:
    """Per-layer values, each per traced op (one commit, round or query)
    unless it is a ratio, a table-size gauge or a per-query mean."""
    spans = ctx.tracer.spans
    selfs = sp.self_times(spans)
    n_ops = max(1, r.traced_ops)
    m: dict[str, float] = {}

    def dur(pred) -> float:
        return sum(s.duration for s in spans if pred(s.name))

    def self_of(pred) -> float:
        return sum(t for s, t in zip(spans, selfs) if pred(s.name))

    def outer(layer: str) -> list:
        """Spans of ``layer`` not nested in another span of it."""
        return [
            s for s in spans
            if s.layer == layer
            and (s.parent is None or spans[s.parent].layer != layer)
        ]

    m["sources.cdc.self_s"] = self_of(lambda n: n.startswith("sources.cdc:")) / n_ops
    m["tables.table.upsert_s"] = dur(lambda n: n == "tables.table:upsert") / n_ops
    m["tables.table.delete_s"] = dur(lambda n: n == "tables.table:delete") / n_ops
    m["tables.table.self_s"] = self_of(lambda n: n.startswith("tables.table:")) / n_ops
    for layer in COUNT_LAYERS:
        m[f"{layer}.s"] = sum(s.duration for s in outer(layer)) / n_ops
        m[f"{layer}.calls"] = sum(1 for s in spans if s.layer == layer) / n_ops
    m["tables.timeline.conflicts"] = sum(
        1 for s in spans if s.layer == "tables.timeline" and s.error == "ConflictError"
    )
    m["tables.maintenance.compaction_s"] = (
        dur(lambda n: n.endswith(":run_compaction")) / n_ops
    )
    m["tables.maintenance.clean_s"] = dur(lambda n: n.endswith(":run_clean")) / n_ops
    for exp in ("delta_export", "iceberg_export", "hudi_export"):
        m[f"tables.{exp}.sync_s"] = dur(lambda n, e=exp: n == f"tables.{e}:sync") / n_ops
    puts = [s for s in spans if s.name.endswith((":put_bytes", ":put_file"))]
    m["tables.object_publish.puts"] = len(puts) / n_ops
    m["tables.object_publish.put_bytes"] = sum(s.nbytes for s in puts) / n_ops
    m["tables.object_publish.s"] = (
        sum(s.duration for s in outer("tables.object_publish")) / n_ops
    )
    m["sql.engine.plan_s"] = dur(lambda n: n == "sql.engine:sql") / n_ops
    m["sql.engine.exec_s"] = dur(lambda n: n.startswith("sql.engine.exec:")) / n_ops
    m["operators.plan_s"] = dur(lambda n: n.startswith("operators:")) / n_ops
    m["operators.exec_s"] = dur(lambda n: n.startswith("operators.exec:")) / n_ops
    for q in SUITE:
        runs = [s.duration for s in spans if s.name == f"operators.exec:{q}"]
        m[f"operators.{q}.exec_s"] = sum(runs) / len(runs) if runs else 0.0

    op_ids = {o[0] for o in ctx.ops}
    ours = [st for g, st in groups.items() if g in op_ids]
    m["spark.jobs"] = sum(o[2] for o in ctx.ops) / n_ops
    # Stages and tasks that ran: a job's stage list also names the
    # stages it skipped, so these come from the event log.
    m["spark.stages"] = sum(st.stages for st in ours) / n_ops
    m["spark.tasks"] = sum(st.tasks for st in ours) / n_ops
    busy = sum(sp.covered(st.job_intervals) for st in ours)
    m["spark.busy_s"] = busy / n_ops
    m["spark.driver_gap_s"] = max(0.0, r.traced_s - busy) / n_ops
    for field in ("executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "python_bytes"):
        m[f"spark.{field}"] = sum(getattr(st, field) for st in ours) / n_ops

    for k in ("sources.cdc.collapse_ratio", "tables.table.files_rewritten_per_commit",
              "tables.table.rows_rewritten_per_change",
              "tables.maintenance.compaction_bytes", "storage.bytes_written",
              "storage.files_added", "storage.live_files", "storage.table_bytes"):
        m[k] = r.layer.get(k, 0.0)
    # Traced minus untraced: engine seconds per unit of work in this run
    # over those of the untraced run of the same seed before it. The
    # event-log listener and any JVM-side cost are in the difference.
    m["trace.overhead_pct"] = 100.0 * (
        (r.engine_s / max(1, r.work_units))
        / max(1e-9, ref.engine_s / max(1, ref.work_units))
        - 1.0
    )
    # The part of it the tracer timed in itself, over the traced engine
    # calls' wall time.
    m["trace.bookkeeping_pct"] = 100.0 * r.trace_cost_s / max(1e-9, r.traced_s)
    return m


def build(r, rss: float, ctx, groups: dict, ref=None) -> dict:
    """``ref`` is, in a traced run, the untraced run of the same seed
    made first; its outputs are checked and its ops counted too."""
    runs = [r] if ref is None else [ref, r]
    mismatches = [m for x in runs for m in x.mismatches]
    attempted = sum(x.attempted for x in runs)
    failed = sum(x.failed for x in runs)
    report = dict(r.report)
    report.update({
        "setup_s": r.setup_s,
        "peak_rss_mb": rss,
        "error_rate": failed / max(1, attempted),
        "attempted": attempted,
        "failed": failed,
        "mismatches": mismatches,
        "loop_s": r.loop_s,
    })
    if ctx.traced:
        units = per_layer_units()
        values = _per_layer(r, ref, ctx, groups)
        report["trace"] = {
            "traced_ops": r.traced_ops,
            "traced_s": r.traced_s,
            "trace_cost_s": r.trace_cost_s,
            "engine_s": r.engine_s,
            "untraced_engine_s": ref.engine_s,
            "work_units": r.work_units,
            "untraced_work_units": ref.work_units,
            "spans": len(ctx.tracer.spans),
        }
    else:
        units = E2E_UNITS
        values = _e2e(r, rss)
        report["e2e"] = values
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return {
        "report": report,
        "result": {
            "correct": not mismatches,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }
