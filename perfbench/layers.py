"""Per-layer metrics of the traced run.

``PER_LAYER`` lists every metric with its unit, which direction is
better, and the end-to-end metric and workload it should move (or must
not move). Values are per timed operation (a query, a pipeline refresh
or one operator's drain of the backlog) unless the name says otherwise;
``stream.*`` values are per micro-batch. A metric of a layer a workload
does not reach reads 0.
"""

from __future__ import annotations

from perfbench.trace import covered, descendants

# name, unit, better, what it should move
PER_LAYER = [
    ("session.get_spark_s", "s", "lower", "setup_s on every workload"),
    ("session.warmup_s", "s", "lower", "setup_s on every workload"),
    ("io.read_table.calls", "count", "lower", "op_geomean_s on query_stream (light queries); not its heavy queries or drains"),
    ("io.read_table.s", "s", "lower", "op_geomean_s on query_stream (light queries); not its heavy queries or drains"),
    ("io.read_table.jobs", "count", "lower", "op_geomean_s on query_stream (light queries); not its heavy queries or drains"),
    ("io.overwrite_store.s", "s", "lower", "pass_s on tasks_pipeline (refreshes) and setup_s (cold)"),
    ("io.export.s", "s", "lower", "pass_s on tasks_pipeline (refreshes) and setup_s (cold)"),
    ("io.bytes_written_mb", "MB", "lower", "pass_s on tasks_pipeline"),
    ("incremental.refresh_cache.s", "s", "lower", "pass_s on tasks_pipeline"),
    ("incremental.changed_share", "share", "lower", "input property of tasks_pipeline (0.01)"),
    ("incremental.rows_rewritten_per_changed", "count", "lower", "pass_s on tasks_pipeline"),
    ("normalize.build_s", "s", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("queries.analysis.build_s", "s", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("queries.reports.build_s", "s", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("sinks.render_analysis.s", "s", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("sinks.charts.s", "s", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("sinks.report_payload.s", "s", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("sinks.report_payload.jobs", "count", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("sinks.render_pdf.s", "s", "lower", "pass_s and setup_s on tasks_pipeline only"),
    ("query.build_s", "s", "lower", "op_geomean_s on query_stream; fixpoint builds (graph_kcore): pass_s on query_stream"),
    ("query.build_jobs", "count", "lower", "op_geomean_s on query_stream; fixpoint builds (graph_kcore): pass_s on query_stream"),
    ("query.plan_s", "s", "lower", "op_geomean_s on query_stream"),
    ("query.exec_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("query.exec_jobs", "count", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.stages", "count", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.tasks", "count", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.executor_run_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.executor_cpu_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.gc_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.shuffle_read_mb", "MB", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.shuffle_write_mb", "MB", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.shuffle_fetch_wait_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.spill_mb", "MB", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("spark.driver_gap_s", "s", "lower", "pass_s and op_geomean_s on query_stream and tasks_pipeline"),
    ("storage.leaked_rdds", "count", "lower", "memory.jvm_peak_rss_mb and pass_s on query_stream (graph_kcore); 0 for light queries"),
    ("memory.jvm_peak_rss_mb", "MB", "lower", "none bounded: the JVM's VmHWM over the whole run"),
    ("memory.python_peak_rss_mb", "MB", "lower", "none bounded: the Python driver's max RSS over the whole run"),
    ("stream.batches", "count", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.input_rows", "count", "higher", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.add_batch_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.planning_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.log_commit_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.source_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.state_rows", "count", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.state_mb", "MB", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.state_update_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.state_commit_s", "s", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.state_removed_rows", "count", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.state_partitions", "count", "lower", "pass_s on query_stream (heavy queries, stream drains)"),
    ("stream.rows_per_s", "1/s", "higher", "pass_s on query_stream (stream drains)"),
    ("stream.batch_p50_s", "s", "lower", "pass_s on query_stream (stream drains)"),
    ("host.steal_share", "share", "lower", "none: CPU time the hypervisor gave other tenants during the timed passes; explains moves the code did not cause"),
    ("trace.coverage_min", "share", "higher", "none: the least share of an operation's wall its named layers cover"),
]

# spans whose total duration per op is reported as "<name>.s" / "<name>_s"
SPAN_SECONDS = {
    "io.read_table.s": "io.read_table",
    "io.overwrite_store.s": "io.overwrite_store",
    "io.export.s": "io.export",
    "incremental.refresh_cache.s": "incremental.refresh_cache",
    "normalize.build_s": "normalize.build",
    "queries.analysis.build_s": "queries.analysis.build",
    "queries.reports.build_s": "queries.reports.build",
    "sinks.render_analysis.s": "sinks.render_analysis",
    "sinks.charts.s": "sinks.charts",
    "sinks.report_payload.s": "sinks.report_payload",
    "sinks.render_pdf.s": "sinks.render_pdf",
    "query.build_s": "query.build",
    "query.exec_s": "query.exec",
}
SPARK_SUMS = ["stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb"]


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _jobs(spans: list[dict]) -> list[dict]:
    return [j for s in spans for j in s.get("jobs", [])]


def per_layer(spans: list[dict], timed: list, first_op: int, host: dict[str, float]) -> dict:
    """Per-layer metrics over the timed operations of a traced run."""
    n = max(1, len(timed))
    values = {name: 0.0 for name, *_ in PER_LAYER}
    values.update(host)
    for s in spans:
        if s["name"] == "session.get_spark":
            values["session.get_spark_s"] = _dur(s)
        elif s["name"] == "session.warmup":
            values["session.warmup_s"] = _dur(s)
    mine = [s for s in spans if s["op"] is not None and s["op"] >= first_op]
    for metric, name in SPAN_SECONDS.items():
        values[metric] = sum(_dur(s) for s in mine if s["name"] == name) / n
    values["io.read_table.calls"] = sum(s["name"] == "io.read_table" for s in mine) / n
    values["io.read_table.jobs"] = len(_jobs([s for s in mine if s["name"] == "io.read_table"])) / n
    values["sinks.report_payload.jobs"] = sum(
        len(_jobs(descendants(spans, s["id"]))) for s in mine if s["name"] == "sinks.report_payload") / n
    for key in ("build", "exec"):
        values[f"query.{key}_jobs"] = sum(
            len(_jobs(descendants(spans, s["id"]))) for s in mine if s["name"] == f"query.{key}") / n
    values["query.plan_s"] = sum(s.get("plan_s", 0.0) for s in mine if s["name"] == "query.exec") / n
    for k in SPARK_SUMS:
        values[f"spark.{k}"] = sum(j[k] for j in _jobs(mine)) / n

    # top-level span of each op: coverage by its named layers, driver gap
    roots = [s for s in mine if s.get("root")]
    coverage, gap = [], 0.0
    for root in roots:
        kids = [s for s in mine if s["parent"] == root["id"]]
        wall = _dur(root)
        coverage.append(sum(_dur(k) for k in kids) / wall if wall > 0 else 1.0)
        intervals = [(j["start"], j["end"]) for j in _jobs(descendants(spans, root["id"]))
                     if j["start"] and j["end"]]
        gap += wall - covered(intervals, root["start"], root["end"])
    values["spark.driver_gap_s"] = gap / n
    values["trace.coverage_min"] = min(coverage) if coverage else 1.0

    values["storage.leaked_rdds"] = sum(op.leaked_rdds for op in timed) / n
    refreshes = [op for op in timed if "n_changed" in op.info]
    if refreshes:
        values["incremental.changed_share"] = sum(op.info["n_changed"] / op.info["n_cached"] for op in refreshes) / len(refreshes)
        values["incremental.rows_rewritten_per_changed"] = sum(op.info["n_cached"] / op.info["n_changed"] for op in refreshes) / len(refreshes)
        values["io.bytes_written_mb"] = sum(op.info["bytes_written"] for op in refreshes) / 1e6 / len(refreshes)
    _stream(values, timed)
    return {name: {"value": values[name], "unit": unit} for name, unit, *_ in PER_LAYER}


def _stream(values: dict, timed: list) -> None:
    progress = [p for op in timed for p in op.info.get("progress", [])]
    if not progress:
        return
    nb = len(progress)
    drains = [op for op in timed if "progress" in op.info]
    d = lambda p, k: p["durationMs"].get(k, 0) / 1e3  # noqa: E731
    st = lambda p, k: sum(o.get(k, 0) for o in p.get("stateOperators", []))  # noqa: E731
    values["stream.batches"] = nb / len(drains)
    values["stream.input_rows"] = sum(p["numInputRows"] for p in progress) / nb
    values["stream.add_batch_s"] = sum(d(p, "addBatch") for p in progress) / nb
    values["stream.planning_s"] = sum(d(p, "queryPlanning") for p in progress) / nb
    values["stream.log_commit_s"] = sum(d(p, "walCommit") + d(p, "commitOffsets") for p in progress) / nb
    values["stream.source_s"] = sum(d(p, "latestOffset") + d(p, "getBatch") for p in progress) / nb
    values["stream.state_rows"] = sum(st(p, "numRowsTotal") for p in progress) / nb
    values["stream.state_mb"] = sum(st(p, "memoryUsedBytes") for p in progress) / 1e6 / nb
    values["stream.state_update_s"] = sum(st(p, "allUpdatesTimeMs") for p in progress) / 1e3 / nb
    values["stream.state_commit_s"] = sum(st(p, "commitTimeMs") for p in progress) / 1e3 / nb
    values["stream.state_removed_rows"] = sum(st(p, "numRowsRemoved") for p in progress) / nb
    values["stream.state_partitions"] = sum(st(p, "numShufflePartitions") for p in progress) / nb
    batch = sorted(d(p, "triggerExecution") for p in progress)
    values["stream.batch_p50_s"] = (batch[(nb - 1) // 2] + batch[nb // 2]) / 2
    rows = sum(p["numInputRows"] for p in progress)
    values["stream.rows_per_s"] = rows / sum(op.wall_s for op in drains)


def self_times(spans: list[dict], n_ops: int, first_op: int) -> dict[str, float]:
    """Self time per span name over the timed operations, per operation:
    a span's duration minus the part its child spans cover."""
    mine = [s for s in spans if s["op"] is not None and s["op"] >= first_op]
    kids: dict[int, list[dict]] = {}
    for s in mine:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in mine:
        inner = [(k["start"], k["end"]) for k in kids.get(s["id"], [])]
        own = _dur(s) - covered(inner, s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own / max(1, n_ops)
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
