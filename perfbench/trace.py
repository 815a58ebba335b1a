"""Span tracing for the traced run (``--trace 1``).

Spans are recorded from outside the library: around each call the
benchmark makes into a layer, and around the library functions the
benchmark wraps for the duration of the run (``install``). Every span
sets a Spark job group, so the UI REST ``/jobs`` and ``/stages`` records
can be attributed to the innermost span that launched them. Spans stay
in memory and are written out once, when the run ends.

Timed runs use ``NullTracer``: no wrappers, no job groups, UI off.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import sys
import time
import urllib.request

# (module, attribute, span name) wrapped in the ``pipeline_app``
# namespace: the functions ``run_pipeline`` calls by name.
PIPELINE_CALLS = [
    ("notion_spark.pipeline_app", "refresh_cache", "incremental.refresh_cache"),
    ("notion_spark.pipeline_app", "changed_rows", "incremental.changed_rows"),
    ("notion_spark.pipeline_app", "keep_last_upsert", "incremental.keep_last_upsert"),
    ("notion_spark.pipeline_app", "export_tasks_csv", "io.export"),
    ("notion_spark.pipeline_app", "export_tasks_json", "io.export"),
    ("notion_spark.pipeline_app", "normalize_for_analysis", "normalize.build"),
    ("notion_spark.pipeline_app", "normalize_for_reports", "normalize.build"),
    ("notion_spark.pipeline_app", "render_analysis", "sinks.render_analysis"),
    ("notion_spark.pipeline_app", "render_chart_canvases", "sinks.charts"),
    ("notion_spark.pipeline_app", "render_charts", "sinks.charts"),
    ("notion_spark.pipeline_app", "report_payload", "sinks.report_payload"),
    ("notion_spark.pipeline_app", "render_pdf", "sinks.render_pdf"),
    ("notion_spark.queries.analysis", "run_all", "queries.analysis.build"),
    ("notion_spark.queries.reports", "report_frames", "queries.reports.build"),
    ("notion_spark.sources.io", "overwrite_store", "io.overwrite_store"),
]


class NullTracer:
    """Tracer of the timed runs: records nothing."""

    ops = 0

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def wrap(self, fn, name: str):
        return fn

    def begin_op(self, name: str) -> None:
        pass


class Tracer:
    """In-memory span recorder with Spark job-group attribution."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = -1
        self.ops = 0
        self._undo: list[tuple[object, str, object]] = []

    def begin_op(self, name: str) -> None:
        self._op = self.ops
        self.ops += 1

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a span timed before the tracer existed (perf_counter
        clock), converted to the wall clock the other spans use."""
        shift = time.time() - time.perf_counter()
        self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                           "op": None, "start": start + shift, "end": end + shift})

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self._op,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ wrapping
    def wrap(self, fn, name: str):
        """``fn`` recording a span named ``name`` around every call."""
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def _patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def install(self) -> None:
        """Wrap ``read_table`` in every loaded ``notion_spark`` module
        that imported it, and the functions ``run_pipeline`` calls."""
        import notion_spark.parity  # noqa: F401  (loads every registry module)
        import notion_spark.pipeline_app  # noqa: F401
        from notion_spark.sources import io

        original = io.read_table
        wrapped = self.wrap(original, "io.read_table")
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("notion_spark") and (
                getattr(mod, "read_table", None) is original
            ):
                self._undo.append((mod, "read_table", original))
                setattr(mod, "read_table", wrapped)
        for modname, attr, name in PIPELINE_CALLS:
            self._patch(sys.modules[modname], attr, name)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    # ------------------------------------------------------- attribution
    def spark_records(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs and stages of this application from the UI REST API."""
        self._drain_listener()
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

        def get(path: str):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        jobs = get("/jobs")
        stages = {s["stageId"]: s for s in get("/stages") if s["status"] == "COMPLETE"}
        return jobs, stages

    def _drain_listener(self) -> None:
        """Wait until the UI store has seen every job the tracker knows."""
        tracker = self.sc.statusTracker()
        for _ in range(100):
            if not tracker.getActiveJobsIds() and not tracker.getActiveStageIds():
                break
            time.sleep(0.05)
        time.sleep(0.5)

    def attribute(self) -> None:
        """Attach each job (and its stages' task metrics) to its span."""
        jobs, stages = self.spark_records()
        seen_stage: set[int] = set()
        for span in self.spans:
            span["jobs"] = []
        for job in jobs:
            group = job.get("jobGroup") or ""
            if not group.startswith("span-"):
                continue
            span = self.spans[int(group[5:])]
            m = {"job": job["jobId"], "start": _epoch(job.get("submissionTime")),
                 "end": _epoch(job.get("completionTime")), "stages": 0, "tasks": 0,
                 "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
                 "shuffle_fetch_wait_s": 0.0, "spill_mb": 0.0}
            for sid in job.get("stageIds", []):
                st = stages.get(sid)
                if st is None or sid in seen_stage:
                    continue
                seen_stage.add(sid)
                m["stages"] += 1
                m["tasks"] += st.get("numCompleteTasks", 0)
                m["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
                m["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                m["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
                m["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
                m["shuffle_fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
                m["spill_mb"] += (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / 1e6
            span["jobs"].append(m)


def _epoch(stamp: str | None) -> float | None:
    """UI REST time ("2026-10-17T03:00:00.123GMT") to epoch seconds."""
    if not stamp:
        return None
    return dt.datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def descendants(spans: list[dict], root: int) -> list[dict]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(spans[sid])
        todo.extend(kids.get(sid, []))
    return out
