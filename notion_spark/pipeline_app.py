"""End-to-end pipeline orchestration (EP1 parity — reference app.py:23-108).

The reference runs fetch → cache-upsert → analyze → 6 report invocations
serially, re-reading its CSV cache at every step. Here the pipeline is:

1. ingest (connector → assemble_tasks, set-at-a-time)
2. incremental merge into the Parquet canonical store (M1 + M2)
3. ONE cached normalized frame feeding every analysis/report query lazily
   (the reference re-reads + re-normalizes 7×, SURVEY §4)
4. sinks: golden text report, chart data, report payloads, CSV/JSON export

Everything takes an injected ``now`` — no wall-clock anywhere.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_analysis, normalize_for_reports
from notion_spark.operators.incremental import changed_rows, keep_last_upsert
from notion_spark.queries import analysis as analysis_q
from notion_spark.queries import reports as reports_q
from notion_spark.sinks.charts import render_chart_canvases, render_charts
from notion_spark.sinks.pdf_report import render_pdf, report_payload
from notion_spark.sinks.text_report import render_analysis
from notion_spark.sources.io import export_tasks_csv, export_tasks_json


@dataclass
class PipelineResult:
    n_fetched: int
    n_changed: int
    n_cached: int
    analysis_text: str | None = None
    report_payloads: dict[str, dict] = field(default_factory=dict)
    pdf_paths: dict[str, str] = field(default_factory=dict)
    chart_paths: list[str] = field(default_factory=list)


def refresh_cache(
    spark: SparkSession, fetched: DataFrame, cache_path: str
) -> tuple[DataFrame, int]:
    """M1+M2: skip unchanged rows by (uid, updated_time) watermark, merge
    the rest keep-last into the canonical Parquet store. Returns (merged
    frame, n_changed)."""
    from notion_spark.sources.io import overwrite_store

    if os.path.exists(cache_path):
        cache = spark.read.parquet(cache_path)
        delta = changed_rows(fetched, cache, "uid", "updated_time")
        n_changed = delta.count()
        merged = keep_last_upsert(cache, delta, "uid")
    else:
        delta = fetched
        n_changed = fetched.count()
        merged = fetched
    overwrite_store(merged, cache_path)
    return spark.read.parquet(cache_path), n_changed


def run_pipeline(
    spark: SparkSession,
    fetched_tasks: DataFrame,
    cache_dir: str,
    now: datetime,
    cfg: EngineConfig = EngineConfig(),
    periods: tuple[str, ...] = ("daily", "weekly", "biweekly", "monthly", "yearly"),
    export: bool = True,
) -> PipelineResult:
    """The full EP1 step list (app.py:23-99) over an already-fetched
    tasks frame (the connector is injected upstream — tests use fixtures,
    production passes assemble_tasks output)."""
    cache_path = os.path.join(cache_dir, "tasks.parquet")
    # the ingest lineage (JSON parse, joins, flattening) feeds three
    # consumers (count, change detection, merge write) — persist once
    fetched_tasks = fetched_tasks.cache()
    n_fetched = fetched_tasks.count()
    merged, n_changed = refresh_cache(spark, fetched_tasks, cache_path)
    fetched_tasks.unpersist()

    if export:
        export_tasks_csv(merged, os.path.join(cache_dir, "tasks_csv"))
        export_tasks_json(merged, os.path.join(cache_dir, "tasks_json"))

    # EP2: analysis over ONE cached normalized frame
    analyzed = normalize_for_analysis(merged).cache()
    sections = analysis_q.run_all(analyzed, now, cfg)
    text = render_analysis(sections, now, cfg)
    with open(os.path.join(cache_dir, "analysis_output.txt"), "w") as f:
        f.write(text)

    # EP3: one report per period (app.py:72-99), rendered to real PDFs
    # with the analysis charts embedded (generate_reports.py:588-600).
    # Canvases render ONCE (three collects + rasterization) and feed both
    # the PNG files and every PDF; with export off nothing renders.
    chart_paths: list[str] = []
    chart_bufs: list[tuple[bytes, int, int]] = []
    if export:
        canvases = render_chart_canvases(sections)
        chart_paths = render_charts(canvases, cache_dir)
        chart_bufs = [(c.rgb_bytes(), c.w, c.h) for c in canvases]
    reported = normalize_for_reports(merged).cache()
    payloads = {}
    pdf_paths = {}
    for period in periods:
        frames = reports_q.report_frames(reported, period, now, cfg)
        payloads[period] = report_payload(frames, period, now, cfg)
        if export:
            pdf_paths[period] = render_pdf(
                payloads[period],
                os.path.join(cache_dir, f"{period}_{now:%Y-%m-%d}.pdf"),
                charts=chart_bufs,
            )
    analyzed.unpersist()
    reported.unpersist()

    return PipelineResult(
        n_fetched=n_fetched,
        n_changed=n_changed,
        n_cached=merged.count(),
        analysis_text=text,
        report_payloads=payloads,
        pdf_paths=pdf_paths,
        chart_paths=chart_paths,
    )
