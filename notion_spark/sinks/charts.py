"""Chart sink (S9 — reference analyze_pages.py:422-492 status pie +
velocity bars via matplotlib/seaborn).

Aggregation happens in Spark; only the tiny aggregate result crosses to
the driver. Rendering is dependency-free: the vendored `minipng`
rasterizer draws each chart once (`render_chart_canvases`); the same
canvases become the PNG files (`render_charts`) and the raw RGB buffers
of the PDF sink's image XObjects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from notion_spark.sinks import minipng


def chart_data(sections: dict[str, DataFrame]) -> dict[str, list[tuple]]:
    """Collect the chart inputs (status pie, priority bars, weekly
    velocity) as plain tuples — the render-agnostic artifact."""
    return {
        "status_pie": [tuple(r) for r in sections["status_counts"].collect()],
        "priority_bars": [tuple(r) for r in sections["priority_counts"].collect()],
        "velocity": [tuple(r) for r in sections["completion_velocity"].collect()],
    }


def render_chart_canvases(sections: dict[str, DataFrame]) -> list[minipng.Canvas]:
    """Render the reference's two report charts
    (generate_reports.py:220-253: status pie + priority bars) as minipng
    canvases — PNG-encodable AND embeddable in the PDF as raw RGB."""
    data = chart_data(sections)
    return [
        minipng.pie_chart(data["status_pie"], "Work Distribution"),
        minipng.bar_chart(data["priority_bars"], "Tasks by Priority"),
        minipng.bar_chart(
            [(str(w), n) for w, n in data["velocity"]], "Tasks Completed Over Time"
        ),
    ]


def render_charts(canvases: list[minipng.Canvas], out_dir: str) -> list[str]:
    """Write the canvases of `render_chart_canvases` as the reference's
    PNG files (status pie, priority bars, velocity); returns the paths."""
    names = ["task_status_distribution.png", "tasks_by_priority.png", "velocity.png"]
    paths = []
    for canvas, name in zip(canvases, names):
        p = os.path.join(out_dir, name)
        with open(p, "wb") as f:
            f.write(canvas.png_bytes())
        paths.append(p)
    return paths
