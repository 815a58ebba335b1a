"""Golden text-report sink (S8 — reference analyze_pages.py:195-221
renders sections to analysis_output.txt under redirect_stdout; layout is
pandas `to_string`).

`render_analysis` collects each (small) section frame and renders the
golden sections in the reference's order. Uses pandas for the
`to_string`-compatible table layout — driver-side only, on frames the
queries already limited.
"""

from __future__ import annotations

import io
from datetime import datetime

from pyspark.sql import DataFrame

from notion_spark.config import EngineConfig
from notion_spark.functions.text import truncate_text  # noqa: F401  (API surface)


def _table(df: DataFrame, cols: list[str] | None = None, max_rows: int | None = None) -> str:
    # limit BEFORE collecting — sections like `overdue` are unbounded and
    # the driver must only ever hold the displayed rows
    if max_rows is not None:
        df = df.limit(max_rows)
    pdf = df.toPandas()
    if cols:
        pdf = pdf[[c for c in cols if c in pdf.columns]]
    if pdf.empty:
        return "(none)"
    return pdf.to_string(index=False)


def render_analysis(
    sections: dict[str, DataFrame], now: datetime, cfg: EngineConfig
) -> str:
    """Render the EP2 section map (queries.analysis.run_all) to the golden
    text layout (samples/sample_analysis_output.txt structure: summary,
    overdue, avg days, priority histogram, crosstab, due-next-7d,
    longest-pending, created-per-week)."""
    out = io.StringIO()
    w = out.write

    summary = sections["task_summary"].collect()[0]
    w(f"Total number of tasks: {summary['total']}\n")
    w(f"Completed tasks: {summary['completed']} ({summary['pct_complete']}%)\n")
    w(f"Tasks in progress: {summary['doing']}\n")
    w(f"Tasks to do: {summary['todo']}\n\n")

    w("Overdue tasks:\n")
    w(_table(sections["overdue"], ["nid", "name", "status", "due", "priority"], 30))
    w("\n\n")

    avg_row = sections["avg_completion_days"].collect()
    if avg_row and avg_row[0]["avg_days"] is not None:
        w(f"Average time to complete tasks: {round(avg_row[0]['avg_days'])} days\n\n")

    w("Task priorities:\n")
    w(_table(sections["priority_counts"]))
    w("\n\n")

    w("Immediate action required:\n")
    w(_table(sections["immediate_action"], ["nid", "name", "status", "due", "priority"], 30))
    w("\n\n")

    w("Due within 7 days:\n")
    w(_table(sections["due_this_week"], ["nid", "name", "due", "priority"]))
    w("\n\n")

    w("Status x Priority:\n")
    w(_table(sections["status_priority_crosstab"]))
    w("\n\n")

    w("Longest pending tasks:\n")
    w(_table(sections["oldest_pending"], ["nid", "name", "created"]))
    w("\n\n")

    w("Tasks created per week:\n")
    w(_table(sections["created_per_week"]))
    w("\n")

    if "uncategorized" in sections:
        w("\nUncategorized tasks:\n")
        w(_table(sections["uncategorized"], ["nid", "name", "status"]))
        w("\n")
    return out.getvalue()
