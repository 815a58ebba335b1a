"""PDF report sink (S10 — reference generate_reports.py:28-123, 505-600:
fpdf document with watermark, chapters, grouped task lists, markdown
rendering, embedded charts).

Two layers:
- `report_payload` — the fully sorted/grouped/truncated row stream
  (the Spark-side artifact; everything heavy happens in DataFrames and
  only human-scale rows are collected);
- `render_pdf` — driver-side assembly of a real PDF over the payload via
  the dependency-free `minipdf` writer (fpdf is absent in this
  container). The document mirrors the reference's structure: tiled
  rotated watermark header, title block, numbered chapter sections
  grouped by parent name, markdown bold segments, italic page-number
  footer, and an analysis page with embedded charts.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from notion_spark.config import EngineConfig
from notion_spark.functions.text import truncate_lines
from notion_spark.sinks.minipdf import MiniPDF


def safe_encode(text: str) -> str:
    """X6 (generate_reports.py:126-132): clamp to latin-1 with '?'
    replacement — the PDF text-stream encoding contract."""
    return str(text).encode("latin-1", "replace").decode("latin-1")


def report_payload(
    frames: dict[str, DataFrame],
    period: str,
    now: datetime,
    cfg: EngineConfig,
    attachments: DataFrame | None = None,
) -> dict:
    """Collect the report sections as render-ready rows: body truncated to
    cfg.body_content_max_lines (X11, generate_reports.py:97-102), grouped
    by parent_name in section sort order (W1 boundaries implicit in the
    ordering). With ``attachments`` and include_attachments on, readable
    previews join in by nid and append to the body — one join replacing
    the reference's per-row file reads (get_smart_attachment_content,
    generate_reports.py:256-305)."""
    att_text = None
    if attachments is not None and cfg.include_attachments:
        from notion_spark.sources.attachments import attachment_previews

        previews = attachment_previews(attachments, cfg)
        att_text = (
            previews.groupBy("nid")
            .agg(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("filename").alias("f"),
                                    F.concat_ws(
                                        ": ",
                                        F.col("filename"),
                                        F.coalesce(F.col("preview"), F.lit("(attachment)")),
                                    ).alias("t"),
                                )
                            )
                        ),
                        lambda s: s["t"],
                    ),
                ).alias("__att")
            )
        )

    def rows(df: DataFrame) -> list[dict]:
        cols = ["nid", "name", "status", "priority", "parent_name"]
        present = [c for c in cols if c in df.columns]
        out = df
        if cfg.include_body_content and "body_content" in df.columns:
            out = out.withColumn(
                "body_content", truncate_lines("body_content", cfg.body_content_max_lines)
            )
            if att_text is not None:
                out = out.join(att_text, "nid", "left").withColumn(
                    "body_content",
                    F.concat_ws("\n", F.col("body_content"), F.col("__att")),
                ).drop("__att")
            present.append("body_content")
        return [r.asDict() for r in out.select(*present).collect()]

    return {
        "period": period,
        "generated_at": now.isoformat(),
        "sections": {name: rows(df) for name, df in frames.items() if name != "pie_counts"},
        "pie_counts": [tuple(r) for r in frames["pie_counts"].collect()],
    }


class _ReportPdf(MiniPDF):
    """PDFReport twin (generate_reports.py:28-123): watermark header on
    every page, italic centered page-number footer, chapter/group/task
    primitives."""

    def __init__(self, watermark: str):
        super().__init__()
        self.watermark = watermark

    def header(self) -> None:
        self.set_font("Arial", "B", 20)
        self.set_text_color(245, 245, 245)
        self.rotation(45, 105, 148)
        for x in range(-50, 300, 100):
            for y in range(-50, 400, 50):
                self.text(x, y, safe_encode(self.watermark))
        self.end_rotation()
        self.set_text_color(0, 0, 0)

    def footer(self) -> None:
        keep = (self.x, self.y, self.font_style, self.font_size)
        self.set_font("Arial", "I", 8)
        self.x, self.y = self.l_margin, self.h - 15
        self.cell(0, 10, f"Page {self.page_no()}/{{nb}}", 0, 0, "C")
        self.x, self.y = keep[0], keep[1]
        self.font_style, self.font_size = keep[2], keep[3]

    def chapter_title(self, num, label) -> None:
        self.set_font("Arial", "B", 11)
        self.set_fill_color(220, 220, 220)
        self.cell(0, 8, f"{num}. {label}", 0, 1, "L", True)
        self.ln(2)

    def add_group_header(self, group_name) -> None:
        self.set_font("Arial", "B", 10)
        self.set_text_color(100, 100, 100)
        self.ln(2)
        self.cell(0, 6, safe_encode(str(group_name).upper()), 0, 1, "L")
        self.set_text_color(0, 0, 0)
        self.ln(1)

    def chapter_body(self, body: str) -> None:
        self.set_font("Arial", "", 10)
        self.multi_cell(0, 5, safe_encode(body))

    def render_markdown(self, text: str) -> None:
        """Alternate regular/bold on ** boundaries
        (generate_reports.py:106-123)."""
        for line in str(text).split("\n"):
            parts = line.split("**")
            for i, part in enumerate(parts):
                if not part:
                    continue
                self.set_font("Arial", "B" if i % 2 == 1 else "", 9)
                self.multi_cell(0, 5, safe_encode(part))

    def add_task_item(self, index: int, name: str, body: str | None = None) -> None:
        self.set_font("Arial", "B", 9)
        self.multi_cell(0, 5, f"{index + 1}. {safe_encode(name)}")
        if body:
            self.set_font("Arial", "", 9)
            self.render_markdown(body)
            self.ln(2)


# Reference section order and empty-section fallbacks
# (generate_reports.py:556-586).
_SECTIONS = [
    ("completed", "Completed Tasks", "No tasks completed in this period."),
    ("in_progress", "In Progress", "No tasks currently in progress."),
    ("goals", "To Do", "No immediate high priority goals with due dates."),
]


def render_pdf(
    payload: dict,
    path: str,
    watermark: str = "STATUS REPORT",
    prepared_by: str | None = None,
    charts: list[tuple[bytes, int, int]] | None = None,
) -> str:
    """Assemble the report PDF from `report_payload` output
    (generate_reports.py:505-600 structure). ``charts`` takes
    (rgb_bytes, w_px, h_px) buffers — e.g. from
    sinks.charts.render_chart_canvases — embedded on a final analysis
    page. Deterministic: the generated-on line comes from the payload's
    ``generated_at``, never the wall clock."""
    pdf = _ReportPdf(watermark)
    pdf.add_page()

    period = payload.get("period", "report")
    title = f"{str(period).capitalize()} Status Report"
    pdf.set_font("Arial", "B", 16)
    pdf.cell(0, 10, safe_encode(title), 0, 1, "C")
    pdf.set_font("Arial", "", 10)
    pdf.cell(0, 6, f"Period: {period}", 0, 1, "C")
    pdf.set_font("Arial", "I", 9)
    pdf.cell(0, 5, f"Generated on: {payload.get('generated_at', '')[:10]}", 0, 1, "C")
    if prepared_by:
        pdf.cell(0, 5, f"Prepared by: {safe_encode(prepared_by)}", 0, 1, "C")
    pdf.ln(5)

    sections = payload.get("sections", {})

    def grouped(rows: list[dict]) -> None:
        current_group = object()
        for i, row in enumerate(rows):
            group = row.get("parent_name")
            if group != current_group:
                pdf.add_group_header(group if group is not None else "(no parent)")
                current_group = group
            pdf.add_task_item(i, str(row.get("name")), row.get("body_content"))

    for num, (key, label, empty_msg) in enumerate(_SECTIONS, start=1):
        pdf.chapter_title(num, label)
        rows = sections.get(key) or []
        if rows:
            grouped(rows)
        else:
            pdf.chapter_body(empty_msg)

    unc = sections.get("uncategorized")
    if unc:
        pdf.chapter_title(4, "Uncategorized / Other Tasks")
        pdf.chapter_body(
            "These tasks do not match standard status filters (To Do, Doing, Done)."
        )
        for i, row in enumerate(unc):
            pdf.add_task_item(i, str(row.get("name")))

    if charts:
        pdf.add_page()
        # the reference passes the string "Analysis" as the chapter number
        # (generate_reports.py:592) — kept verbatim for artifact parity
        pdf.chapter_title("Analysis", "Work Distribution & Productivity Trends")
        y = pdf.get_y()
        for rgb, w_px, h_px in charts:
            pdf.image_rgb(rgb, w_px, h_px, x=10, y=y, w=90)
            y += 90 * h_px / w_px + 5

    data = pdf.output()
    with open(path, "wb") as f:
        f.write(data)
    return path
