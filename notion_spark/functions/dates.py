"""Date/time scalar functions (SURVEY §2.10 X7-X8) and week anchoring.

The reference uses two distinct weekly anchors: pandas `resample("W-MON")`
for completion velocity (analyze_pages.py:438) and `W-SUN` for the
created-per-week golden section (samples/sample_analysis_output.txt:77).
Both are label-at-week-END conventions; Spark's `date_trunc('week', ts)`
is ISO Monday-START. Helpers below convert exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def week_start(col: Column | str) -> Column:
    """ISO week start (Monday 00:00) — `date_trunc('week', ts)`."""
    return F.date_trunc("week", _c(col))


def week_ending(col: Column | str, anchor: str = "MON") -> Column:
    """pandas-style week-ENDING label: the next ``anchor`` day on or after
    the value's date (pandas `resample('W-MON')` labels a bucket by the
    Monday that closes it; `W-SUN` by the Sunday).

    `next_day` returns the strictly-next anchor day, so values already on
    the anchor day map to themselves via the date-1 trick.
    """
    d = F.to_date(_c(col))
    return F.next_day(F.date_sub(d, 1), anchor)


def iso_week_label(col: Column | str) -> Column:
    """'YYYY-Www' ISO week label (generate_reports.py:372, 376 via
    isocalendar)."""
    c = _c(col)
    # ISO week-numbering year = calendar year of that week's Thursday
    # (Spark bans the 'Y' week-year pattern under the modern formatter, so
    # derive it: Monday week start + 3 days).
    week_year = F.year(F.date_add(F.to_date(F.date_trunc("week", c)), 3))
    return F.concat_ws(
        "-W",
        week_year.cast("string"),
        F.lpad(F.weekofyear(c).cast("string"), 2, "0"),
    )
