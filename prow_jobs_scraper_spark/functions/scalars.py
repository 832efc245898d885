"""Scalar functions (SURVEY.md §2.8): the reference's row-at-a-time
Python scalars that the engine still calls, as Catalyst column
expressions (JVM-side, codegen'd — zero Python in these paths).

Reference citations are per-function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def starts_with(col: Column, prefix: str) -> Column:
    """F2 (reference prowjob.py:89)."""
    return col.startswith(prefix)


def url_path_suffix(url: Column, skip: int = 4) -> Column:
    """F4: '/'.join(url.path.split('/')[skip:]) (reference utils.py:8-15)."""
    parts = F.split(F.parse_url(url, F.lit("PATH")), "/")
    return F.concat_ws("/", F.slice(parts, skip + 1, 1000))


def iso_year(ts: Column) -> Column:
    """ISO week-numbering year: year of the Thursday of ts's week.

    (Spark bans week-based datetime patterns like 'YYYY'; this is the
    standard Thursday construction — dayofweek is 1=Sun..7=Sat.)"""
    iso_dow = ((F.dayofweek(ts) + 5) % 7) + 1  # 1=Mon..7=Sun
    thursday = F.date_add(F.to_date(ts), 4 - iso_dow)
    return F.year(thursday)


def weekly_index_name(prefix: str, ts: Column) -> Column:
    """F5+F10: '{prefix}-{iso_year}.{iso_week:02d}' — the reference's
    weekly time-partition key (reference event.py:198-202). In our engine
    this is a partition VALUE, not a physical index."""
    return F.format_string(f"{prefix}-%d.%02d", iso_year(ts), F.weekofyear(ts))
