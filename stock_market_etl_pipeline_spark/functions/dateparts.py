"""Date-part extraction with the reference's (pandas) conventions.

Reference: ``src/transform.py:226-230``. The tricky one is day-of-week —
pandas ``dt.dayofweek`` is 0=Monday…6=Sunday while Spark ``dayofweek()``
is 1=Sunday…7=Saturday (and DuckDB's is 0=Sunday). SURVEY.md §7.1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pandas_day_of_week(date_col: Column | str) -> Column:
    """0=Monday … 6=Sunday, matching pandas ``dt.dayofweek``."""
    return (F.dayofweek(date_col) + F.lit(5)) % 7


def with_date_parts(df: DataFrame) -> DataFrame:
    """year/month/quarter/day_of_week/week_of_year of ``date``, pandas
    conventions.

    week_of_year is ISO (Spark ``weekofyear`` == pandas ``isocalendar().week``).
    """
    d = F.col("date")
    return df.withColumns(
        {
            "year": F.year(d).cast("int"),
            "month": F.month(d).cast("int"),
            "quarter": F.quarter(d).cast("int"),
            "day_of_week": pandas_day_of_week(d).cast("int"),
            "week_of_year": F.weekofyear(d).cast("int"),
        }
    )
