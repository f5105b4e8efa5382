"""Window-shaped operators the reference computes imperatively.

- first_match_by_priority: highest-priority match wins per item
  (reference md/metadata_extract.py:24-47 collection matching;
  dags/utils.py:185-203 ordered manifest rules).

Uses row_number over an explicitly ordered window with a full
tiebreaker — deterministic under parallelism, never first() without
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def first_match_by_priority(
    df: DataFrame, item_cols: list[str], priority_col: str, tiebreak_col: str
) -> DataFrame:
    """Keep the max-priority row per item (ties → min tiebreak)."""
    w = Window.partitionBy(*item_cols).orderBy(
        F.desc(priority_col), F.asc(tiebreak_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

