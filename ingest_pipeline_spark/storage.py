"""Storage-layout utilities: bucketing for co-located joins.

At 100 TB the dominant cost of repeated joins on the same key (e.g.
lineitem↔orders on orderkey, files↔datasets on parent_uuid) is the
shuffle.  Bucketed tables persist the hash-partitioning so Catalyst
plans the join with ZERO Exchange on the bucketed sides — tested by
asserting no Exchange appears in the physical plan.

Local note: bucketBy requires saveAsTable (session catalog +
spark-warehouse dir); works the same on a cluster with a real
metastore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Inner-join two same-bucketed tables — no shuffle on either side."""
    return spark.table(left_table).join(spark.table(right_table), on)


def plan_has_exchange(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return "Exchange" in plan
