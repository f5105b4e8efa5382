"""Distributed range (interval) join: match right-side rows whose
timestamp falls inside a bounded horizon after each left row.

The reference's log mining pairs events within a window of each other
(sessionization gap logic, dags/extra_utils.py:196-240 usage spans;
operators/sessionize.py here), and corpus pipelines need "what
happened within N minutes of X" joins.  Spark's only native answer to
``l.ts < r.ts AND r.ts <= l.ts + h`` with an additional equi-key is a
SortMergeJoin with a range condition — and WITHOUT the equi-key it
degenerates to BroadcastNestedLoop.  This operator keeps the join an
EQUI-join at any scale by time-bucketing:

- buckets are horizon-wide, so each left row explodes into the 2
  buckets its interval covers;
- each right row lands in exactly ONE bucket;
- the join key becomes (key, bucket) — a plain hash-partitioned
  equi-join Catalyst and AQE fully optimize (broadcast if small,
  skew-split if hot);
- the exact interval predicate evaluates post-join in codegen.

No pair is emitted twice: a right row has one bucket, and a left
interval visits each bucket once.  Shuffle volume is bounded by the
explode factor (2×), not by key
cardinality or interval density.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    horizon_sec: int,
    strict_after: bool = True,
) -> DataFrame:
    """Pairs (left row, right row) with equal ``key`` and
    ``left_ts < right_ts <= left_ts + horizon_sec`` (``<=`` on the
    left edge when ``strict_after=False``).

    Column names must be disjoint apart from ``key`` (pre-alias the
    inputs); the joined key column appears once.
    """
    overlap = set(left.columns) & set(right.columns) - {key}
    if overlap:
        raise ValueError(f"pre-alias overlapping columns: {sorted(overlap)}")

    l_sec = F.unix_timestamp(F.col(left_ts))
    l_buckets = F.sequence(
        F.floor(l_sec / horizon_sec),
        F.floor((l_sec + F.lit(horizon_sec)) / horizon_sec),
    )
    l_exp = left.withColumn("__bucket", F.explode(l_buckets))
    r_tag = right.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(right_ts)) / horizon_sec)
    )
    lo = (
        F.col(right_ts) > F.col(left_ts)
        if strict_after
        else F.col(right_ts) >= F.col(left_ts)
    )
    hi = F.col(right_ts) <= F.col(left_ts) + F.expr(
        f"INTERVAL {int(horizon_sec)} SECONDS"
    )
    return (
        l_exp.join(r_tag, on=["__bucket", key], how="inner")
        .filter(lo & hi)
        .drop("__bucket")
    )
