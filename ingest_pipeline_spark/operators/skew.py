"""Skew-handling utilities for hot-key aggregation and joins.

AQE's skew-join handling covers sort-merge joins; these helpers cover
the remaining cases planners can't fix:

- ``salted_agg``: two-stage aggregation for heavily skewed group keys
  (a handful of keys holding most rows — e.g. a dedup digest that
  matches half the corpus).  Stage 1 aggregates on (key, salt) —
  spreading the hot key over `salt_buckets` reducers — stage 2 merges
  the partials.  Only algebraic aggregates (count/sum/min/max) can be
  re-merged; that is enforced by taking the merge spec explicitly.
- ``explode_salt_join``: replicate the small side `salt_buckets` times
  so a salted big side still joins correctly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    stage1: dict[str, Column],
    stage2: dict[str, Column],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-stage salted aggregation.

    stage1: partial aggregate expressions evaluated per (key, salt);
    stage2: merge expressions over the stage-1 column names.
    Example (count + sum):
        salted_agg(df, ["k"],
                   {"cnt": F.count("*"), "s": F.sum("v")},
                   {"cnt": F.sum("cnt"), "s": F.sum("s")})
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int")
    part = (
        df.withColumn("__salt", salt)
        .groupBy(*key_cols, "__salt")
        .agg(*[expr.alias(name) for name, expr in stage1.items()])
    )
    return part.groupBy(*key_cols).agg(
        *[expr.alias(name) for name, expr in stage2.items()]
    )


def explode_salt_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_buckets: int = 32,
) -> DataFrame:
    """Inner-join a salted big side against a replicated small side.

    big gets a random salt per row; small is exploded to every salt
    value; the join key becomes (on, salt) — the hot key's rows spread
    over `salt_buckets` tasks instead of one.
    """
    b = big.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return b.join(s, [on, "__salt"], "inner").drop("__salt")
