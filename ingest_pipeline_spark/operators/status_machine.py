"""Entity status state machine as batch MERGE with transition validation.

Restates the reference's StatusChanger/EntityUpdater
(dags/status_change/status_manager.py:95-381) and the Statuses enum +
ENTITY_STATUS_MAP (dags/status_change/status_utils.py:48-126):

- per-entity status column with a fixed allowed-transition table;
- updates arrive as (uuid, new_status, run_id) rows;
- invalid transitions are rejected (routed to an error output, the
  Spark analog of the reference raising on bad transitions);
- idempotent under redelivery: updates dedup on (uuid, run_id) and the
  latest valid update per uuid wins deterministically (V6/T2/T6).

Plan shape: broadcast the transition rules (tiny), one shuffle on uuid
for the latest-update window, one left join back to entities — MERGE
semantics without requiring a table format (Delta's MERGE INTO drops
in unchanged where available).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# dataset lifecycle per the reference's Statuses enum (status_utils.py:48-90)
ALLOWED_TRANSITIONS: list[tuple[str, str]] = [
    ("new", "processing"),
    ("new", "invalid"),
    ("processing", "qa"),
    ("processing", "error"),
    ("processing", "invalid"),
    ("qa", "published"),
    ("qa", "processing"),
    ("error", "processing"),
    ("invalid", "processing"),
]


def apply_status_updates(
    entities: DataFrame,
    updates: DataFrame,
    spark: SparkSession,
    uuid_col: str = "uuid",
    status_col: str = "status",
) -> tuple[DataFrame, DataFrame]:
    """MERGE updates into entities; returns (updated_entities, rejected).

    updates: (uuid, new_status, run_id).  Dedup on (uuid, run_id),
    choose the last update per uuid by (run_id) order, validate the
    transition against the broadcast rules, apply valid ones.
    rejected carries a reject_reason column.
    """
    # One uuid-partitioned window both dedups redelivered (uuid, run_id)
    # rows and picks the latest update — a separate dropDuplicates would
    # add a second shuffle on a different key for nothing.  new_status
    # in the ordering makes ties fully deterministic.
    w = Window.partitionBy(uuid_col).orderBy(F.desc("run_id"), F.asc("new_status"))
    latest = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # __exists marker distinguishes a missing entity from one whose
    # status column is NULL — both have __cur_status NULL after the
    # left join, but only the former is unknown_entity
    cur = entities.select(
        F.col(uuid_col),
        F.col(status_col).alias("__cur_status"),
        F.lit(True).alias("__exists"),
    )
    # transition check compiled to an OR-chain expression: the enum is
    # fixed and tiny, so a broadcast rules-join (createDataFrame + one
    # more join) buys nothing over pure codegen.  rules_broadcast_join
    # remains the pattern for rules-as-runtime-data.
    cur_l = F.lower(F.col("__cur_status"))
    new_l = F.lower(F.col("new_status"))
    allowed = F.lit(False)
    for f_st, t_st in ALLOWED_TRANSITIONS:
        allowed = allowed | ((cur_l == f_st) & (new_l == t_st))
    checked = latest.join(cur, uuid_col, "left").withColumn(
        "reject_reason",
        F.when(F.col("__exists").isNull(), F.lit("unknown_entity"))
        .when(F.col("__cur_status").isNull(), F.lit("null_current_status"))
        .when(F.col("new_status").isNull(), F.lit("null_status"))
        .when(~allowed, F.lit("illegal_transition")),
    )
    valid = checked.filter(F.col("reject_reason").isNull()).select(
        uuid_col, F.lower(F.col("new_status")).alias("__next_status")
    )
    rejected = checked.filter(F.col("reject_reason").isNotNull()).select(
        uuid_col, "new_status", "run_id", "__cur_status", "reject_reason"
    )
    updated = (
        entities.join(valid, uuid_col, "left")
        .withColumn(
            status_col, F.coalesce(F.col("__next_status"), F.col(status_col))
        )
        .drop("__next_status")
    )
    return updated, rejected
