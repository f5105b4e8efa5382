"""Continuous intake → dispatch → terminal-state watch (T1/T3/T4).

The reference's post-reorganize flow polls entity status until it
reaches a terminal value (tools/split_and_create.py:554-560: loop
sleeping on get_submission_context until status in
{'published','error','invalid',...}), and its flex DAG trigger fans a
request batch out to per-dataset DAG runs
(plugins/hubmap_operators/flex_multi_dag_run.py:40-73).

Spark restatement as two Structured-Streaming legs over shared
storage (a directory here; Kafka topics in production):

- ``start_intake``: readStream over the requests directory →
  ``engine.route_requests`` (mint + dedup + route) inside foreachBatch
  → dispatcher callable + job rows appended to the jobs directory.
  foreachBatch IS the dynamic fan-out point: each routed row is one
  downstream job (T3).
- ``terminal_status_stream``: readStream over the status directory,
  filtered to terminal statuses with watermarked per-entity dedup —
  the event-driven replacement for the reference's polling loop (T4):
  instead of one process sleeping per upload, ONE stream watches every
  entity, and state is bounded by the watermark.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import route_requests

# reference split_and_create.py:554-560 polls to these
TERMINAL_STATUSES = frozenset({"published", "error", "invalid"})


def terminal_status_stream(
    statuses: DataFrame,
    terminal: frozenset[str] = TERMINAL_STATUSES,
    uuid_col: str = "uuid",
    status_col: str = "status",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Terminal transitions only, first observation per entity.

    Works on streaming and batch frames (same plan contract as the
    other streaming helpers); streaming state is watermark-bounded.
    """
    src = statuses
    flt = F.lower(F.col(status_col)).isin(*sorted(t.lower() for t in terminal))
    if src.isStreaming:
        return (
            src.withWatermark(ts_col, watermark)
            .filter(flt)
            .dropDuplicatesWithinWatermark([uuid_col])
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy(uuid_col).orderBy(F.asc(ts_col), F.asc(status_col))
    return (
        src.filter(flt)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def start_intake(
    spark: SparkSession,
    requests_dir: str,
    requests_schema,
    jobs_dir: str,
    dispatch_fn: Callable[[list[dict]], None] | None = None,
    process_rules=None,
    max_inline_jobs: int = 10_000,
):
    """Streaming intake leg: requests → routed jobs (+ dispatcher).

    Returns the started StreamingQuery (availableNow trigger — drains
    what's there and stops; a production deployment runs it
    continuously).  Job rows are control-plane sized, so the
    dispatcher normally sees them as plain dicts per micro-batch —
    but the driver collect is CAPPED at ``max_inline_jobs``: a
    pathological batch (replayed backlog, runaway producer) spills to
    ``jobs_dir``/../jobs_overflow and the dispatcher receives ONE
    manifest dict pointing at the spill instead of the rows, so the
    driver can never OOM on a micro-batch.  This is the reference's
    MAX_IN_LINE_FILES inline-vs-spill policy (dags/utils.py:67-69)
    applied to dispatch.
    """
    src = spark.readStream.schema(requests_schema).parquet(requests_dir)
    overflow_dir = jobs_dir.rstrip("/") + "_overflow"

    def handle(batch: DataFrame, batch_id: int) -> None:
        jobs = route_requests(batch, process_rules=process_rules)
        jobs.persist()
        try:
            jobs.write.mode("append").parquet(jobs_dir)
            if dispatch_fn is not None:
                # limit()+collect of cap+1 rows bounds the driver-side
                # materialization BEFORE deciding inline vs spill
                head = jobs.limit(max_inline_jobs + 1).collect()
                if len(head) <= max_inline_jobs:
                    dispatch_fn([r.asDict() for r in head])
                else:
                    spill = f"{overflow_dir}/batch_id={batch_id}"
                    jobs.write.mode("overwrite").parquet(spill)
                    dispatch_fn([{
                        "spilled": True,
                        "path": spill,
                        "n_jobs": jobs.count(),
                        "batch_id": batch_id,
                    }])
        finally:
            jobs.unpersist()

    return (
        src.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", jobs_dir + "_checkpoint")
        .start()
    )


def watch_terminal_once(
    spark: SparkSession,
    status_dir: str,
    status_schema,
    **kwargs,
) -> DataFrame:
    """Drive the terminal-state watch over a status directory to
    completion (memory sink) and return the materialized result."""
    src = spark.readStream.schema(status_schema).parquet(status_dir)
    out = terminal_status_stream(src, **kwargs)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("terminal_watch")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql("SELECT * FROM terminal_watch")
