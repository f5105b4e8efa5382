"""Structured-Streaming restatement of the reference's event model.

The reference's "streams" are Airflow event triggers (SURVEY §2.10):
request intake → keyed job trigger (T1), run_id dedup / exactly-once
(T2, reference plugins/hubmap_api/endpoint.py:370-372), dynamic
fan-out (T3), polling on terminal states (T4), stateful per-entity
status machine (T6).  Spark mapping: readStream over the requests /
events table, watermarked dedup + windowed aggregation, foreachBatch
dispatch.

These helpers run a streaming query synchronously over a parquet
directory (Trigger.AvailableNow semantics via processAllAvailable) so
batch tests can drive the exact streaming plan; in production the same
plan reads Kafka/files continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) per-key counts + value
    sums (streaming-safe plan).

    Works on both batch and streaming DataFrames: watermark is applied
    only when the input is streaming.  With ``slide`` each event
    expands to window/slide rows through ONE Expand — identical
    semantics batch and streamed.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window_len, slide)
        if slide
        else F.window(F.col(ts_col), window_len)
    )
    return src.groupBy(win.alias("w"), F.col(key_col)).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col(key_col),
        "n_events",
        "sum_value",
    )


def dedup_stream(
    events: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once intake: drop duplicate ids within a 2-hour watermark.

    Mirrors the reference's run_id dedup (T2).  State is bounded by the
    watermark — at 100 TB/day the dedup state holds only the horizon.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, "2 hours")
        return src.dropDuplicatesWithinWatermark([id_col])
    return src.dropDuplicates([id_col])


def run_stream_once(
    spark: SparkSession,
    parquet_path: str,
    schema,
    transform,
    query_name: str = "stream_out",
) -> DataFrame:
    """Drive a streaming transform over a parquet dir to completion.

    Returns the materialized result (memory sink) as a batch DataFrame.
    FileStreamSource requires a directory; a single-file path is staged
    into a temp dir via symlink.
    """
    import os
    import tempfile

    if os.path.isfile(parquet_path):
        staged = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(
            os.path.abspath(parquet_path),
            os.path.join(staged, os.path.basename(parquet_path)),
        )
        parquet_path = staged
    src = spark.readStream.schema(schema).parquet(parquet_path)
    out = transform(src)
    plan = out._jdf.queryExecution().logical().toString()  # noqa: SLF001
    if "FlatMapGroupsInPandasWithState" in plan:
        mode = "update"  # required by applyInPandasWithState
    elif out.isStreaming and not _has_agg(out):
        mode = "append"
    else:
        mode = "complete"
    q = (
        out.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def _has_agg(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().logical().toString()  # noqa: SLF001
    return "Aggregate" in plan


def stateful_user_counts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator: running per-key event count + value sum.

    The applyInPandasWithState restatement of the reference's
    per-entity state machine hooks (T6): state persists across
    micro-batches, keyed by entity; each batch emits the updated
    running totals for keys seen in that batch.  State is bounded by
    a 1-day watermark at scale.  On a batch DataFrame, falls back to the
    equivalent groupBy (same output contract).
    """
    import pandas as pd

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s string"

    if not events.isStreaming:
        from pyspark.sql import functions as FF

        return events.groupBy(key_col).agg(
            FF.count("*").alias("n_events"),
            FF.sum(FF.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )

    def update(key, pdfs, state):
        # accumulate in Decimal (stored as string state) so the
        # streaming path is bit-identical to the batch decimal-sum
        # fallback — float accumulation would drift in low-order bits
        from decimal import ROUND_HALF_UP, Decimal

        cent = Decimal("0.01")
        # GroupState.get is a PROPERTY in PySpark (raises if absent);
        # calling it only fails once state EXISTS — i.e. from the second
        # micro-batch on, which single-batch tests never reach
        n, s = state.get if state.exists else (0, "0")
        acc = Decimal(s)
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value"]:
                acc += Decimal(repr(float(v))).quantize(cent, rounding=ROUND_HALF_UP)
        state.update((n, str(acc)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [float(acc)]}
        )

    return (
        events.withWatermark(ts_col, "1 day")
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    horizon_sec: int,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: right rows within
    (left_ts, left_ts + horizon] per key — the continuous counterpart
    of operators/rangejoin.range_join (same strict-after semantics,
    asserted equivalent in tests/test_stream_interval_join.py).

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so Spark can expire join state: at
    100 TB/day each side's buffer holds only watermark + horizon of
    data, not the stream's history.  Column names must be disjoint
    apart from ``key`` (pre-alias, as with range_join).  On batch
    inputs the same condition runs as a plain join for parity testing.

    ``how="leftOuter"`` emits unmatched left rows (right columns NULL)
    once the watermark proves no match can still arrive — the
    "error that never got a follow-up click" alerting shape; a left
    row's outer result is CLOSABLE only when the global watermark has
    passed ``left_ts + horizon``, so a stopped stream withholds outer
    rows for its last watermark-delay-plus-horizon of event time
    (asserted against the batch left join on exactly the closable
    region in tests/test_stream_interval_join.py).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be inner|leftOuter, got {how}")
    l_src, r_src = left, right
    if l_src.isStreaming:
        l_src = l_src.withWatermark(left_ts, watermark)
    if r_src.isStreaming:
        r_src = r_src.withWatermark(right_ts, watermark)
    cond = (
        (l_src[key] == r_src[key])
        & (r_src[right_ts] > l_src[left_ts])
        & (
            r_src[right_ts]
            <= l_src[left_ts] + F.expr(f"INTERVAL {int(horizon_sec)} SECONDS")
        )
    )
    return l_src.join(r_src, cond, how).drop(r_src[key])


def idempotent_parquet_sink(
    out: DataFrame,
    path: str,
    checkpoint_dir: str,
) -> "object":
    """Exactly-once file delivery for a streaming query: each
    micro-batch lands in a ``batch_id=<n>`` subdirectory via
    dynamic-partition OVERWRITE inside foreachBatch, so a replayed
    batch (failure between write and checkpoint commit) rewrites the
    SAME directory instead of appending duplicates — idempotent
    retry + the streaming checkpoint's batch tracking = exactly-once
    output, the production contract a plain append parquet sink can't
    give.  Readers see ``spark.read.parquet(path)`` with ``batch_id``
    as a partition column they can also prune on.

    Returns the started StreamingQuery (caller stops it).
    """
    from pyspark.sql import functions as F

    def write_batch(df: DataFrame, batch_id: int) -> None:
        # overwrite mode is a PER-WRITE option, never a session-conf
        # toggle: mutating spark.sql.sources.partitionOverwriteMode
        # here would let a concurrent writer on the shared session
        # observe dynamic-overwrite during this batch's window
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return (
        out.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def cdc_upsert_sink(
    changes: DataFrame,
    base_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
) -> "object":
    """Streaming CDC merge: each micro-batch of changes is compacted
    and applied to the parquet state at ``base_path`` via
    operators/merge.py:cdc_apply.  State lives in VERSIONED sibling
    directories (``{base_path}__v{batch_id}``); ``base_path`` itself is
    a symlink — the current-pointer — atomically retargeted with an
    ``os.replace`` rename-swap, so a reader holding ``base_path`` always
    sees an intact pre- or post-batch snapshot, never a half-merged
    table, and a crash at ANY point leaves every written snapshot
    intact (no in-place overwrite of live state ever happens).
    Checkpoint replay of a failed batch therefore always starts from an
    intact snapshot: pre-batch if the crash hit before the pointer
    swap, post-batch if after — and the post-batch replay short-circuits
    because the pointer already names that batch's version.  Superseded
    version directories are removed after each successful swap, so a
    long-running stream holds at most two table copies on disk.

    On an object store without atomic rename the pointer would be a
    manifest/current file (Delta-style log); the versioned-snapshot
    discipline is the same.

    This is the streaming half of the lakehouse MERGE pattern (Delta's
    streaming foreachBatch-MERGE idiom) on plain parquet.  Returns the
    started StreamingQuery (caller stops it).
    """
    import glob as _glob
    import os
    import shutil

    from ..operators.merge import cdc_apply

    def _swap_pointer(target: str) -> None:
        # atomic retarget: build a temp symlink then rename it over
        # base_path (rename of a symlink over a symlink/file is atomic
        # on POSIX).  First conversion of a plain directory to the
        # pointer scheme is handled by the caller.
        tmp = f"{base_path}__ptr_tmp"
        if os.path.lexists(tmp):
            os.remove(tmp)
        os.symlink(os.path.abspath(target), tmp)
        os.replace(tmp, base_path)

    def _recover() -> None:
        # startup recovery: re-point a missing pointer at the newest
        # intact version and sweep leftovers from a previous crash
        # (stale temp pointer, legacy staged dirs).
        for stale in _glob.glob(f"{base_path}__staged_batch_*"):
            shutil.rmtree(stale, ignore_errors=True)
        if os.path.lexists(f"{base_path}__ptr_tmp"):
            os.remove(f"{base_path}__ptr_tmp")
        if not os.path.lexists(base_path):
            versions = sorted(
                _glob.glob(f"{base_path}__v*"),
                key=lambda p: int(p.rsplit("__v", 1)[1]),
            )
            if versions:
                _swap_pointer(versions[-1])

    _recover()

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        version_dir = f"{base_path}__v{batch_id}"
        current = (
            os.path.realpath(base_path)
            if os.path.islink(base_path)
            else None
        )
        if current == os.path.realpath(version_dir):
            # replay of a batch whose swap already committed: the merge
            # is already the live snapshot — idempotent no-op.
            return
        base = spark.read.parquet(base_path)
        merged = cdc_apply(
            base, df, key_cols, seq_cols, op_col=op_col
        ).drop("_cdc_action")
        # write the full post-batch snapshot to its own version dir
        # (never the dir currently being read), then swap the pointer
        merged.write.mode("overwrite").parquet(version_dir)
        if not os.path.islink(base_path):
            # first batch over a plain directory: adopt it as version
            # -1 so the pointer swap below has a symlink to replace
            os.rename(base_path, f"{base_path}__v-1")
            _swap_pointer(f"{base_path}__v-1")
        _swap_pointer(version_dir)
        for old in _glob.glob(f"{base_path}__v*"):
            if os.path.realpath(old) != os.path.realpath(version_dir):
                shutil.rmtree(old, ignore_errors=True)

    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
