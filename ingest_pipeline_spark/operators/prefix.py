"""Distributed prefix (running) aggregation over a global order.

A Spark window with an EMPTY partition spec executes in ONE task —
every row shuffles to a single reducer, which is the classic
100×-scale straggler (a global ``SUM(x) OVER (ORDER BY k)`` on a
hundred million rows is one core's problem no matter how many
executors exist).  The reference pipelines never hit this because they
are single-node to begin with; the scalable restatement is the classic
two-phase parallel prefix scan:

1. A range repartition on (group, order) + ``sortWithinPartitions``
   gives a totally-ordered partitioning (the order columns must
   include a unique tiebreak so the total order is well defined).
2. A running aggregate per (range partition, group): one task each.
3. Per-(partition, group) totals (cluster-sized, never
   data-proportional) are prefix-combined into offsets and
   broadcast-joined back; ``running = offset ⊕ local``.

All seven public functions are one private ``_scan``; the global ones
are its zero-group case.  Sums and row numbers combine as
``coalesce(offset + local, offset, local)``, maxima as ``greatest``, so
NULL semantics are the SQL window's: a NULL value is skipped (a
NULL-valued row that opens a range partition keeps its predecessors'
total), a sum or max is NULL only while no non-NULL value precedes,
and a row number is never NULL.

The partition-id column must be stable across the two consumers of the
ranged relation (the rows and the totals), and range boundaries come
from run-dependent sampling — so the ranged relation is
localCheckpoint-materialized ONCE (the same lineage rule CLAUDE.md
records for NGram/UDF fan-out).  The tiny totals relation is
checkpointed only when a per-group grand total is requested: only then
does it have a second consumer.  Everything stays JVM-side and
decimal-exact; accumulation order within a combine is the sorted
order, so DECIMAL sums are bit-deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "__prefix_pid"

# per-(partition, group) total of each scan kind (row count for "count")
_TOTAL = {"sum": F.sum, "count": lambda _v: F.count("*"), "max": F.max}


def _ranged(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    d = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    # Two consumers (rows + per-partition totals) must observe the SAME
    # sampled range boundaries — materialize once.
    return d.localCheckpoint(eager=True)


def _scan(
    df: DataFrame, group_cols: list[str], order_cols: list[Column],
    scans: list[tuple[str, str | None, str]], totals: tuple[str | None, ...] = (),
) -> DataFrame:
    """The one two-phase prefix scan behind every public function.

    ``scans``: ``(kind, value_col, out_col)`` sharing one range
    partitioning, per ``group_cols`` (empty: global) along
    ``order_cols``; kind ``"sum"`` (inclusive), ``"count"`` (1-based row
    number) or ``"max"`` (strict predecessors).  ``totals[i]`` names a
    column for scan *i*'s per-group grand total, or is ``None``.
    """
    d = _ranged(df, [*map(F.col, group_cols), *order_cols])
    keys = [_PID, *group_cols]
    w = Window.partitionBy(_PID, *group_cols).orderBy(*order_cols)
    # offsets: prefix over ≤ shuffle-partitions rows per group (cluster-sized)
    woff = Window.partitionBy(*group_cols).orderBy(_PID)
    woff = woff.rowsBetween(Window.unboundedPreceding, -1)
    local, tots, offs, outs, helpers = {}, [], [], {}, [_PID]
    for i, (kind, v, out) in enumerate(scans):
        lc, tc, oc = f"__prefix_local{i}", f"__prefix_tot{i}", f"__prefix_off{i}"
        if kind == "count":
            local[lc] = F.row_number().over(w).cast("long")
        else:
            upto = -1 if kind == "max" else Window.currentRow
            frame = w.rowsBetween(Window.unboundedPreceding, upto)
            local[lc] = _TOTAL[kind](v).over(frame)
        tots.append(_TOTAL[kind](v).alias(tc))
        offs.append((F.max if kind == "max" else F.sum)(tc).over(woff).alias(oc))
        lo, of = F.col(lc), F.col(oc)
        # greatest() ignores NULL operands: an empty prefix adds nothing
        outs[out] = F.greatest(lo, of) if kind == "max" else F.coalesce(of + lo, of, lo)
        helpers += [lc, oc]
    grand = [F.sum(f"__prefix_tot{i}").alias(c) for i, c in enumerate(totals) if c]
    d = d.withColumns(local)
    tot = d.groupBy(*keys).agg(*tots)
    if grand:
        tot = tot.localCheckpoint(eager=True)  # offsets + grand totals share it
    d = d.join(F.broadcast(tot.select(*keys, *offs)), keys)
    d = d.withColumns(outs).drop(*helpers)
    if grand:
        g = F.broadcast(tot.groupBy(*group_cols).agg(*grand))
        d = d.join(g, group_cols) if group_cols else d.crossJoin(g)
    return d


def running_sum(
    df: DataFrame, order_cols: list[Column], value_col: str, out_col: str
) -> DataFrame:
    """Globally-ordered inclusive running sum of ``value_col``.

    Equivalent to ``SUM(v) OVER (ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` but executed as a two-phase distributed prefix scan;
    ``order_cols`` must totally order the rows (include a tiebreak).
    """
    return running_sums(df, order_cols, [(value_col, out_col)])


def running_sums(
    df: DataFrame, order_cols: list[Column], sums: list[tuple[str, str]]
) -> DataFrame:
    """Globally-ordered inclusive running sums of SEVERAL value
    columns over ONE shared range partitioning — one ranged
    checkpoint, one totals aggregation, one broadcast offsets join,
    however many ``(value_col, out_col)`` pairs are requested (e.g.
    the two empirical CDFs of a KS statistic).
    """
    return _scan(df, [], order_cols, [("sum", v, o) for v, o in sums])


def global_row_number(
    df: DataFrame, order_cols: list[Column], out_col: str
) -> DataFrame:
    """Globally-ordered 1-based row number without a single-task window.

    Equivalent to ``ROW_NUMBER() OVER (ORDER BY order)`` for a total
    order: per-partition local row numbers plus prefix-combined
    per-partition row counts.
    """
    return _scan(df, [], order_cols, [("count", None, out_col)])


def global_ntile(
    df: DataFrame, order_cols: list[Column], k: int, out_col: str
) -> DataFrame:
    """Globally-ordered NTILE(k) without a single-task window.

    SQL NTILE semantics in closed form over the distributed global
    rank: with n rows, the first ``n mod k`` tiles hold ``⌈n/k⌉`` rows
    and the rest hold ``⌊n/k⌋`` — bit-identical to ``NTILE(k) OVER
    (ORDER BY order)`` for any total order.  The row count n is the
    row number's grand total.
    """
    rn, n = "__prefix_rn", "__prefix_n"
    d = _scan(df, [], order_cols, [("count", None, rn)], (n,))
    q = (F.col(n) / k).cast("long")  # floor: n, k ≥ 0
    rem = F.col(n) % k
    big = rem * (q + 1)  # rows covered by the ⌈n/k⌉-sized tiles
    r = F.col(rn)
    tile = F.when(
        (q + 1 > 0) & (r <= big), ((r - 1) / (q + 1)).cast("long") + 1
    ).otherwise(
        rem + F.when(q > 0, ((r - big - 1) / q).cast("long")).otherwise(0) + 1
    )
    return d.withColumn(out_col, tile.cast("long")).drop(rn, n)


def grouped_row_number(
    df: DataFrame, group_cols: list[str], order_cols: list[Column],
    out_col: str, count_col: str | None = None,
) -> DataFrame:
    """Per-group 1-based row number for LOW-CARDINALITY heavy groups.

    ``ROW_NUMBER() OVER (PARTITION BY g ORDER BY order)`` executes one
    task per group — with a handful of groups over a 100 TB table that
    is the same straggler as an empty partition spec, just sharded a
    few ways.  This restates it as a grouped two-phase prefix scan:
    range-partition on (group, order) so every partition holds a
    contiguous run of one-or-more group slices, number rows locally
    per (partition, group), then offset by the prefix-combined
    per-(partition, group) counts — a relation of at most
    ``n_partitions × n_groups`` rows, cluster-sized, never
    data-proportional.  If ``count_col`` is given, the per-group total
    row count is attached from the SAME tiny counts relation (no
    second scan).
    """
    return _scan(df, group_cols, order_cols, [("count", None, out_col)], (count_col,))


def grouped_running_sum(
    df: DataFrame, group_cols: list[str], order_cols: list[Column],
    value_col: str, out_col: str, total_col: str | None = None,
) -> DataFrame:
    """Per-group inclusive running sum for LOW-CARDINALITY heavy groups.

    ``SUM(v) OVER (PARTITION BY g ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` executes one task per group — the sharded flavor of
    the single-task global window.  Same grouped two-phase scan as
    ``grouped_row_number``.  If ``total_col`` is given, the per-group
    total is attached from the SAME tiny totals relation (no second
    scan).
    """
    sums = [("sum", value_col, out_col)]
    return _scan(df, group_cols, order_cols, sums, (total_col,))


def running_max_exclusive(
    df: DataFrame, order_cols: list[Column], value_col: str, out_col: str
) -> DataFrame:
    """Globally-ordered running max over STRICT predecessors.

    Equivalent to ``MAX(v) OVER (ORDER BY order ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` (NULL for the globally first row),
    executed as a two-phase distributed prefix scan.
    """
    return _scan(df, [], order_cols, [("max", value_col, out_col)])
