"""Distributed prefix aggregation (operators/prefix.py) — every
variant is checked bit-for-bit against Spark's own single-task global
window (the semantics oracle), across partition counts, so the
two-phase scan can never drift from ``... OVER (ORDER BY ...)``."""

import pathlib
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ingest_pipeline_spark.operators.prefix import (
    global_ntile,
    global_row_number,
    grouped_row_number,
    grouped_running_sum,
    running_max_exclusive,
    running_sum,
    running_sums,
)


@pytest.fixture(scope="module")
def points(spark):
    # deterministic, duplicate-heavy values under a unique tiebreak id
    df = spark.range(997).select(
        F.col("id"),
        (F.col("id") * 37 % 101).alias("v"),
        ((F.col("id") * 53 % 97)).cast("decimal(18,2)").alias("dec"),
    )
    return df.localCheckpoint(eager=True)


def _rows(df, *cols):
    return [tuple(r) for r in df.select(*cols).orderBy("id").collect()]


def _grp(df):
    return df.withColumn("grp", (F.col("id") % 3).cast("string"))


@contextmanager
def _partitions(spark, n):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_running_sum_matches_global_window(spark, points):
    order = [F.asc("v"), F.asc("id")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = points.withColumn("cum", F.sum("dec").over(w))
    got = running_sum(points, order, "dec", "cum")
    assert _rows(got, "id", "cum") == _rows(want, "id", "cum")


def test_running_max_exclusive_matches_global_window(spark, points):
    order = [F.asc("v"), F.desc("id")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    want = points.withColumn("mx", F.max("dec").over(w))
    got = running_max_exclusive(points, order, "dec", "mx")
    assert _rows(got, "id", "mx") == _rows(want, "id", "mx")


def test_global_row_number_matches_global_window(spark, points):
    order = [F.desc("v"), F.asc("id")]
    w = Window.orderBy(*order)
    want = points.withColumn("rn", F.row_number().over(w).cast("long"))
    got = global_row_number(points, order, "rn")
    assert _rows(got, "id", "rn") == _rows(want, "id", "rn")


@pytest.mark.parametrize("k", [1, 2, 5, 7, 996, 997, 1000, 2000])
def test_global_ntile_matches_global_window(spark, points, k):
    # 997 rows: covers n % k != 0, n == k ± 1, and k > n
    order = [F.desc("v"), F.asc("id")]
    w = Window.orderBy(*order)
    want = points.withColumn("t", F.ntile(k).over(w).cast("long"))
    got = global_ntile(points, order, k, "t")
    assert _rows(got, "id", "t") == _rows(want, "id", "t")


def test_prefix_partition_invariance(spark, points):
    """The result is identical however many range partitions exist —
    the local stand-in for the 1000-executor accumulation hazard."""
    order = [F.asc("v"), F.asc("id")]
    base = running_sum(points, order, "dec", "cum")
    want = _rows(base, "id", "cum")
    for n in ("1", "3"):
        with _partitions(spark, n):
            got = running_sum(points, order, "dec", "cum")
            assert _rows(got, "id", "cum") == want, f"partitions={n}"


_VARIANTS = {
    "running_sum": lambda d, o: running_sum(d, o, "dec", "out"),
    "running_sums": lambda d, o: running_sums(d, o, [("dec", "a"), ("v", "b")]),
    "running_max_exclusive": lambda d, o: running_max_exclusive(d, o, "dec", "out"),
    "global_row_number": lambda d, o: global_row_number(d, o, "out"),
    "global_ntile": lambda d, o: global_ntile(d, o, 7, "out"),
    "grouped_row_number": lambda d, o: grouped_row_number(
        _grp(d), ["grp"], o, "out", count_col="n"
    ),
    "grouped_running_sum": lambda d, o: grouped_running_sum(
        _grp(d), ["grp"], o, "dec", "out", total_col="tot"
    ),
}


@pytest.mark.parametrize("variant", sorted(_VARIANTS))
def test_no_data_proportional_global_window_in_plan(spark, points, variant):
    """The whole point: the only empty-partition window left operates
    on the per-partition totals (≤ shuffle partitions rows)."""
    order = [F.asc("v"), F.asc("id")]
    got = _VARIANTS[variant](points, order)
    plan = got._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "windowspecdefinition(" in plan
    for ln in plan.splitlines():
        if "windowspecdefinition(" not in ln:
            continue
        inner = ln.split("windowspecdefinition(", 1)[1]
        first = inner.split(",", 1)[0]
        if " ASC" in first or " DESC" in first:  # empty partition spec
            assert "__prefix_pid" in first, ln


def test_one_prefix_scan():
    """Source pin: every public function goes through the one private
    scan — one range partitioning, one local window definition."""
    src = (
        pathlib.Path(__file__).resolve().parents[1]
        / "ingest_pipeline_spark" / "operators" / "prefix.py"
    ).read_text()
    assert src.count("repartitionByRange(") == 1
    assert src.count("Window.partitionBy(_PID") == 1


def test_grouped_row_number_matches_keyed_window(spark, points):
    g = _grp(points).localCheckpoint(eager=True)
    order = [F.asc("v"), F.asc("id")]
    w = Window.partitionBy("grp").orderBy(*order)
    want = g.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count("*").over(Window.partitionBy("grp")).cast("long")
    )
    got = grouped_row_number(g, ["grp"], order, "rn", count_col="n")
    assert _rows(got, "id", "grp", "rn", "n") == _rows(
        want, "id", "grp", "rn", "n"
    )


def test_grouped_row_number_partition_invariant(spark, points):
    g = points.withColumn("grp", (F.col("id") % 2).cast("string"))
    order = [F.asc("v"), F.asc("id")]
    base = None
    for parts in ("3", "17"):
        with _partitions(spark, parts):
            rows = _rows(
                grouped_row_number(g, ["grp"], order, "rn", count_col="n"),
                "id", "grp", "rn", "n",
            )
        if base is None:
            base = rows
        else:
            assert rows == base


def test_running_sums_two_columns_match_global_window(spark, points):
    order = [F.asc("v"), F.asc("id")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = points.withColumn("ca", F.sum("dec").over(w)).withColumn(
        "cb", F.sum("v").over(w)
    )
    got = running_sums(points, order, [("dec", "ca"), ("v", "cb")])
    assert _rows(got, "id", "ca", "cb") == _rows(want, "id", "ca", "cb")


@pytest.mark.parametrize("parts", ["3", "17"])
def test_grouped_running_sum_matches_keyed_window(spark, points, parts):
    g = _grp(points).localCheckpoint(eager=True)
    order = [F.asc("v"), F.asc("id")]
    w = Window.partitionBy("grp").orderBy(*order)
    want = g.withColumn(
        "cum", F.sum("dec").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("tot", F.sum("dec").over(Window.partitionBy("grp")))
    with _partitions(spark, parts):
        got = grouped_running_sum(g, ["grp"], order, "dec", "cum", total_col="tot")
        rows = _rows(got, "id", "grp", "cum", "tot")
    assert rows == _rows(want, "id", "grp", "cum", "tot")


@pytest.mark.parametrize("parts", ["3", "4"])
def test_running_sum_null_at_partition_start(spark, parts):
    """A NULL value is skipped, as by ``SUM(v) OVER (...)``: it never
    blanks the running total, wherever the range boundaries fall.  One
    NULL moves through every position of 12 rows (v = id)."""
    order = [F.asc("id")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy("grp").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    with _partitions(spark, parts):
        for hole in range(1, 13):
            d = spark.range(1, 13).select(
                "id",
                F.when(F.col("id") != hole, F.col("id")).alias("v"),
                (F.col("id") % 2).cast("string").alias("grp"),
            )
            want = d.withColumn("cum", F.sum("v").over(w))
            got = running_sum(d, order, "v", "cum")
            assert _rows(got, "id", "cum") == _rows(want, "id", "cum"), hole
            want = d.withColumn("cum", F.sum("v").over(wg))
            got = grouped_running_sum(d, ["grp"], order, "v", "cum")
            assert _rows(got, "id", "cum") == _rows(want, "id", "cum"), hole
