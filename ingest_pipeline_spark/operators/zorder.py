"""Z-order (Morton-curve) clustering: one physical layout that prunes
on MULTIPLE columns at once.

Parquet row-group/file skipping works off per-file min/max ranges.  A
sort on one column makes ranges tight on THAT column only; a filter
on any other column still touches every file.  Interleaving the bits
of N normalized columns into one Morton key and range-partitioning on
it keeps every file's bounding box small in ALL N dimensions — the
standard data-layout trick for multi-predicate scans over immutable
100 TB tables (files written once, pruned forever).

The whole computation is Catalyst expressions (shifts/masks — codegen,
no UDF); the only driver-side work is one tiny min/max stats action to
normalize each column into [0, 2^16).  tests/test_zorder.py measures
the actual effect: for a 2-D box predicate, the fraction of files
whose min/max straddle the box drops sharply vs a single-column sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Morton-key bits per column; 3 columns fill a signed long
_BITS = 16

def _normalize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Scale a numeric column into [0, 2^bits) as a long (clamped)."""
    span = (hi - lo) or 1.0
    scaled = ((col.cast("double") - F.lit(float(lo))) / F.lit(float(span))) * F.lit(
        float((1 << bits) - 1)
    )
    return F.least(
        F.greatest(F.round(scaled, 0).cast("long"), F.lit(0)),
        F.lit((1 << bits) - 1),
    )


def zorder_key(normalized: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` of each column into one Morton key."""
    n = len(normalized)
    parts: list[Column] = []
    for i in range(bits):
        for j, c in enumerate(normalized):
            # bit i of column j lands at position i*n + j
            parts.append(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return reduce(lambda a, b: a.bitwiseOR(b), parts).alias("__z")


def cluster_by_zorder(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Return ``df`` re-laid-out along the Morton curve of ``cols``:
    ``n_files`` range partitions, Morton-sorted within each.  Write the
    result with ``.write.parquet`` to materialize the clustered files.

    For timestamps pass a numeric projection (e.g. unix seconds).
    16 bits x len(cols) must stay <= 63 (long key).
    """
    if _BITS * len(cols) > 63:
        raise ValueError("16 bits * len(cols) must fit in a signed long")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    normalized = [
        _normalize(F.col(c), stats[f"lo_{c}"], stats[f"hi_{c}"], _BITS)
        for c in cols
    ]
    return (
        df.withColumn("__z", zorder_key(normalized, _BITS))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
