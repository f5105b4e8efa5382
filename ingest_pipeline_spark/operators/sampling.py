"""Sampling operators for dataset curation.

- stratified_sample: per-stratum fractions via `sampleBy` (Bernoulli
  per row, seed-deterministic) — the curation step that rebalances a
  corpus by language/source before training.
- reservoir-style fixed-N per stratum: window by random order — exact
  output size when a hard cap matters (sampleBy only hits fractions
  in expectation).

Both are single-pass; the fixed-N variant costs one shuffle on the
stratum key.  Seeded `rand()` makes runs reproducible, which is the
requirement for auditable training-data curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalars import hex_prefix_to_long


def stratified_sample(
    df: DataFrame, stratum_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling; strata not listed are dropped."""
    return df.sampleBy(stratum_col, fractions, seed=seed)


def fixed_n_per_stratum(
    df: DataFrame, stratum_col: str, n: int, seed: int = 42, tiebreak_col: str | None = None
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, seed-deterministic.

    Random order comes from seeded rand(); the tiebreak keeps the
    selection stable when rand values collide.
    """
    order = [F.rand(seed).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(stratum_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def hash_sample(
    df: DataFrame, id_col: str, stratum_col: str, fractions: dict
) -> DataFrame:
    """Deterministic content-hash sampling: keep a row iff
    md5('s0:' || id)'s first-8-hex-digit value / 2^32 < its stratum's
    fraction.

    Unlike seeded rand() (plan- and partitioning-dependent ordering of
    the RNG stream), the decision is a pure function of the row id —
    reproducible across engines, cluster sizes, and retries, which is
    what auditable training-data curation needs at 100 TB.  Per-stratum
    fractions arrive as a dict; unlisted strata are dropped (sampleBy
    contract).  Oracle-portable: DuckDB computes the identical md5
    arithmetic.
    """
    u = hex_prefix_to_long(
        F.md5(F.concat_ws(":", F.lit("s0"), F.col(id_col).cast("string")))
    ) / F.lit(float(2**32))
    thr = F.lit(None).cast("double")
    for k, frac in sorted(fractions.items()):
        thr = F.when(F.col(stratum_col) == k, F.lit(float(frac))).otherwise(thr)
    return df.filter(u < thr)


def weighted_sample_aes(
    df: DataFrame,
    stratum_col: str,
    weight_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Weighted sampling without replacement, k per stratum — the
    Efraimidis-Spirakis A-ES scheme: each row draws an exponential key
    ``-ln(u)/w`` (u uniform from a content hash, w the row's weight)
    and the k SMALLEST keys per stratum win; inclusion probability is
    proportional to weight, with no sequential pass.

    Distributed shape: keys are per-row expressions, the per-stratum
    top-k runs through a WindowGroupLimit (partial map-side prune →
    each task forwards ≤ k rows per stratum) — the same
    O(strata × k)-shuffle shape as the deterministic reservoir.
    Determinism: u is md5-derived ((h+1)/(2^52+1), never 0), the key is
    rounded to 9 dp BEFORE ranking (absorbs any sub-ulp LN divergence
    between engines) and ties break on the id — so the sample is a
    pure function of the data, reproducible anywhere, and
    oracle-checkable.  Rows with non-positive weight are excluded
    (their key would be infinite/undefined).
    """
    h = hex_prefix_to_long(F.md5(F.col(id_col).cast("string")), 1, 13)
    u = (h + F.lit(1)).cast("double") / F.lit(4503599627370497.0)
    key = F.round(-F.log(u) / F.col(weight_col).cast("double"), 9)
    w = Window.partitionBy(stratum_col).orderBy(
        F.asc("wkey"), F.asc(id_col)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("wkey", key)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
