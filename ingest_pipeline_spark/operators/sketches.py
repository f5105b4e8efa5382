"""Mergeable sketches with engine-portable (md5-derived) hash families:

- KMV distinct-count (Bar-Yossef et al. 2002) — k smallest hashes.
- HyperLogLog distinct-count (Flajolet et al. 2007) — max leading-zero
  rank per register; unlike library HLLs (whose register layout is
  implementation-defined) this one is built from md5 bit math that any
  engine reproduces exactly, so the estimate has a SQL oracle.
- Count-min frequency sketch (Cormode & Muthukrishnan 2005) — d×w
  counter grid, point estimate = min over the d rows.
- Bloom membership filter (Bloom 1970) — k bit positions per key; used
  as a semi-join reducer: broadcast the small side's bit set, drop
  probe rows that cannot match BEFORE the shuffle/join.

All four keep tiny mergeable state (min-set / max-register / counter
add / bit OR), which is what a 100 TB rollup needs: sketch per
partition or day, merge upward, never rescan history.

Theory (Bar-Yossef et al. 2002): hash every value uniformly into
[0, 1); if a set has n distinct values, the k-th smallest hash u_(k)
concentrates around k/n, so ``(k-1)/u_(k)`` is an (unbiased) estimate
of n with relative error ~ 1/sqrt(k-2).  The sketch is the k smallest
hashes — mergeable by taking the k smallest of a union, which is what
a 100 TB rollup needs: sketch per partition/day, merge upward,
never rescan.

Determinism: the hash is the first 13 hex chars of md5 (52 bits —
exactly representable in a double) divided by 2^52.  md5 is identical
everywhere, the division has exact operands, and the estimate is
rounded to 6 dp — so the DuckDB oracle reproduces the Spark result
exactly (queries.py sketch_kmv_distinct).

Plan shape: distinct (group, hash) pairs → row_number window on the
group → keep rank <= k.  Spark's WindowGroupLimit pushes the top-k
map-side, so each partition forwards at most k rows per group — the
shuffle carries O(groups x k), not O(rows).  Spark's built-in
``approx_count_distinct`` (HLL) remains the zero-shuffle-extra
alternative when cross-engine reproducibility doesn't matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalars import hex_prefix_to_long

# 2^52: 13 hex chars of md5, exactly representable in a double
_SCALE = float(1 << 52)


def kmv_hash(value_col: str) -> "F.Column":
    """Uniform [0,1) hash of a column, identical in Spark and DuckDB:
    CAST('0x' || SUBSTR(MD5(v),1,13) AS BIGINT) / 2^52."""
    return (
        hex_prefix_to_long(F.md5(F.col(value_col)), 1, 13) / F.lit(_SCALE)
    )


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 16
) -> DataFrame:
    """Per-group distinct-count estimate: ``(group, est_distinct)``.

    Groups with fewer than k distinct values report the EXACT count
    (the sketch holds all their hashes); larger groups report the
    (k-1)/u_(k) estimate, rounded to 6 dp.
    """
    d = (
        df.select(F.col(group_col).alias("grp"), kmv_hash(value_col).alias("u"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy(F.asc("u"))
    sketch = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("grp")
        .agg(
            F.count("*").alias("cnt_le_k"),  # = min(n_distinct, k)
            F.max(F.when(F.col("rn") == k, F.col("u"))).alias("uk"),
        )
    )
    est = F.when(
        F.col("cnt_le_k") >= k, F.round(F.lit(float(k - 1)) / F.col("uk"), 6)
    ).otherwise(F.col("cnt_le_k").cast("double"))
    return sketch.select(F.col("grp").alias(group_col), est.alias("est_distinct"))


# --------------------------------------------------------------------------
# HyperLogLog (p=5, m=32 registers, 32-bit md5-prefix hash)
# --------------------------------------------------------------------------

_HLL_P = 5
_HLL_M = 1 << _HLL_P                 # 32 registers
_HLL_REM_BITS = 32 - _HLL_P         # 27 bits feed the leading-zero rank
_HLL_RHO_MAX = _HLL_REM_BITS + 1    # all-zero remainder
_HLL_ALPHA = 0.697                  # alpha_32, Flajolet et al. 2007 fig.
# Numerator of the raw estimator alpha*m^2/Z where Z = Z_scaled/2^rho_max
# (every register term is coded as 2^(rho_max - mj), so the integer Z is
# scaled by 2^rho_max — NOT 2^rem_bits; getting this wrong halves every
# estimate, caught by test_hll_matches_reference_implementation).
# Computed once in Python so Spark and the DuckDB oracle embed the SAME
# double literal instead of re-deriving it with possibly different
# literal-typing rules (DuckDB parses bare 0.697 as DECIMAL).
HLL_RAW_NUMERATOR = _HLL_ALPHA * float(_HLL_M * _HLL_M) * float(1 << _HLL_RHO_MAX)


def _hash32(col: "F.Column") -> "F.Column":
    """Unsigned-32 md5-prefix hash — bit-identical in any engine."""
    return hex_prefix_to_long(F.md5(col), 1, 8)


def hll_registers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HLL register state: ``(grp, bucket, mj)``.

    bucket = top p bits of the 32-bit hash; rho = 1 + leading zeros of
    the remaining 27 bits (computed as 28 - length(bin(rem)), pure
    integer string math both engines share); mj = max rho seen.
    Duplicates need no pre-distinct — max() absorbs them — so the only
    shuffle is the (grp, bucket) aggregation with map-side partial max,
    carrying at most m rows per group per input partition.
    The state is mergeable by a further max(), the property a 100 TB
    rollup needs (see test_sketches merge identity).
    """
    h = _hash32(F.col(value_col))
    rem = h % F.lit(1 << _HLL_REM_BITS)
    rho = F.when(rem == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(rem))
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.floor(h / F.lit(float(1 << _HLL_REM_BITS))).cast("long").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("mj"))
    )


def hll_estimate(registers: DataFrame, group_col: str) -> DataFrame:
    """Finalize register state → ``(group_col, est_distinct, v_empty)``.

    Z is accumulated as the exact integer sum of 2^(rho_max - mj)
    (every term dyadic, so the sum is order-independent — no decimal
    needed); registers never hit contribute 2^rho_max each.  Small-range
    correction (linear counting over empty registers) below 2.5*m.
    """
    m = float(_HLL_M)
    agg = registers.groupBy("grp").agg(
        F.count("*").alias("n_present"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(_HLL_RHO_MAX) - F.col("mj")).cast("long")
        ).alias("z_present"),
    )
    z_scaled = F.col("z_present") + (F.lit(_HLL_M) - F.col("n_present")) * F.lit(
        1 << _HLL_RHO_MAX
    )
    v = (F.lit(_HLL_M) - F.col("n_present")).cast("long")
    e_raw = F.lit(HLL_RAW_NUMERATOR) / z_scaled.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(m) * F.log(F.lit(m) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        F.col("grp").alias(group_col),
        F.round(est, 6).alias("est_distinct"),
        v.alias("v_empty"),
    )


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HLL distinct-count estimate with an exact SQL oracle."""
    return hll_estimate(hll_registers(df, group_col, value_col), group_col)


# --------------------------------------------------------------------------
# Count-min sketch (d rows x w columns)
# --------------------------------------------------------------------------


def _cms_bucket(col: "F.Column", j: int, w: int) -> "F.Column":
    """Row-j bucket of a key: seeded md5 hash mod w."""
    return hex_prefix_to_long(
        F.md5(F.concat(F.lit(f"{j}:"), col.cast("string"))), 1, 8
    ) % F.lit(w)


def cms_counters(
    df: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 256,
    weight_col: "str | None" = None,
) -> DataFrame:
    """Build the d×w counter grid: ``(j, bucket, cnt)``.

    One posexplode fan-out (d rows per input row) feeding a hash
    aggregate with map-side partials — the shuffle carries at most d*w
    rows per input partition regardless of data size, and two grids
    merge by adding counters (same keyed agg).

    ``weight_col`` (int64) builds the identical grid from a
    pre-aggregated (key, count) census instead of raw rows: the
    per-(j, bucket) SUM of per-key counts equals the raw-row COUNT
    exactly (every raw row of a key lands in the same bucket), so
    callers that already hold a key census hash d×|distinct keys|
    md5s instead of d×|rows| (r14, sketch_join_size_estimate).
    """
    buckets = F.array(*[_cms_bucket(F.col(key_col), j, w) for j in range(d)])
    if weight_col is None:
        return (
            df.select(F.posexplode(buckets).alias("j", "bucket"))
            .groupBy("j", "bucket")
            .agg(F.count("*").alias("cnt"))
        )
    return (
        df.select(
            F.posexplode(buckets).alias("j", "bucket"),
            F.col(weight_col).alias("__w"),
        )
        .groupBy("j", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame, keys: DataFrame, key_col: str, d: int = 4, w: int = 256
) -> DataFrame:
    """Point-estimate each key's frequency: ``(key_col, est_count)``.

    est = min over the d rows of the key's counter — an upper bound on
    the true count (never under).  The counter grid is tiny (d*w rows)
    and broadcast, so estimation is a map-side join however many keys
    are probed.  The grid stores only touched buckets, so the join is
    LEFT with COALESCE(cnt, 0): a probe key with an empty bucket
    estimates 0 (an inner join would silently drop never-seen keys and
    take the min over a subset for partially-empty ones, breaking the
    est ≥ true guarantee for arbitrary probe sets).
    """
    buckets = F.array(*[_cms_bucket(F.col(key_col), j, w) for j in range(d)])
    kb = keys.select(F.col(key_col), F.posexplode(buckets).alias("j", "bucket"))
    return (
        kb.join(F.broadcast(counters), ["j", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


# --------------------------------------------------------------------------
# Bloom filter as a semi-join reducer
# --------------------------------------------------------------------------


def _bloom_pos(col: "F.Column", i: int, m: int) -> "F.Column":
    return hex_prefix_to_long(
        F.md5(F.concat(F.lit(f"{i}:"), col.cast("string"))), 1, 8
    ) % F.lit(m)


def bloom_bits(df: DataFrame, key_col: str, k: int = 3, m: int = 4096) -> DataFrame:
    """Build side → distinct set bit positions: ``(pos)`` (≤ m rows).

    The natural representation of the filter for a relational engine:
    a ≤m-row table broadcast to every probe task (the bit-OR merge of
    two filters is a UNION/DISTINCT of their position sets).
    """
    pos = F.array(*[_bloom_pos(F.col(key_col), i, m) for i in range(k)])
    return df.select(F.explode(pos).alias("pos")).distinct()


def bloom_probe(
    probe: DataFrame, key_col: str, bits: DataFrame, k: int = 3, m: int = 4096
) -> DataFrame:
    """Probe side → ``(key_col, is_candidate)``.

    A key survives only if ALL k of its positions are set.  This is the
    runtime-filter / semi-join-reduction pattern: at 100 TB the ≤m-row
    bit set is broadcast and candidates are decided map-side, so the
    expensive downstream join never shuffles rows the filter can prove
    unmatched (false positives pass through and are caught by the real
    join; false negatives are impossible).
    """
    pos = F.array(*[_bloom_pos(F.col(key_col), i, m) for i in range(k)])
    exploded = probe.select(F.col(key_col), F.explode(pos).alias("pos"))
    hit = exploded.join(
        F.broadcast(bits.withColumn("__set", F.lit(1))), "pos", "left"
    )
    return hit.groupBy(key_col).agg(
        (F.count("__set") == F.lit(k)).alias("is_candidate")
    )
