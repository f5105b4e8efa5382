"""Market-basket frequent-pair mining (the apriori pair stage).

The pair expansion is keyed on the basket id, so the work is Σ k_i²
over basket sizes — fine when baskets are small (TPC-H: ≤7 lines), a
hot-basket bomb when they are heavy-tailed.  The classic apriori
pruning bounds it: an item present in fewer than ``min_support``
baskets cannot participate in any pair with support ≥ ``min_support``
(a pair's support is ≤ either item's support), so dropping infrequent
items BEFORE pairing is result-identical and shrinks every k_i to the
count of *frequent* items in the basket.  Same guard shape as the
df_cap stop-shingle cap in operators/dedup.py:ngram_jaccard_pairs.

Execution shape (r14, measured at sf0.1 — the edge build dominates
every co-purchase-family query, so its exchanges are the family's
floor): ONE basket-keyed groupBy with ``collect_set`` replaces the
caller-side ``distinct()`` + basket-keyed self-join of the r5 shape
(two data-proportional exchanges → one), pairs expand row-locally from
the sorted item array, and ONE pair-keyed aggregation counts support.
The apriori prune runs on the RAW line counts (count(*) ≥ any item's
distinct-basket count, so the kept set is a superset of the exactly
pruned one — lossless for the same reason the prune itself is), which
costs a map-side-partial aggregation over the scan plus a broadcast
semi-join instead of a second pass over the distinct relation.
Measured 2.5-2.7 s → 2.1-2.2 s per query for the build at sf0.1
(16 registered queries share this operator); output verified
byte-identical at both min_support settings in use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_items(
    items: DataFrame, basket_col: str, item_col: str, min_support: int
) -> DataFrame:
    """Distinct (basket, item) rows restricted to items whose basket
    count is ≥ min_support — one keyed agg + a broadcast-or-shuffle
    semi-join, both on the item key."""
    counts = (
        items.groupBy(item_col)
        .agg(F.count("*").alias("__item_support"))
        .filter(F.col("__item_support") >= min_support)
        .select(item_col)
    )
    return items.join(counts, item_col, "left_semi")


def copurchase_pairs(
    items: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Item pairs co-occurring in ≥ min_support baskets.

    ``items`` holds (basket, item) rows; duplicates are fine — each
    basket's item set is deduplicated by the ``collect_set`` (callers
    no longer need a ``distinct()`` pass first).  Output columns:
    part_a, part_b (item_col values, a < b), support (long).

    Per-basket pair expansion runs as an array transform over the
    sorted item set.  Higher-order functions are interpreted, but the
    per-element work here is one struct per pair over ≤ k_i-sized
    arrays (TPC-H: ≤ 7) — measured at sf0.1 the HOF expansion matches
    the basket self-join's cost while saving its exchange.

    Hot baskets cost more per row than in the join shape.  A basket of
    k frequent items still yields k(k-1)/2 pair rows, but the join
    streamed them one row at a time, while ``_exploded_pairs`` first
    builds all k(k-1)/2 pair structs inside ONE array value of ONE row
    before the explode.  That value takes about 32 bytes per pair for
    fixed-width keys (an 8-byte slot plus a 24-byte two-field struct;
    string keys add their bytes), and ``flatten`` briefly holds a
    second copy.  It cannot spill and must fit one task's memory: k =
    2,000 gives ~64 MB, and k ≈ 11,500 reaches Spark's 2 GiB limit on a
    single array.  The apriori prune is what bounds k (its conservative
    raw-count variant keeps a superset of the exactly-pruned items; any
    extra survivor's pairs die at the final support filter, so output
    is identical).
    """
    counts = (
        items.groupBy(item_col)
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_support)
        .select(item_col)
    )
    pruned = items.join(F.broadcast(counts), item_col, "left_semi")
    return (
        _exploded_pairs(pruned, basket_col, item_col)
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def _exploded_pairs(
    items: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """One (part_a, part_b) row (a < b) per basket-deduplicated
    co-occurrence: basket-keyed ``collect_set`` + row-local sorted-array
    pair expansion (the shape shared by every co-purchase query)."""
    baskets = items.groupBy(basket_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("__it")
    )
    it = F.col("__it")
    pair_arr = F.flatten(
        F.transform(
            it,
            lambda x, i: F.transform(
                F.slice(
                    it,
                    i + F.lit(2),
                    F.greatest(F.size(it) - i - F.lit(1), F.lit(0)),
                ),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return baskets.select(F.explode(pair_arr).alias("__p")).select(
        F.col("__p.part_a").alias("part_a"),
        F.col("__p.part_b").alias("part_b"),
    )


def copurchase_pair_sets(
    items: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """DISTINCT unordered co-occurring item pairs (part_a < part_b), no
    support threshold — e.g. the held-out test relation of a
    recommender eval.  Same row-local expansion as
    ``copurchase_pairs`` (one basket-keyed exchange + one pair-keyed
    distinct, replacing the basket self-join over distinct (basket,
    item) rows + a distinct over DIRECTED pairs — two data-proportional
    exchanges and a doubled pair relation)."""
    return _exploded_pairs(items, basket_col, item_col).distinct()
