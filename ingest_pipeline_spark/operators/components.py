"""Connected components over near-duplicate pair lists.

The step after any pairwise dedup (minhash/simhash/embedding): pairs
form an undirected graph; each duplicate CLUSTER is a connected
component; the canonical document is the min id in the component.

Algorithm: iterative min-label propagation — per round every node
takes the min label among itself and its neighbors; converged when no
label changes.  Rounds needed = graph diameter (near-dup clusters are
shallow — typically ≤ 3-4 hops), each round costing one shuffle on
node id; the change count is observed on the job that checkpoints the
round's labels (``_settle``), so the stop probe launches no job of its
own.  This is the Spark-native restatement of the "iterative
algorithm" class: driver-side loop, distributed steps, early exit via
an aggregate, checkpoint + release per round.

``_settle`` is the one round barrier of every fixpoint loop in
``operators/graph.py`` too; it stays private, so benchmark spans that
wrap this module's public functions never count it.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _settle(df: DataFrame, stop: Column) -> tuple[DataFrame, int]:
    """One fixpoint round's barrier: eagerly localCheckpoint ``df`` and
    return it with ``n``, the number of its rows matching ``stop`` (the
    round's stop probe; a loop stops once it reads 0).

    The count is an observed aggregate: it rides on the checkpoint's
    own plan as a CollectMetrics node, so the probe costs no Spark job
    of its own and never re-reads the checkpoint.  Free the blocks with
    ``_release`` once a later round supersedes them.
    """
    obs = Observation()
    out = df.observe(obs, F.count(F.when(stop, 1)).alias("n"))
    return out.localCheckpoint(eager=True), obs.get["n"]


def _release(df: DataFrame) -> None:
    """Free the localCheckpoint blocks ``df`` reads.

    Dataset.unpersist() does NOT release localCheckpoint blocks (they
    are RDD-level persists, not CacheManager entries — verified
    empirically); freeing them needs SparkContext.unpersistRDD on the
    checkpointed RDDs, which are the LogicalRDD leaves of ``df``'s plan.
    """
    sc = df.sparkSession.sparkContext._jsc.sc()  # noqa: SLF001
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()  # noqa: SLF001
    for i in range(leaves.size()):
        try:
            sc.unpersistRDD(leaves.apply(i).rdd().id(), False)
        except Py4JError:
            pass  # not a checkpoint leaf, or already cleaned by ContextCleaner


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 15,
) -> DataFrame:
    """(id, component) for every node appearing in pairs.

    component = min node id of the node's connected component.
    Raises if max_iter rounds don't converge (pathological diameter).
    """
    sym = (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionByName(
            pairs.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # localCheckpoint each round, not cache(): cache truncates execution
    # but NOT the logical plan, so per-round analysis cost compounds —
    # the canonical iterative-Spark trap (measured ~20 s/round by round
    # 8 with cache; constant ~1 s/round with checkpointing)
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym.v == labels.id)
                .groupBy("u")
                .agg(F.min("component").alias("nbr_min"))
            )
            updated, n_changed = _settle(
                labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    ).alias("component"),
                    (
                        F.coalesce(F.col("nbr_min"), F.col("component"))
                        < F.col("component")
                    ).alias("__changed"),
                ),
                F.col("__changed"),
            )
            # release the superseded round's checkpoint blocks — leaving
            # it to GC pins up to max_iter label-table copies
            _release(labels)
            labels = updated.drop("__changed")
            if n_changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        _release(sym)


def dedup_cluster_census(
    pairs: DataFrame, src_col: str = "id_a", dst_col: str = "id_b"
) -> DataFrame:
    """Per-cluster membership counts: (component, n_members)."""
    cc = connected_components(pairs, src_col, dst_col)
    return cc.groupBy("component").agg(F.count("*").alias("n_members"))
