"""Tests: bucketed zero-shuffle joins, IVF ANN recall, foreachBatch dispatch."""

from pyspark.sql import functions as F

from ingest_pipeline_spark.operators.similarity import (
    cosine_topk,
    ivf_topk_det,
    pq_topk_lloyd,
)
from ingest_pipeline_spark.storage import (
    bucketed_join,
    plan_has_exchange,
    write_bucketed,
)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # warehouse dir is a static conf; default ./spark-warehouse is fine.
    # A previous session may have left orphaned table dirs (in-memory
    # catalog forgets them but files persist) — clear before writing.
    import shutil

    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "orderkey"),
        "orders_b", "orderkey", num_buckets=8,
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "orderkey"),
        "lineitem_b", "orderkey", num_buckets=8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast (which bypasses bucketing);
        # force the sort-merge path the join takes at real scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "orders_b", "lineitem_b", "orderkey")
        # co-located: the join itself requires no shuffle of either side
        assert not plan_has_exchange(joined)
        plain = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).count()
        assert joined.count() == plain
        # the persisted clustering also satisfies aggregation: a
        # bucket-key groupBy plans with zero Exchange operators too
        agg = (
            spark.table("lineitem_b")
            .groupBy("orderkey")
            .agg(F.count("*").alias("n"))
        )
        assert not plan_has_exchange(agg)
        assert agg.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_ivf_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_det(emb, queries, k=3, n_cells=8, n_probe=3).collect()
    }
    # approximate: require decent recall, exact determinism across runs
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    approx2 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_det(emb, queries, k=3, n_cells=8, n_probe=3).collect()
    }
    assert approx == approx2


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """Learned-codebook PQ (integer Lloyd) ADC + exact re-rank: recall
    vs exact inner-product ranking, deterministic across runs.  The
    re-ranked dots themselves are pinned exactly by the pure-Python
    Lloyd reference in tests/test_estimator_references.py."""
    from pyspark.sql.window import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    c = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    q = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    dots = q.crossJoin(c).filter("qid != nid").select(
        "qid",
        "nid",
        F.round(
            F.aggregate(
                F.zip_with("qv", "cv", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("d"), F.asc("nid"))
    exact = {
        (r.qid, r.nid)
        for r in dots.withColumn("r", F.row_number().over(w))
        .filter("r <= 3")
        .collect()
    }

    def run():
        return {
            (r.query_id, r.neighbor_id)
            for r in pq_topk_lloyd(
                emb, queries, k=3, m=16, n_codes=16, iters=10, refine=10
            ).collect()
        }

    approx = run()
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall too low: {recall}"
    assert approx == run()


def test_foreach_batch_dispatch(spark, sf_dir):
    """Dynamic fan-out (T3): routing join inside foreachBatch."""
    from ingest_pipeline_spark.session import pin_session_conf

    pin_session_conf(spark)
    routed_batches = []

    def dispatch(batch_df, epoch_id):
        routes = (
            batch_df.withColumn(
                "route",
                F.when(F.col("event_type") == "error", "alerts").otherwise("main"),
            )
            .groupBy("route")
            .count()
            .collect()
        )
        routed_batches.extend((r.route, r["count"]) for r in routes)

    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    import os
    import tempfile

    staged = tempfile.mkdtemp(prefix="fb_src_")
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(staged, "events.parquet"))
    src = spark.readStream.schema(schema).parquet(staged)
    q = src.writeStream.foreachBatch(dispatch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = dict(routed_batches)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_err = ev.filter(F.col("event_type") == "error").count()
    assert got.get("alerts") == n_err
    assert got.get("main") == ev.count() - n_err


def test_partitioned_write_prunes_at_the_scan(spark, sf_dir, tmp_path):
    # hive-partitioned layout: a partition-column predicate must become
    # a PartitionFilters entry (directory pruning — zero I/O for the
    # pruned partitions), not a post-scan Filter
    out = str(tmp_path / "events_by_type")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    seg = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in seg and "click" in seg
    # and the pruned read returns exactly the partition's rows
    assert df.count() == ev.filter(F.col("event_type") == "click").count()
