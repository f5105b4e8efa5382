"""Incremental ANN index maintenance guards
(operators/similarity.py ivf_assign / ivf_index_upsert).

The load-bearing theorem: with the quantizer FROZEN at base-build
time, upsert(index(base), delta) == index(base UNION delta) — i.e. a
maintainer can alternate incremental appends and full rebuilds and get
bit-identical assignment tables.  Also guarded: the testdata split
actually keeps the anchor set identical between base and base+delta
(the precondition the registered query's split is chosen to satisfy),
assignment determinism under ties, NULL vectors among the anchor
ids (window-reference parity, no crash), and an empty base (anchors
frozen from the delta)."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from ingest_pipeline_spark.operators.similarity import (  # noqa: E402
    _ivf_anchors,
    cosine,
    ivf_assign,
    ivf_index_upsert,
)
from ingest_pipeline_spark.tables import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_upsert_equals_rebuild_under_frozen_quantizer(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    is_delta = (F.col("vec_id") % 10 == 7) & (F.col("vec_id") >= 100)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)

    up = {
        (r.vec_id, r.cell, r.a_sim)
        for r in ivf_index_upsert(base, delta, n_cells=8).collect()
    }
    # full rebuild over base+delta with the SAME frozen (base) anchors
    rebuilt = {
        (r.vec_id, r.cell, r.a_sim)
        for r in ivf_assign(emb, _ivf_anchors(base, 8)).collect()
    }
    assert up == rebuilt and len(up) == emb.count()


def test_upsert_empty_base_freezes_anchors_from_delta(spark):
    """An empty base has no anchors to freeze: the delta's lowest ids
    become the quantizer, exactly as a rebuild over the empty base
    UNION delta draws them, so the delta is kept and upsert == rebuild
    still holds."""
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame([], schema)
    delta = spark.createDataFrame([(5, [0.2, 0.9]), (6, [0.8, -0.1])], schema)
    up = {
        (r.vec_id, r.cell, r.a_sim, r.origin)
        for r in ivf_index_upsert(base, delta, n_cells=8).collect()
    }
    rebuilt = {
        (r.vec_id, r.cell, r.a_sim, "delta")
        for r in ivf_assign(
            base.unionByName(delta), _ivf_anchors(base.unionByName(delta), 8)
        ).collect()
    }
    assert up == rebuilt and len(up) == 2


def test_split_preserves_anchor_set():
    """The registered query's delta rule (id % 10 == 7 AND id >= 100)
    must leave the 8 lowest corpus ids in the base partition, so
    anchors(base) == anchors(full corpus) on the testdata — the
    precondition that makes incremental and from-scratch builds agree
    even when the rebuild re-derives anchors."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 8"
    ).fetchall()
    assert all(not (v % 10 == 7 and v >= 100) for (v,) in rows)


def test_delta_assignment_touches_only_delta(spark):
    """ivf_assign over the delta frame must not reference the base
    relation anywhere in its plan (the incremental-cost contract:
    per-upsert work is |delta| x n_cells)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") < 100)
    delta = spark.createDataFrame(
        [(9001, [0.1] * 8), (9002, [-0.2] * 8)],
        "vec_id long, embedding array<double>",
    )
    anchors = _ivf_anchors(base, 8)  # persisted index artifact
    assigned = ivf_assign(delta, anchors)
    plan = assigned._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "FileScan" not in plan
    out = assigned.collect()
    assert {r.vec_id for r in out} == {9001, 9002}
    # every assignment picks a real anchor and the best-cosine one
    aid = {a for a, _v in anchors}
    assert all(r.cell in aid for r in out)


def test_tie_breaks_deterministic(spark):
    # two anchors equidistant from the vector: lowest anchor_id wins
    anchors = [(5, [1.0, 0.0]), (2, [0.0, 1.0])]
    v = spark.createDataFrame(
        [(1, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    (row,) = ivf_assign(v, anchors).collect()
    assert row.cell == 2


def _window_cells(corpus, anchor_src, n_cells, keep):
    """The crossJoin + row_number shape ivf_assign replaced: Catalyst
    cosine() (NULL-tolerant), ORDER BY a_sim DESC (NULLS LAST),
    anchor_id — the DuckDB oracles' semantics."""
    anchors = (
        anchor_src.orderBy("vec_id")
        .limit(n_cells)
        .select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_vec"))
    )
    scored = corpus.crossJoin(F.broadcast(anchors)).select(
        "vec_id",
        "anchor_id",
        F.round(cosine(F.col("embedding"), F.col("a_vec")), 6).alias("a_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("a_sim"), F.asc("anchor_id"))
    return {
        (r.vec_id, r.anchor_id, r.a_sim, r.rn)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= keep)
        .collect()
    }


def test_null_vector_among_anchor_ids_matches_window(spark):
    """A NULL vector among the n_cells lowest ids keeps its anchor slot
    but never scores: no vector is assigned to it unless the vector is
    NULL too (then every cosine is NULL and anchor-id order decides),
    exactly the window reference — and neither ivf_assign nor
    ivf_index_upsert crashes on it."""
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [0.6, 0.8])], schema
    )
    delta = spark.createDataFrame([(5, [0.2, 0.9]), (6, None)], schema)
    up = {
        (r.vec_id, r.cell, r.a_sim)
        for r in ivf_index_upsert(base, delta, n_cells=3).collect()
    }
    ref = _window_cells(base.unionByName(delta), base, 3, 1)
    assert up == {(v, c, s) for v, c, s, _rn in ref}
    assert {c for v, c, _s in up if v in (2, 6)} == {1}  # NULL vectors
    assert 2 not in {c for v, c, _s in up if v not in (2, 6)}
    # ranked probes: the NULL anchor ranks last for every live vector
    probes = {
        (r.vec_id, r.cell, r.a_sim, r.rank)
        for r in ivf_assign(base, _ivf_anchors(base, 3), n_probe=3).collect()
    }
    assert probes == _window_cells(base, base, 3, 3)


# --------------------------------------------------------------------------
# PQ code-table upsert (operators/similarity.py pq_assign /
# pq_index_upsert) — the same frozen-artifact theorem
# applied to the product-quantization path (r8 verdict ask #6).
# --------------------------------------------------------------------------


def test_pq_upsert_equals_rebuild_under_frozen_codebook(spark):
    from ingest_pipeline_spark.operators.similarity import (
        pq_assign,
        pq_codebook_det,
        pq_index_upsert,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    is_delta = (F.col("vec_id") % 10 == 7) & (F.col("vec_id") >= 100)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)

    up = {
        (r.vec_id, r.j, r.code)
        for r in pq_index_upsert(base, delta, m=8, n_codes=16).collect()
    }
    dim = len(emb.select("embedding").first()[0])
    cb = pq_codebook_det(spark, 8, 16, dim // 8)
    rebuilt = {
        (r.vec_id, r.j, r.code)
        for r in pq_assign(emb, cb, 8, dim // 8).collect()
    }
    assert up == rebuilt and len(up) == emb.count() * 8


def test_pq_delta_encode_touches_only_delta(spark):
    """pq_assign over the delta frame costs |delta| x m x n_codes —
    base never appears in the encode (the incremental-cost contract)."""
    from ingest_pipeline_spark.operators.similarity import (
        pq_assign,
        pq_codebook_det,
    )

    delta = spark.createDataFrame(
        [(9001, [0.1] * 64), (9002, [-0.2] * 64)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_codebook_det(spark, 8, 16, 8)
    out = pq_assign(delta, cb, 8, 8).collect()
    assert {r.vec_id for r in out} == {9001, 9002}
    assert len(out) == 2 * 8  # one code per (vector, subspace)
    assert all(0 <= r.code < 16 for r in out)


def test_pq_assign_tie_breaks_on_code(spark):
    # two centroids equidistant from the subvector: lowest code wins
    cb = spark.createDataFrame(
        [(0, 3, 0, 1.0), (0, 1, 0, -1.0)],
        "j int, c int, ps int, cb_val double",
    )
    from ingest_pipeline_spark.operators.similarity import pq_assign

    v = spark.createDataFrame(
        [(1, [0.0])], "vec_id long, embedding array<double>"
    )
    (row,) = pq_assign(v, cb, 1, 1).collect()
    assert row.code == 1


def test_pq_upsert_empty_base_encodes_delta(spark):
    """Empty-base + non-empty delta must NOT short-circuit to an empty
    code table (r9 ADVICE: the old path silently dropped the delta).
    pq_codebook_det is corpus-independent, so the rebuild-equivalence
    invariant extends to an empty base: upsert(empty, delta) ==
    encode(delta), all rows origin='delta'.  Both-empty still returns
    the empty typed frame (the empty-input battery relies on it)."""
    from ingest_pipeline_spark.operators.similarity import (
        pq_assign,
        pq_codebook_det,
        pq_index_upsert,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    empty = emb.limit(0)
    delta = emb.filter(F.col("vec_id") % 10 == 7)

    up = pq_index_upsert(empty, delta, m=8, n_codes=16)
    assert up.select("origin").distinct().collect() == [("delta",)]
    dim = len(delta.select("embedding").first()[0])
    cb = pq_codebook_det(spark, 8, 16, dim // 8)
    expect = {
        (r.vec_id, r.j, r.code)
        for r in pq_assign(delta, cb, 8, dim // 8).collect()
    }
    got = {(r.vec_id, r.j, r.code) for r in up.collect()}
    assert got == expect and len(got) == delta.count() * 8

    both = pq_index_upsert(empty, empty, m=8, n_codes=16)
    assert both.count() == 0
    assert both.columns == ["vec_id", "j", "code", "origin"]
