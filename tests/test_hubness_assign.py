"""IVF cell assignment: ivf_assign's one-pass Arrow struct-sort
ranking must be row-identical to the crossJoin+window shape it
replaced — including the normalization corners the struct sort does
not share with SortExec (-0.0 == +0.0, anchor-id tiebreak on exact
6-dp ties) — for the corpus (1 cell) and for queries (n_probe cells,
rank order).  Zero-norm and NULL vectors are outside
ivf_knn_indegree's domain (see notes in _mk_corpus); ivf_assign's NULL
handling is pinned in tests/test_index_upsert.py."""

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ingest_pipeline_spark.operators.similarity import (
    _ivf_anchors,
    _norm,
    dot_seq,
    ivf_assign,
    ivf_knn_indegree,
)


def _mk_corpus(spark):
    rows = [
        # anchors (8 lowest ids) — spread directions incl. exact
        # opposites so ties and negative cosines occur
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
        (5, [0.5, 0.5, 0.0, 0.0]),
        (6, [0.0, 0.5, 0.5, 0.0]),
        (7, [1.0, 1.0, 1.0, 1.0]),
        # exact tie between anchors 0 and 1 -> anchor-id tiebreak
        (10, [1.0, 1.0, 0.0, 0.0]),
        # orthogonal to several anchors -> 0.0 cosines, tiebreak-heavy
        (11, [0.0, 0.0, 0.0, 2.0]),
        # NOTE: no zero vector — under ANSI (Spark 4 default) the
        # replaced Catalyst-side division crashed on zero norms, so
        # zero-norm vectors are outside the operator's domain; the
        # Arrow path's NaN normalization is ivf_assign's sort key.
        # NOTE: no NULL embedding either — dot_seq (used by both
        # the replaced shape's scoring and the operator's pair stage)
        # is not null-tolerant, so null vecs are likewise outside the
        # operator's domain.
        # negative alignment -> -0.0-adjacent rounding territory
        (14, [-0.3, -0.3, -0.3, -0.3]),
        (15, [2.0, 0.1, 0.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    )


def _window_cells(corpus, n_cells=8, keep=1):
    """The replaced r13 shape, verbatim (crossJoin + row_number)."""
    anchors = (
        corpus.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("a_vec"),
            _norm(F.col("embedding")).alias("a_nrm"),
        )
    )
    scored = (
        corpus.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("vec"),
            _norm(F.col("embedding")).alias("nrm"),
        )
        .crossJoin(F.broadcast(anchors))
        .select(
            "id",
            "anchor_id",
            F.round(
                dot_seq(F.col("vec"), F.col("a_vec"))
                / (F.col("nrm") * F.col("a_nrm")),
                6,
            ).alias("a_sim"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("a_sim"), F.asc("anchor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= keep)
        .select("id", F.col("anchor_id").alias("cell"), "rn")
    )


def test_struct_sort_assignment_matches_window_shape(spark):
    corpus = _mk_corpus(spark)
    anchors = _ivf_anchors(corpus, 8)
    for keep in (1, 3):
        ref = {
            (r["id"], r["cell"], r["rn"])
            for r in _window_cells(corpus, keep=keep).collect()
        }
        got = {
            (r["vec_id"], r["cell"], r["rank"])
            for r in ivf_assign(corpus, anchors, n_probe=keep).collect()
        }
        assert got == ref, keep
    # ties and negative-alignment rows really exercised the corners
    assert {10, 14} <= {i for i, _c, _r in got}


def test_indegree_histogram_counts(spark):
    corpus = _mk_corpus(spark)
    out = ivf_knn_indegree(corpus, k=2, n_cells=4)
    rows = {r["in_degree"]: r["n_vectors"] for r in out.collect()}
    # every vector appears exactly once in the histogram
    assert sum(rows.values()) == corpus.count()
    # total in-degree mass == total knn edges (each q contributes <= k)
    mass = sum(d * n for d, n in rows.items())
    assert 0 < mass <= 2 * corpus.count()


def test_empty_corpus_yields_empty_histogram(spark):
    empty = spark.createDataFrame(
        [], "vec_id int, embedding array<double>"
    )
    assert ivf_knn_indegree(empty, k=2, n_cells=4).count() == 0


def test_one_ivf_quantizer_in_package():
    """Source pin: the deterministic IVF quantizer has ONE definition.
    Every cell assignment goes through ivf_assign (the only caller of
    the Arrow anchor cosine), no hand-rolled crossJoin + window copy
    remains, and the MLlib KMeans IVF/PQ path stays deleted."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "ingest_pipeline_spark"
    srcs = {p: p.read_text() for p in pkg.rglob("*.py")}
    calls = sum(
        s.count("anchor_cosines_seq(") - s.count("def anchor_cosines_seq(")
        for s in srcs.values()
    )
    assert calls == 1, calls
    assert not [p for p, s in srcs.items() if "crossJoin(F.broadcast(anchors))" in s]
    assert "KMeans" not in (pkg / "operators" / "similarity.py").read_text()
