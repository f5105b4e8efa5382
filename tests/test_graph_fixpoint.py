"""Fixpoint BFS (operators/graph.py:descendants_bfs max_depth=None):
termination on cycles, min-depth on diamonds, and lineage-cut depth."""

from pyspark.sql import functions as F  # noqa: F401

from ingest_pipeline_spark.operators.graph import ancestors_bfs, descendants_bfs


def _edges(spark, pairs):
    return spark.createDataFrame(
        pairs, "parent_uuid string, child_uuid string"
    )


def _roots(spark, uuids):
    return spark.createDataFrame([(u,) for u in uuids], "uuid string")


def test_fixpoint_terminates_on_cycle(spark):
    # a -> b -> c -> a: without visited-set subtraction this never ends
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    got = sorted(
        tuple(r) for r in descendants_bfs(e, _roots(spark, ["a"]), None).collect()
    )
    assert got == [("a", "a", 0), ("a", "b", 1), ("a", "c", 2)]


def test_fixpoint_min_depth_on_diamond(spark):
    # a -> b -> d and a -> d: d must settle at depth 1, not 2
    e = _edges(spark, [("a", "b"), ("b", "d"), ("a", "d"), ("d", "e")])
    got = dict(
        ((r.root_uuid, r.uuid), r.depth)
        for r in descendants_bfs(e, _roots(spark, ["a"]), None).collect()
    )
    assert got == {("a", "a"): 0, ("a", "b"): 1, ("a", "d"): 1, ("a", "e"): 2}


def test_fixpoint_walks_past_default_depth_and_checkpoints(spark):
    # chain of 25 hops crosses two checkpoint_every=10 boundaries
    chain = [(f"n{i}", f"n{i+1}") for i in range(25)]
    got = descendants_bfs(
        _edges(spark, chain), _roots(spark, ["n0"]), None, checkpoint_every=10
    )
    rows = {r.uuid: r.depth for r in got.collect()}
    assert len(rows) == 26 and rows["n25"] == 25

    # bounded default still stops at 5
    bounded = descendants_bfs(_edges(spark, chain), _roots(spark, ["n0"]))
    assert max(r.depth for r in bounded.collect()) == 5


def test_bounded_walk_skips_last_round_probe(spark):
    # The last bounded round ends the loop whatever the emptiness probe
    # says, so it runs none.  On this chain a call launches 2 jobs for the
    # roots, 7 per frontier checkpoint and 1 per probe: max_depth=1 runs
    # 2 + 7 and max_depth=3 runs 2 + 3*7 + 2*1.
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    chain = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(8)])
    roots = _roots(spark, ["n0"])
    jobs = {}
    for depth in (1, 3):
        first = sched.nextJobId()
        got = descendants_bfs(chain, roots, depth)
        jobs[depth] = sched.nextJobId() - first
        assert sorted(r.depth for r in got.collect()) == list(range(depth + 1))
    assert jobs == {1: 9, 3: 25}


def test_fixpoint_ancestors_inverts(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(8)]
    got = {
        r.uuid: r.depth
        for r in ancestors_bfs(
            _edges(spark, chain), _roots(spark, ["n8"]), None
        ).collect()
    }
    assert got == {f"n{8-i}": i for i in range(9)}


class TestKCore:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "u long, v long")

    def test_clique_with_tail_peels_to_clique(self, spark):
        from ingest_pipeline_spark.operators.graph import kcore

        k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
        tail = [(4, 10), (10, 11), (11, 12)]
        out = {
            (r["node"], r["core_degree"])
            for r in kcore(self._edges(spark, k5 + tail), 4).collect()
        }
        assert out == {(n, 4) for n in range(5)}

    def test_cycle_is_its_own_2core(self, spark):
        from ingest_pipeline_spark.operators.graph import kcore

        cyc = [(i, (i + 1) % 6) for i in range(6)]
        out = {
            (r["node"], r["core_degree"])
            for r in kcore(self._edges(spark, cyc), 2).collect()
        }
        assert out == {(n, 2) for n in range(6)}

    def test_star_has_empty_2core(self, spark):
        from ingest_pipeline_spark.operators.graph import kcore

        star = [(0, i) for i in range(1, 8)]
        assert kcore(self._edges(spark, star), 2).count() == 0
