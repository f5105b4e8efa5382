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
    # chain of 25 hops crosses two visited-checkpoint boundaries (every 10)
    chain = [(f"n{i}", f"n{i+1}") for i in range(25)]
    got = descendants_bfs(_edges(spark, chain), _roots(spark, ["n0"]), None)
    rows = {r.uuid: r.depth for r in got.collect()}
    assert len(rows) == 26 and rows["n25"] == 25

    # bounded default still stops at 5
    bounded = descendants_bfs(_edges(spark, chain), _roots(spark, ["n0"]))
    assert max(r.depth for r in bounded.collect()) == 5


def test_fixpoint_loops_launch_pinned_jobs(spark):
    # Every loop reads its stop probe off its round's checkpoint job, so
    # a call launches its checkpoints and nothing else.  The table counts
    # jobs with adaptive execution off: AQE runs each query stage as a
    # job of its own, and on the ktruss and MST fixtures how many of those
    # it launches varies by one between identical calls.
    from ingest_pipeline_spark.operators.components import connected_components
    from ingest_pipeline_spark.operators.graph import boruvka_mst, kcore, ktruss

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    chain = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(8)])
    roots = _roots(spark, ["n0"])
    longs = lambda rows, cols: spark.createDataFrame(  # noqa: E731
        rows, ", ".join(f"{c} long" for c in cols)
    )
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    strip = [(i, i + 1) for i in range(7)] + [(i, i + 2) for i in range(6)]
    bfs = lambda d: {("n0", f"n{i}", i) for i in range(d + 1)}  # noqa: E731
    table = {  # name: (call, jobs, result rows)
        # roots 1 + one frontier checkpoint per round
        "bfs depth 1": (lambda: descendants_bfs(chain, roots, 1), 2, bfs(1)),
        "bfs depth 3": (lambda: descendants_bfs(chain, roots, 3), 4, bfs(3)),
        # edges 1 + per round: peeled edges 1 + degrees 1
        "kcore clique+tail": (
            lambda: kcore(longs(k5 + [(4, 10), (10, 11), (11, 12)], "uv"), 4),
            3,
            {(n, 4) for n in range(5)},
        ),
        # the strip peels away in two rounds, the third scores nothing
        "ktruss strip": (lambda: ktruss(longs(strip, "uv"), 4), 7, set()),
        "components chain": (
            lambda: connected_components(
                longs([(i, i + 1) for i in range(4)], ["id_a", "id_b"])
            ),
            7,
            {(i, 0) for i in range(5)},
        ),
        "mst 4 nodes": (
            lambda: boruvka_mst(
                longs([(1, 2, 5), (2, 3, 2), (1, 3, 4), (3, 4, 5)], "abw")
            ),
            11,
            {(2, 3, 2), (1, 3, 4), (3, 4, 5)},
        ),
    }

    def jobs(call):
        first = sched.nextJobId()
        out = call()
        return sched.nextJobId() - first, out

    aqe_conf = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = {}
        for name, (call, _, _) in table.items():
            n, out = jobs(call)
            got[name] = (n, {tuple(r) for r in out.collect()})
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_conf)
    assert got == {name: (n, rows) for name, (_, n, rows) in table.items()}

    # with AQE on, the BFS stage jobs are stable: 2 for the roots and 7
    # per frontier round
    aqe = {d: jobs(lambda: descendants_bfs(chain, roots, d))[0] for d in (1, 3)}
    assert aqe == {1: 9, 3: 23}


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
