"""Self-tests of the benchmark harness.  They start Spark and take about a
minute:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
from layers import LayerProbe, Spans  # noqa: E402

SEED = 7
QUERY = "dedup_exact_docs"


@pytest.fixture(scope="module")
def bench():
    run_dir = os.path.join(run.WORK, f"test-{os.getpid()}")
    run._configure_env(run_dir)
    b = run.Bench("iterative_barriers", SEED, run_dir)
    b.names = [QUERY, "skyline_pareto_parts"]
    yield b
    run.shutdown_jvm(b.spark)
    shutil.rmtree(run_dir, ignore_errors=True)


@pytest.fixture
def planted(bench):
    """Swap QUERY's function for the test, and reset the failure tally."""
    good = bench.fns[QUERY]

    def plant(make):
        bench.fns[QUERY] = make(good)

    yield plant
    bench.fns[QUERY] = good
    bench.failures.clear()
    bench.attempted = 0


def test_planted_wrong_result_fails_the_run(bench, planted, capsys):
    planted(lambda good: lambda spark, d: good(spark, d).limit(0))
    metrics, info = run.measure(bench, 0)
    code = run.report(bench, metrics, info, 0)
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    summary = json.loads(lines[-2].split(" ", 1)[1])
    assert code != 0
    assert result["failed"] > 0 and not result["correct"]
    assert summary["failed_frac"] > 0


def test_every_query_failing_still_reports(bench, capsys):
    def broken(spark, d):
        raise RuntimeError("planted")

    good = dict(bench.fns)
    bench.fns.update(dict.fromkeys(bench.names, broken))
    try:
        metrics, info = run.measure(bench, 0)
        code = run.report(bench, metrics, info, 0)
        traced, _ = run.measure_traced(
            bench, 0, os.path.join(os.path.dirname(bench.out_dir), "spans.jsonl")
        )
    finally:
        bench.fns.update(good)
        bench.failures.clear()
        bench.attempted = 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code != 0
    assert not result["correct"] and result["failed"] == result["attempted"] > 0
    assert result["metrics"]["pass_s"]["value"] is None
    assert traced["queries.build_jobs"][0] is None


def _layer_counts(bench) -> dict:
    if bench.spark is None:
        bench.start()
    spans = Spans()
    probe = LayerProbe(bench.spark, spans, None)
    spans.install()
    try:
        timing = bench.execute(QUERY, probe)
    finally:
        spans.uninstall()
    assert timing is not None, bench.failures
    return probe.finish(timing[0] + timing[1], 1)


def test_planted_eager_checkpoint_shows_in_layers(bench, planted):
    base = _layer_counts(bench)
    planted(lambda good: lambda spark, d: good(spark, d).localCheckpoint(eager=True))
    barrier = _layer_counts(bench)
    assert barrier["queries.build_jobs"] > base["queries.build_jobs"]
    assert barrier["spark.materialized_rdds"] == base["spark.materialized_rdds"] + 1


def test_count_metrics_repeat_across_traced_runs(bench):
    counts = LayerProbe.COUNTS
    # Within one session, from one execution to the next ...
    first, second = _layer_counts(bench), _layer_counts(bench)
    assert {k: first[k] for k in counts} == {k: second[k] for k in counts}
    # ... and between traced runs, each on a fresh session.
    spans_path = os.path.join(os.path.dirname(bench.out_dir), "spans.jsonl")
    first, _ = run.measure_traced(bench, 0, spans_path)
    second, _ = run.measure_traced(bench, 0, spans_path)
    assert not bench.failures
    assert {k: first[k] for k in counts} == {k: second[k] for k in counts}
