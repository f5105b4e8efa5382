"""Outside-in benchmark of the engine's query surface (see README.md).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one client, one query at a
time (a closed loop) on a ``local[nproc]`` session over the fixed sf0.01
tables in ``data/``; ``--seed`` shuffles the query order of each pass.
Every execution's output is checked against the query's DuckDB
``oracle_sql()`` (``source_listing``: against the exact listing).  The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The exit code is non-zero when any execution failed.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import random
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The engine's fixed seed-42 testdata at scale factor 0.01, copied in so
# that a run reads only its own checkout.
SF = "sf0.01"
DATA_DIR = os.path.join(HERE, "data", SF)

# Query sets are sized so that a run, JVM start included, fits the
# benchmark's time budget, and so that every engine module the traced run
# wraps is called by some query; README.md says why each query is here.
WORKLOADS = {
    "ingest_qa": {
        "action": "write",
        "queries": (
            "checksum_manifest", "collect_tsvs_gather", "validation_battery",
            "workflow_map_routing", "status_state_machine",
            "reorganize_plan", "multimodal_extract_metadata",
            "multimodal_tile_stats", "source_listing", "fastq_scrub",
        ),
    },
    "iterative_barriers": {
        "action": "arrow",
        "queries": (
            "graph_bfs_ancestors", "skyline_pareto_parts",
            "dedup_cluster_components", "similarity_topk",
            "dedup_exact_docs", "basket_copurchase_pairs",
        ),
    },
}
# Warm passes per run at least, whatever --seconds says: the medians need two.
MIN_PASSES = 2


def _configure_env(run_dir: str) -> None:
    """Process settings that must exist before the Spark JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the engine too.
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = tmp


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings of ``cpu_ticks``; a high value means the host was contended."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _canon_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    from tests.oracle_utils import canon_rows

    canon = canon_rows(columns, rows)
    blob = repr((sorted(columns), canon)).encode()
    return len(canon), hashlib.sha256(blob).hexdigest()


def _arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """Rows of an Arrow table as the Python values the oracle side yields.

    Spark hands timestamps over as UTC-zoned (Arrow fetch) or nanosecond
    (INT96 parquet) columns; the oracle's are naive microseconds.  The
    session zone is UTC, so dropping the zone keeps the wall time.
    """
    import pyarrow as pa

    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        cols.append(col.to_pylist())
    return list(table.column_names), list(zip(*cols))


def listing_rows(data_dir: str) -> list[tuple]:
    """``source_listing``'s exact output, which has no SQL oracle: the
    files under ``data_dir`` counted by the query's two type rules."""
    counts: dict[str, int] = defaultdict(int)
    for _, _, files in os.walk(data_dir):
        for f in files:
            kind = "parquet" if f.endswith(".parquet") else "tsv" if f.endswith(".tsv") else "other"
            counts[kind] += 1
    return sorted(counts.items())


def expected_outputs(names, data_dir: str) -> dict[str, tuple[int, str]]:
    """Row count and digest of every query's expected output: its DuckDB
    oracle, or the exact listing for ``source_listing``."""
    from ingest_pipeline_spark.queries import oracle_sql
    from tests.oracle_utils import duckdb_conn

    sql = oracle_sql()
    con = duckdb_conn(data_dir)
    try:
        out = {}
        for name in names:
            if name == "source_listing":
                out[name] = _canon_digest(["file_type", "n_files"], listing_rows(data_dir))
                continue
            rel = con.sql(sql[name])
            out[name] = _canon_digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


class Bench:
    """One workload's queries, inputs, expected outputs and session."""

    def __init__(self, workload: str, seed: int, run_dir: str):
        from ingest_pipeline_spark.queries import queries

        spec = WORKLOADS[workload]
        self.workload = workload
        self.names = list(spec["queries"])
        self.action = spec["action"]
        self.seed = seed
        self.fns = queries()
        self.data_dir = DATA_DIR
        self.out_dir = os.path.join(run_dir, "out")
        self.expected = expected_outputs(self.names, self.data_dir)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    # -- session --------------------------------------------------------
    def start(self) -> dict[str, float]:
        """get_spark + register_views + one cold pass; returns timings.

        Like pass_s, the cold pass counts only query time, not the output
        checks and between-query hygiene around it.
        """
        from ingest_pipeline_spark.session import get_spark
        from ingest_pipeline_spark.tables import register_views

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        register_views(self.spark, self.data_dir)
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm = self.spark.sparkContext._jvm
        self._jsc = self.spark.sparkContext._jsc
        cold = _pass_s(self.run_pass(-1))
        return {
            "get_spark_s": t1 - t0,
            "register_views_s": t2 - t1,
            "cold_pass_s": cold,
            "setup_s": t2 - t0 + cold,
        }

    # -- one execution --------------------------------------------------
    def _act(self, name: str, df):
        """The final action: a write through the engine's sink, or a full
        Arrow fetch.  Never count(), which lets Catalyst prune columns."""
        if self.action == "write":
            from ingest_pipeline_spark.sources import sinks

            path = os.path.join(self.out_dir, name)
            sinks.write_parquet(df, path)
            return path
        return df.toArrow()

    def _check(self, name: str, result) -> None:
        if self.action == "write":
            import pyarrow.parquet as pq

            result = pq.read_table(result)
        got = _canon_digest(*_arrow_rows(result))
        if got != self.expected[name]:
            raise AssertionError(
                f"{name}: {got[0]} rows, digest {got[1][:12]}; "
                f"oracle {self.expected[name][0]} rows, digest {self.expected[name][1][:12]}"
            )

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self._jsc.getPersistentRDDs().keys()}

    def execute(self, name: str, probe=None) -> tuple[float, float] | None:
        """Run one query; return (build_s, action_s) wall times, or None on
        failure.

        The output check, the unpersist of the RDDs this query left
        persisted, and one JVM GC all run off the clock, identically on
        every execution.
        """
        self.attempted += 1
        before = self.persistent_rdds()
        try:
            return self._timed(name, probe, before)
        except Exception as exc:  # a failed execution is a measured outcome
            self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        finally:
            held = self._jsc.getPersistentRDDs()
            for rdd_id in self.persistent_rdds() - before:
                held.get(rdd_id).unpersist(True)
            # The query's Python objects pin their JVM twins through py4j
            # until Python frees them; free them first so that every JVM GC
            # sees the same live set.
            gc.collect()
            self._jvm.System.gc()

    def _timed(self, name: str, probe, before: set[int]) -> tuple[float, float]:
        if probe:
            probe.begin_build(name)
        t0 = time.perf_counter()
        df = self.fns[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        if probe:
            probe.end_build(name, self.persistent_rdds() - before)
        t2 = time.perf_counter()
        result = self._act(name, df)
        t3 = time.perf_counter()
        if probe:
            probe.end_action(name, self.persistent_rdds() - before)
        self._check(name, result)
        return t1 - t0, t3 - t2

    def run_pass(self, pass_no: int, probe=None) -> dict[str, tuple[float, float]]:
        order = list(self.names)
        random.Random(f"{self.seed}:{pass_no}").shuffle(order)
        out = {}
        for name in order:
            timing = self.execute(name, probe)
            if timing is not None:
                out[name] = timing
        return out

    def peak_rss_mb(self) -> tuple[float, float]:
        """(driver JVM VmHWM, Python driver ru_maxrss) in MB."""
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return jvm_kb / 1024.0, py_kb / 1024.0


def _pass_s(p: dict[str, tuple[float, float]]) -> float:
    return sum(build_s + action_s for build_s, action_s in p.values())


def _median(xs) -> float | None:
    """The median, or None when no execution succeeded."""
    xs = list(xs)
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> dict | None:
    """The highest percentile of ``xs`` with at least ten samples beyond it:
    its value, its rank as a percentile, and the sample count."""
    if len(xs) < 11:
        return None
    k = len(xs) - 11
    return {"value_s": round(sorted(xs)[k], 4), "pct": round(100 * (k + 1) / len(xs), 1), "n": len(xs)}


class PassClock:
    """Wall-clock budget for the measured passes: another pass starts only
    if one more of the last pass's length still ends within ``seconds``."""

    def __init__(self, seconds: float):
        self.t_end = time.perf_counter() + seconds
        self.last = 0.0

    def room(self) -> bool:
        return time.perf_counter() + self.last <= self.t_end

    def __enter__(self):
        self._t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.last = time.perf_counter() - self._t0


def measure(bench: Bench, seconds: float) -> tuple[dict, dict]:
    """--trace 0: the set-up, then warm passes for ``seconds``."""
    start = bench.start()
    setup_s = start["setup_s"]
    passes = []
    clock = PassClock(seconds)
    ticks = cpu_ticks()
    while len(passes) < MIN_PASSES or clock.room():
        with clock:
            passes.append(bench.run_pass(len(passes)))
    steal = steal_fraction(ticks, cpu_ticks())
    per_query = defaultdict(list)
    for p in passes:
        for name, (build_s, action_s) in p.items():
            per_query[name].append(build_s + action_s)
    rss = bench.peak_rss_mb()
    complete = [p for p in passes if len(p) == len(bench.names)] or passes
    medians = {name: statistics.median(xs) for name, xs in sorted(per_query.items())}
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (_median(_pass_s(p) for p in complete if p), "s"),
        "query_geomean_s": (
            math.exp(statistics.fmean(math.log(m) for m in medians.values()))
            if medians else None,
            "s",
        ),
    }
    info = {
        "cold_pass_s": round(start["cold_pass_s"], 3),
        "steal_frac": round(steal, 3),
        "peak_rss_mb": round(sum(rss), 1),
        "rss_jvm_py_mb": [round(x, 1) for x in rss],
        "query_tail_s": tail([x for xs in per_query.values() for x in xs]),
        "passes_s": [round(_pass_s(p), 3) for p in passes],
        "query_median_s": {name: round(m, 3) for name, m in medians.items()},
    }
    return metrics, info


def measure_traced(bench: Bench, seconds: float, spans_path: str) -> tuple[dict, dict]:
    """--trace 1: one set-up, then passes in the order untraced, traced,
    untraced, repeated while time is left.  Warm passes still speed up pass
    by pass as the JIT warms; this order gives both kinds the same mean
    position, so that the speed-up does not show as tracing overhead."""
    from layers import LayerProbe, Spans

    start = bench.start()
    spans = Spans()
    out_dir = bench.out_dir if bench.action == "write" else None
    layers = LayerProbe(bench.spark, spans, out_dir)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    plain, traced = [], []
    clock = PassClock(seconds)
    while not traced or clock.room():
        with clock:
            for kind in ("plain", "traced", "plain"):
                pass_no = len(plain) + len(traced)
                if kind == "plain":
                    plain.append(_pass_s(bench.run_pass(pass_no)))
                    continue
                layers.reset()
                spans.install()
                try:
                    p = bench.run_pass(pass_no, layers)
                finally:
                    spans.uninstall()
                traced.append(layers.finish(_pass_s(p), cores))
    spans.dump(spans_path)
    metrics = {
        "session.get_spark_s": (start["get_spark_s"], "s"),
        "tables.register_views_s": (start["register_views_s"], "s"),
    }
    # With every execution failed there is nothing to attribute.
    ran = statistics.median(plain) > 0
    for key, unit in LayerProbe.UNITS.items():
        metrics[key] = (statistics.median(t[key] for t in traced) if ran else None, unit)
    traced_s = statistics.median(t["pass_s"] for t in traced)
    metrics["bench.trace_overhead_frac"] = (
        traced_s / statistics.median(plain) - 1 if ran else None, "ratio"
    )
    info = {
        "traced_passes": len(traced), "plain_passes": len(plain), "spans": spans_path,
        "counts_per_traced_pass": {k: [t[k] for t in traced] for k in LayerProbe.COUNTS},
    }
    return metrics, info


def shutdown_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    _configure_env(run_dir)
    sys.path[:0] = [ROOT, HERE]
    bench = None
    try:
        t0 = time.perf_counter()
        bench = Bench(args.workload, args.seed, run_dir)
        prep_s = time.perf_counter() - t0
        if args.trace:
            spans_path = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.jsonl")
            metrics, info = measure_traced(bench, args.seconds, spans_path)
        else:
            metrics, info = measure(bench, args.seconds)
    finally:
        if "pyspark" in sys.modules:
            shutdown_jvm(bench.spark if bench else None)
        shutil.rmtree(run_dir, ignore_errors=True)

    return report(bench, metrics, {"prep_s": round(prep_s, 3), **info}, args.trace)


def report(bench: Bench, metrics: dict, info: dict, trace: int) -> int:
    """Print failures, a summary line and the result line; return the exit code."""
    failed = len(bench.failures)
    for msg in bench.failures:
        print("FAILED", msg)
    summary = {
        "workload": bench.workload, "seed": bench.seed, "trace": trace, "sf": SF,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "failed_frac": failed / bench.attempted, **info,
    }
    print("summary", json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
