"""Outside-in layer tracing for the benchmark's traced run.

Nothing here edits the engine.  Three probes read it from outside:

* ``Spans`` wraps the public functions of chosen engine modules by
  rebinding module attributes, and records a span (label, function,
  start, end, parent) per driver-side call.  Spans stay in memory until
  ``dump``.
* ``PhaseProbe`` runs a query's build and action phases under their own
  Spark job groups, then reads the jobs, stages and tasks they launched
  from the application status store.
* ``plan_counts`` counts Exchange and Python nodes in the physical plan
  that the SQL status store recorded for an execution.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict

PKG = "ingest_pipeline_spark"

# label -> modules whose public functions are wrapped under that label
SPAN_MODULES = {
    "operators.graph": ["operators.graph"],
    "operators.components": ["operators.components"],
    "operators.similarity": ["operators.similarity"],
    "operators.dedup": ["operators.dedup"],
    "operators.prefix": ["operators.prefix"],
    "operators.baskets": ["operators.baskets"],
    "operators.tsv_collect": ["operators.tsv_collect"],
    "operators.reorganize": ["operators.reorganize"],
    "operators.status_machine": ["operators.status_machine"],
    "operators.multimodal": ["operators.multimodal"],
    "sources.readers": ["sources.readers"],
    "sources.sinks": ["sources.sinks"],
    "validate.checks": ["validate.checks"],
    "rules.engine": ["rules.engine"],
    "functions": ["functions", "functions.scalars", "functions.text"],
    "engine": ["engine"],
}


class _Traced:
    """Callable stand-in for one engine function; records a span per call."""

    def __init__(self, fn, label: str, spans: "Spans"):
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__
        self._label = label
        self._spans = spans

    def __call__(self, *args, **kwargs):
        return self._spans.call(self, args, kwargs)

    def __reduce__(self):
        # Shipped to an executor (a UDF body, a mapInPandas callback), a
        # traced function travels as a by-name reference to the engine's
        # own function, which the executor process never wrapped.
        return getattr, (sys.modules[self.__module__], self.__name__)


class Spans:
    """Driver-side spans around the public functions of ``SPAN_MODULES``."""

    def __init__(self):
        self.records: list[tuple] = []  # (label, fn, start, end, parent, tag)
        self.tag = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrappers: dict[int, _Traced] = {}
        for label, mods in SPAN_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                for name, fn in vars(mod).items():
                    if (
                        not name.startswith("_")
                        and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__
                    ):
                        self._wrappers[id(fn)] = _Traced(fn, label, self)

    def _rebind(self, install: bool) -> None:
        if install:
            swap = dict(self._wrappers)
        else:
            swap = {id(w): w.__wrapped__ for w in self._wrappers.values()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            namespace = vars(mod)
            for name, value in list(namespace.items()):
                new = swap.get(id(value))
                if new is not None:
                    namespace[name] = new

    def install(self) -> None:
        self._rebind(True)

    def uninstall(self) -> None:
        self._rebind(False)

    def call(self, traced: _Traced, args, kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else -1
        with self._lock:
            idx = len(self.records)
            self.records.append(None)
        stack.append(idx)
        start = time.perf_counter()
        try:
            return traced.__wrapped__(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            self.records[idx] = (
                traced._label, traced.__qualname__, start, end, parent, self.tag
            )

    def summarize(self, first: int) -> dict[str, dict[str, float]]:
        """Self time and call count per label for ``records[first:]``.

        Self time is a span's duration minus the time its direct child
        spans cover.  A span opened in another thread has no parent here,
        so a caller blocked on a thread pool counts the wait as its own.
        """
        recs = self.records[first:]
        child_s = defaultdict(float)
        for rec in recs:
            if rec is not None and rec[4] >= first:
                child_s[rec[4]] += rec[3] - rec[2]
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"self_s": 0.0, "calls": 0})
        for i, rec in enumerate(recs, start=first):
            if rec is None:
                continue
            out[rec[0]]["self_s"] += rec[3] - rec[2] - child_s[i]
            out[rec[0]]["calls"] += 1
        return out

    def total_s(self, first: int, label: str) -> float:
        return sum(r[3] - r[2] for r in self.records[first:] if r and r[0] == label)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, rec in enumerate(self.records):
                if rec is None:
                    continue
                label, fn, start, end, parent, tag = rec
                f.write(json.dumps({
                    "id": i, "parent": parent, "label": label, "fn": fn,
                    "start": start, "end": end, "query": tag,
                }) + "\n")


def _jseq(seq) -> list:
    return [seq.apply(i) for i in range(seq.length())]


class PhaseProbe:
    """Per-phase job, stage and task accounting from the status store."""

    STAGE_FIELDS = (
        "exec_run_s", "exec_cpu_s", "jvm_gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        self.store = self.jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self._seen_stages: set[int] = set()
        self._first_job = 0
        self._last_execution = -1
        self.new_plans()

    def _next_job_id(self) -> int:
        return self.jsc.sc().dagScheduler().nextJobId()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._first_job = self._next_job_id()

    def end(self, group: str) -> dict:
        """Counts and stage metrics for the jobs launched since ``begin``.

        Jobs started from engine-owned driver threads carry no job group
        (job groups are thread-local), so every job id allocated during
        the phase counts towards it too; one query runs at a time.  The
        status store keeps a group's jobs from earlier executions of the
        same query too; those are older than the phase and left out.
        """
        self.jsc.clearJobGroup()
        self.jsc.sc().listenerBus().waitUntilEmpty()
        jobs = {j for j in self.tracker.getJobIdsForGroup(group) if j >= self._first_job}
        jobs.update(range(self._first_job, self._next_job_id()))
        out = dict.fromkeys(
            ("jobs", "stages_executed", "stages_skipped", "tasks")
            + self.STAGE_FIELDS, 0
        )
        out["jobs"] = len(jobs)
        stage_ids = set()
        for job_id in jobs:
            job = self.store.job(job_id)
            out["stages_executed"] += job.numCompletedStages()
            out["stages_skipped"] += job.numSkippedStages()
            out["tasks"] += job.numTasks() - job.numSkippedTasks()
            stage_ids.update(_jseq(job.stageIds()))
        for sid in sorted(stage_ids - self._seen_stages):
            stage = self.store.lastStageAttempt(sid)
            if stage.status().toString() != "COMPLETE":
                continue
            self._seen_stages.add(sid)
            out["exec_run_s"] += stage.executorRunTime() / 1e3
            out["exec_cpu_s"] += stage.executorCpuTime() / 1e9
            out["jvm_gc_s"] += stage.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += stage.shuffleReadBytes()
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        return out

    def new_plans(self) -> list[str]:
        """Physical plans of the SQL executions recorded since the last call."""
        n = self.sql_store.executionsCount()
        recent = _jseq(self.sql_store.executionsList(max(0, n - 64), min(n, 64)))
        plans = [
            x.physicalPlanDescription() for x in recent
            if x.executionId() > self._last_execution
        ]
        if recent:
            self._last_execution = max(self._last_execution, recent[-1].executionId())
        return plans

    def stored_bytes(self, rdd_ids: set[int]) -> int:
        infos = self.jsc.sc().getRDDStorageInfo()
        return sum(
            i.memSize() + i.diskSize() for i in infos if i.id() in rdd_ids
        )


_NODE = re.compile(r"^[\s:+|\-]*(?:\*\s+)?([A-Za-z]\w*)[^()\n]*\(\d+\)\s*$")
_PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow")


def plan_counts(plan: str) -> tuple[int, int]:
    """(exchanges, python nodes) in the final plan of a formatted explain.

    Adaptive plans print a ``== Final Plan ==`` and an ``== Initial
    Plan ==`` subtree; nodes under the initial one never ran and are
    skipped.  Reused exchanges move no data and are not counted.
    """
    exchanges = python_nodes = 0
    skip_below = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" "))
        if skip_below is not None:
            if line.strip() and indent > skip_below:
                continue
            skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = indent
            continue
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        if name in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        elif _PYTHON_NODE.search(name):
            python_nodes += 1
    return exchanges, python_nodes


class LayerProbe:
    """Per-pass layer totals of a traced pass.

    ``Bench.execute`` calls ``begin_build``, ``end_build`` and
    ``end_action`` around each query; ``out_dir`` is where a writing
    workload's sink puts each query's output, or None.
    """

    # The metrics that must repeat exactly from run to run.
    COUNTS = (
        "queries.build_jobs", "queries.action_jobs", "spark.stages_executed",
        "spark.stages_skipped", "spark.tasks", "plan.exchanges",
        "plan.python_nodes", "spark.materialized_rdds",
    )
    UNITS = {
        "queries.build_s": "s", "queries.build_jobs": "count",
        "queries.action_s": "s", "queries.action_jobs": "count",
        "spark.stages_executed": "count", "spark.stages_skipped": "count",
        "spark.tasks": "count", "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
        "spark.util": "ratio", "spark.jvm_gc_s": "s",
        "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes", "spark.materialized_rdds": "count",
        "spark.materialized_bytes": "bytes", "plan.exchanges": "count",
        "plan.python_nodes": "count", "sources.sinks.write_s": "s",
        "sources.sinks.files_written": "count", "sources.sinks.bytes_written": "bytes",
        **{
            f"{label}.{kind}": unit
            for label in SPAN_MODULES if label != "sources.sinks"
            for kind, unit in (("self_s", "s"), ("calls", "count"))
        },
    }

    def __init__(self, spark, spans: Spans, out_dir: str | None):
        self.spans = spans
        self.out_dir = out_dir
        self.phases = PhaseProbe(spark)
        self.reset()

    def reset(self) -> None:
        self.acc = defaultdict(float)
        self.first_span = len(self.spans.records)
        self._t = 0.0

    def _add_stage_metrics(self, m: dict) -> None:
        for k in ("stages_executed", "stages_skipped", "tasks") + self.phases.STAGE_FIELDS:
            self.acc[f"spark.{k}"] += m[k]

    def begin_build(self, name: str) -> None:
        self.spans.tag = name
        self.phases.new_plans()
        self.phases.begin(f"perfbench:{name}:build")
        self._t = time.perf_counter()

    def end_build(self, name: str, new_rdds: set[int]) -> None:
        self.acc["queries.build_s"] += time.perf_counter() - self._t
        m = self.phases.end(f"perfbench:{name}:build")
        self.acc["queries.build_jobs"] += m["jobs"]
        self._add_stage_metrics(m)
        self.acc["spark.materialized_rdds"] += len(new_rdds)
        self.phases.new_plans()  # the build's own executions are not the final plan
        self.phases.begin(f"perfbench:{name}:action")
        self._t = time.perf_counter()

    def end_action(self, name: str, held: set[int]) -> None:
        self.acc["queries.action_s"] += time.perf_counter() - self._t
        m = self.phases.end(f"perfbench:{name}:action")
        self.acc["queries.action_jobs"] += m["jobs"]
        self._add_stage_metrics(m)
        self.acc["spark.materialized_bytes"] += self.phases.stored_bytes(held)
        for plan in self.phases.new_plans():
            exchanges, python_nodes = plan_counts(plan)
            self.acc["plan.exchanges"] += exchanges
            self.acc["plan.python_nodes"] += python_nodes
        if self.out_dir is not None:
            path = os.path.join(self.out_dir, name)
            for f in os.listdir(path):
                if not f.startswith((".", "_")):
                    self.acc["sources.sinks.files_written"] += 1
                    self.acc["sources.sinks.bytes_written"] += os.path.getsize(
                        os.path.join(path, f)
                    )
        self.spans.tag = ""

    def finish(self, pass_s: float, cores: int) -> dict[str, float]:
        out = {k: self.acc.get(k, 0.0) for k in self.UNITS}
        out["spark.util"] = out["spark.exec_run_s"] / (pass_s * cores) if pass_s else 0.0
        out["sources.sinks.write_s"] = self.spans.total_s(self.first_span, "sources.sinks")
        for label, s in self.spans.summarize(self.first_span).items():
            if label != "sources.sinks":
                out[f"{label}.self_s"] = s["self_s"]
                out[f"{label}.calls"] = s["calls"]
        out["pass_s"] = pass_s
        return out
