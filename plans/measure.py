#!/usr/bin/env python
"""A/B measurement harness: time named queries at sf0.1 the way
bench.py does (bench.warm_session first, count() or --noop, min-of-N,
bench.sweep_checkpoints + GC between reps) and optionally dump
.explain("formatted") to
<out>/<q>_<tag>.txt.  The output directory's name (e.g. ``r14``) labels
the Spark app and the job group of every timed rep.  Each query line
also prints ``jobs=N``: the Spark jobs one rep launches, plan-build
barriers (checkpoints, driver collects) and the final action together
(``a/b`` when reps differ).

Usage: python plans/measure.py --out plans/r16 [--reps N] [--explain TAG] q1 q2 ...
       python plans/measure.py --out plans/r14 --explain before dedup_lsh_quality_audit
"""
from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, REPO)

from bench import sweep_checkpoints, warm_session  # noqa: E402
from ingest_pipeline_spark.queries import queries  # noqa: E402
from ingest_pipeline_spark.session import get_spark  # noqa: E402


def _next_job_id(sc) -> int:
    """Spark's next job id.  The jobs a rep launches are the ids it
    allocates: its job group would miss jobs a query starts from its
    own driver threads (groups are thread-local), and only one query
    runs at a time."""
    return sc._jsc.sc().dagScheduler().nextJobId()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", required=True,
                    help="plan-dump directory; its name tags the run")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dump plan with tag")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--noop", action="store_true",
                    help="time the noop sink instead of count()")
    args = ap.parse_args()

    tag = os.path.basename(os.path.normpath(args.out))
    spark = get_spark(f"{tag}-measure")
    sc = spark.sparkContext
    fns = queries()
    warm_session(spark, fns, args.sf)
    sweep_checkpoints(spark)
    for name in args.names:
        if name not in fns:
            print(f"!! unknown query {name}")
            continue
        if args.explain:
            df = fns[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            os.makedirs(args.out, exist_ok=True)
            out = os.path.join(args.out, f"{name}_{args.explain}.txt")
            with open(out, "w") as f:
                f.write(plan)
            print(f"plan -> {out} ({len(plan)} chars)")
            sweep_checkpoints(spark)
        times, jobs, group = [], set(), f"{tag}:{name}"
        if args.reps <= 0:
            continue
        for _ in range(args.reps):
            sc.setJobGroup(group, group)
            first = _next_job_id(sc)
            t0 = time.perf_counter()
            df = fns[name](spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            times.append(time.perf_counter() - t0)
            sc._jsc.clearJobGroup()
            jobs.add(_next_job_id(sc) - first)
            sweep_checkpoints(spark)
            sc._jvm.System.gc()
        print("%-40s min=%.3f  jobs=%s  runs=%s" % (
            name, min(times), "/".join(map(str, sorted(jobs))),
            " ".join("%.3f" % t for t in times)))


if __name__ == "__main__":
    main()
