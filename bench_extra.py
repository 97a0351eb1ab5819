"""Extra benchmarking harness for the optimization rounds (bench.py is
FROZEN for driver measurement — guide §1.4 isolation lives here).

Runs any subset of the registered entry queries against
``$SPARK_GRAFT_SF_DIR`` with the same methodology as bench.py (one
untimed warm run, then a timed noop-sink run), labels each job
(``setJobDescription``) and can dump ``explain("formatted")`` plans.
``--build-jobs`` instead counts the Spark jobs each query runs while it
is built, before any action (schema inference, eager lineage cuts,
size probes): the build runs inside a job group and the status tracker
lists that group's jobs.

Usage::

    python bench_extra.py q1 q2 ...            # time selected queries
    python bench_extra.py --all                # time every query
    python bench_extra.py --plans plans/r06 --suffix before q1 q2
        # additionally write plans/r06/<q>_before.txt per query
    python bench_extra.py --explain-only --plans plans/r06 --suffix after --all
        # dump plans without timing (fast)
    python bench_extra.py --repeat 3 q1        # median-of-N timing
    python bench_extra.py --build-jobs q1 q2   # jobs run while building
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    opts = {"plans": None, "suffix": "before", "repeat": 1}
    names: list[str] = []
    run_all = False
    explain_only = False
    build_jobs = False
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--all":
            run_all = True
        elif a == "--explain-only":
            explain_only = True
        elif a == "--build-jobs":
            build_jobs = True
        elif a == "--plans":
            i += 1
            opts["plans"] = args[i]
        elif a == "--suffix":
            i += 1
            opts["suffix"] = args[i]
        elif a == "--repeat":
            i += 1
            opts["repeat"] = int(args[i])
        else:
            names.append(a)
        i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))

    import __spark_entry__ as entry_mod
    from go_parsesyslog_spark.session import get_spark

    spark = get_spark(
        app_name="gps_bench_extra", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )

    qs = entry_mod.queries()
    if run_all:
        names = list(qs.keys())
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if opts["plans"]:
        os.makedirs(opts["plans"], exist_ok=True)

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for name in names:
        fn = qs[name]
        if build_jobs:
            sc = spark.sparkContext
            sc.setJobGroup(f"build:{name}", f"build:{name}")
            fn(spark, sf_dir)
            sc._jsc.clearJobGroup()
            jobs[name] = len(
                sc.statusTracker().getJobIdsForGroup(f"build:{name}")
            )
            print(f"  {name}: {jobs[name]} build jobs", file=sys.stderr,
                  flush=True)
            continue
        if opts["plans"]:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            path = os.path.join(
                opts["plans"], f"{name}_{opts['suffix']}.txt"
            )
            with open(path, "w") as f:
                f.write(plan)
        if explain_only:
            continue
        spark.sparkContext.setJobDescription(f"warm:{name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        for r in range(opts["repeat"]):
            spark.sparkContext.setJobDescription(f"timed:{name}:{r}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        timings[name] = min(runs) if len(runs) > 1 else runs[0]
        print(f"  {name}: {timings[name]}  {runs if len(runs) > 1 else ''}",
              file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)

    try:
        for q in spark.streams.active:
            q.stop()
    except Exception:
        pass
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus,
                      **({"build_jobs": jobs} if build_jobs
                         else {"queries": timings})}))


if __name__ == "__main__":
    main()
