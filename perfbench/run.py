"""Benchmark of the parse → enrich → route → write → aggregate pipeline.

Run one workload with one seed from the repository root:

    python3 perfbench/run.py --workload mixed_batch --seed 7 --seconds 10 --trace 0

``--trace 0`` times closed-loop ``run_pipeline`` jobs with tracing off
and reports the end-to-end metrics; ``--trace 1`` runs the traced
layer ladder and reports the per-layer metrics.  Either way every
pipeline output is checked against a reference computed with the exact
Python parser, and the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  perfbench/README.md
describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The Go reference's parse cost (BASELINE.md), printed beside ours.
GO_NS_PER_OP = {"rfc3164": 490, "rfc5424": 1433}
WARM_ROWS = 4_000
# The first job is cold_s; wall_s is the median of the warm jobs after
# it, which run until --seconds have passed and at least once.  A warm
# job takes 13-17 s on 4 cores, longer than the declared 10 s, so a run
# has one; a faster program gets more within the same run length.
MIN_WARM_JOBS = 1
# Seeds whose input and reference stay cached (~5 MB each): ten seeds of
# each workload, so re-running a seed sequence skips generation and the
# reference parse.
KEEP_INPUTS = 24
PROBE_ROWS = 400_000


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _setup_env() -> None:
    """Keep every scratch file Spark and the pipeline write inside the
    work directory."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file in the host's /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(extra: dict | None = None):
    from go_parsesyslog_spark.session import get_spark

    n = _cores()
    # SparkSession.builder keeps its options across sessions in one
    # process, so the event log is switched off explicitly unless asked
    conf = {
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata file in the host's /tmp
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        **(extra or {}),
    }
    return get_spark(app_name="perfbench", master=f"local[{n}]",
                     shuffle_partitions=n, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the active session and the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_job(spark, inp: str, out: str) -> dict:
    from go_parsesyslog_spark.plans.pipeline import run_pipeline
    from perfbench.inputs import N_BUCKETS, N_UNITS, SALT_BUCKETS

    return run_pipeline(spark, inp, out, n_units=N_UNITS,
                        n_buckets=N_BUCKETS, salt_buckets=SALT_BUCKETS,
                        resume=False)


def warmup(spark, warm_input: str) -> None:
    """Parse a small input of the same workload: forks the Python UDF
    workers for the fallback branch and compiles the parse plan."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    parse_logs(spark.read.parquet(warm_input)).write.format("noop").mode(
        "overwrite").save()


class Job:
    """One timed pipeline job and the outputs needed to check it."""

    def __init__(self, spark, inp: str, out: str):
        from go_parsesyslog_spark.plans import lineage
        from perfbench import procstat
        from perfbench.inputs import metrics_cells, parquet_files_bytes

        self.error = None
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            self.summary = run_job(spark, inp, out)
        except Exception:  # a failed job is counted, the loop goes on
            self.error = traceback.format_exc()
            traceback.print_exc()
        self.wall_s = time.perf_counter() - t0
        self.end = time.time()
        self.cpu_s = procstat.tree_cpu_s() - cpu0
        if self.error is None:
            self.cells = metrics_cells(out)
            self.units = lineage.completed_units(out)
            self.files, self.bytes = parquet_files_bytes(
                os.path.join(out, "sinks"))
            self.marker_mtimes = [
                os.path.getmtime(os.path.join(out, "_lineage", f"{u}.json"))
                for u in self.units
            ]

    def problems(self, ref: dict, rows: int) -> list[str]:
        from perfbench.inputs import diff_cells

        if self.error is not None:
            return [self.error.strip().splitlines()[-1]]
        out = []
        s = self.summary
        if not s["complete"]:
            out.append(f"incomplete run: {s}")
        if s["rows_valid"] + s["rows_dlq"] != rows:
            out.append(f"rows {s['rows_valid']}+{s['rows_dlq']} != {rows}")
        return out + diff_cells(self.cells, ref)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Inputs:
    """The workload's seeded input, warm-up input and reference."""

    def __init__(self, workload: str, seed: int, rows: int | None):
        from perfbench.inputs import WORKLOADS, source_key, write_input

        self.w = WORKLOADS[workload]
        self.rows = rows or self.w.rows
        base = os.path.join(WORK, "inputs")
        key = source_key()
        self.dir = os.path.join(base,
                                f"{workload}-s{seed}-r{self.rows}-{key}")
        self.path = write_input(os.path.join(self.dir, "data"), self.w,
                                seed, self.rows)
        # a fixed seed far from any run seed: the warm-up never sees the
        # timed input
        self.warm = write_input(
            os.path.join(base, f"{workload}-warm-r{WARM_ROWS}-{key}",
                         "data"),
            self.w, 2**31 - 1, min(WARM_ROWS, self.rows))
        _prune_inputs(base, keep=self.dir)
        self._ref = None

    def reference(self, spark) -> dict:
        from perfbench.inputs import reference

        if self._ref is None:
            self._ref = reference(spark, self.path,
                                  os.path.join(self.dir, "reference.json"))
        return self._ref


def _prune_inputs(base: str, keep: str) -> None:
    """Bound the input cache to the newest few seeds; warm-up inputs of
    older program sources go too."""
    key = keep.rsplit("-", 1)[1]
    for d in os.listdir(base):
        if "-warm-" in d and not d.endswith(key):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    dirs = [os.path.join(base, d) for d in os.listdir(base)
            if "-warm-" not in d]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def check_jobs(jobs: list[Job], inputs: Inputs, spark) -> int:
    ref = inputs.reference(spark)
    failed = 0
    for i, job in enumerate(jobs):
        bad = job.problems(ref, inputs.rows)
        if bad:
            failed += 1
            print(f"job {i} WRONG: " + "; ".join(bad), file=sys.stderr)
    return failed


def run_untraced(inputs: Inputs, seconds: float) -> tuple[dict, int, int]:
    """Set-up in a fresh JVM, one cold job, then warm jobs; the
    end-to-end metrics."""
    from perfbench import procstat
    from perfbench.inputs import dlq_histogram

    out_root = os.path.join(WORK, "out", str(os.getpid()))
    t0 = time.perf_counter()
    spark = start_session()
    warmup(spark, inputs.warm)
    setup_s = time.perf_counter() - t0

    host = procstat.HostWindow()
    jobs = [Job(spark, inputs.path, os.path.join(out_root, "job0"))]
    t_warm = time.perf_counter()
    while (len(jobs) < 1 + MIN_WARM_JOBS
           or time.perf_counter() - t_warm < seconds):
        jobs.append(Job(spark, inputs.path,
                        os.path.join(out_root, f"job{len(jobs) % 2}")))
    noise = host.read()
    failed = check_jobs(jobs, inputs, spark)
    print(f"# dlq_rows_by_err_code="
          f"{dlq_histogram(inputs.reference(spark))}")
    shutdown_jvm()

    ok = [j for j in jobs if j.error is None]
    warm = [j for j in jobs[1:] if j.error is None]
    wall = _median([j.wall_s for j in warm])
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_s": (jobs[0].wall_s, "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (inputs.rows / wall, "1/s"),
        "cpu_s": (_median([j.cpu_s for j in warm]), "s"),
        "sink_files": (ok[-1].files if ok else 0, "count"),
        "sink_bytes": (ok[-1].bytes if ok else 0, "B"),
        "ok_frac": (1 - failed / len(jobs), "frac"),
    }
    print(f"# setup_s={setup_s:.3f} "
          f"jobs_s={[round(j.wall_s, 3) for j in jobs]} "
          f"warm_jobs={len(warm)} "
          f"host.steal_frac={noise['host.steal_frac']:.4f} "
          f"host.other_load={noise['host.other_load']:.3f}")
    return metrics, len(jobs), failed


# ---------------------------------------------------------------------------
# traced run: the layer ladder
# ---------------------------------------------------------------------------

RUNGS = ("scan", "parse", "enrich", "route", "write")

# unit of a per-layer metric, by the last part of its name
_UNIT_BY_SUFFIX = {
    "_s": "s", "bytes": "B", "_frac": "frac", "_core": "ns",
    "_skew": "ratio", "_load": "cores", "_mb": "MB",
}


def layer_unit(name: str) -> str:
    return next((u for k, u in _UNIT_BY_SUFFIX.items() if name.endswith(k)),
                "count")


class Ladder:
    """Cumulative prefixes of the pipeline's plan for one resume unit,
    built from the program's public operators and timed one rung at a
    time over the first unit's files."""

    def __init__(self, spark, inp: str, out_root: str):
        from go_parsesyslog_spark.plans.pipeline import plan_units
        from perfbench.inputs import N_UNITS

        self.spark = spark
        self.inp = inp
        self.out_root = out_root
        units = plan_units(inp, N_UNITS)
        self.n_units = len(units)
        self.files = units[0][1]
        # run_pipeline's units in flight and their fan-out width
        cores = spark.sparkContext.defaultParallelism
        self.unit_parallelism = min(self.n_units, max(2, cores // 2))
        self.n_shuffle = max(8, cores // self.unit_parallelism)
        self.hot = None

    def frame(self, rung: str):
        from go_parsesyslog_spark.operators.enrich import enrich
        from go_parsesyslog_spark.operators.parse import parse_logs
        from go_parsesyslog_spark.operators.route import with_route_columns
        from go_parsesyslog_spark.sources.transcripts import REF_NOW
        from perfbench.inputs import N_BUCKETS, SALT_BUCKETS, routed_columns

        df = self.spark.read.parquet(*self.files)
        if rung == "scan":
            return df
        df = parse_logs(df, text_col="text", fmt="auto", ref_now=REF_NOW)
        if rung == "parse":
            return df
        df = enrich(df, self.spark)
        if rung == "enrich":
            return df
        hot_df = (self.spark.read.parquet(self.hot["path"])
                  if self.hot.get("path") else None)
        return routed_columns(with_route_columns(
            df, n_buckets=N_BUCKETS, salt_buckets=SALT_BUCKETS,
            hot_ids=self.hot.get("ids"), hot_df=hot_df))

    def run(self, tracer, tag: str) -> None:
        from go_parsesyslog_spark.operators.aggregate import sink_metrics
        from go_parsesyslog_spark.operators.route import compute_hot_set
        from go_parsesyslog_spark.sources.tableformat import (
            read_table,
            write_partitioned,
        )

        out = os.path.join(self.out_root, f"ladder_{tag}")
        with tracer.span("ladder", phase=tag):
            # the job computes the hot set once, over every unit's files
            with tracer.span("route.hot_set", phase=tag):
                self.hot = compute_hot_set(
                    self.spark.read.parquet(self.inp).select("conv_id"),
                    spill_path=os.path.join(self.out_root, f"_hot_{tag}"),
                )
            for rung in RUNGS[:-1]:
                with tracer.span(rung, phase=tag):
                    self.frame(rung).write.format("noop").mode(
                        "overwrite").save()
            with tracer.span("write", phase=tag):
                write_partitioned(
                    self.frame("route").repartition(
                        self.n_shuffle, "sink_sev", "sink_key"),
                    out, ["sink_sev", "sink_key"])
            with tracer.span("aggregate", phase=tag):
                sink_metrics(read_table(self.spark, out)).toPandas()


def _self_times(tracer, tag: str) -> dict:
    """Self time per rung: a rung's duration minus the rung below it."""
    def dur(name):
        return tracer.find(name, tag)["dur_s"]

    out, prev = {}, 0.0
    for rung in RUNGS:
        out[rung] = dur(rung) - prev
        prev = dur(rung)
    out["aggregate"] = dur("aggregate")
    out["route.hot_set"] = dur("route.hot_set")
    return out


def parse_probes(spark, inp: str, tracer) -> dict:
    """Native-vs-fallback row counts, the fallback layer's time, and
    parse cost per row per core on this workload's own wire text."""
    from pyspark.sql import functions as F

    from go_parsesyslog_spark.operators import native_fast as nf
    from go_parsesyslog_spark.operators.parse import parse_logs

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    cores = spark.sparkContext.defaultParallelism
    texts = spark.read.parquet(inp).select("text")
    t = F.col("text")
    framed = F.coalesce(t.rlike(r"^[0-9]+ "), F.lit(False))
    native = F.coalesce(
        F.when(framed, nf.native_5424_mask(t)).otherwise(
            nf.native_3164_mask(t)), F.lit(False))
    agg = texts.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(native.cast("int")).alias("k")).collect()[0]
    out = {"parse.native_rows": int(agg["k"]),
           "parse.fallback_rows": int(agg["n"] - agg["k"])}
    out["parse.native_frac"] = out["parse.native_rows"] / max(1, agg["n"])

    fallback = texts.filter(~native).repartition(cores).cache()
    fallback.count()
    with tracer.span("parse.fallback") as sp:
        noop(parse_logs(fallback, engine="arrow"))
    out["parse.fallback_s"] = sp["dur_s"]
    fallback.unpersist()

    # Each format's natively parsable rows of the input, repeated to
    # ~PROBE_ROWS rows so the per-job fixed cost is small beside the
    # per-row work: the native parse cost, comparable with the Go
    # reference's per-message cost (the fallback is parse.fallback_s).
    # The parse plans are already compiled by the ladder.
    for fmt, cond in (("rfc3164", ~framed), ("rfc5424", framed)):
        rows = texts.filter(cond & native)
        n = rows.count()
        rep = max(1, -(-PROBE_ROWS // max(1, n)))
        big = (rows.withColumn("_r", F.explode(F.sequence(F.lit(1),
                                                          F.lit(rep))))
               .select("text").repartition(2 * cores).cache())
        total = big.count()
        with tracer.span(f"parse.{fmt}") as sp:
            noop(parse_logs(big, fmt=fmt))
        out[f"parse.{fmt}_ns_per_row_core"] = (
            sp["dur_s"] * cores / total * 1e9)
        big.unpersist()
    return out


def run_traced(inputs: Inputs, workload: str, seed: int) -> tuple[dict, int, int]:
    from perfbench import procstat
    from perfbench.inputs import parquet_files_bytes
    from perfbench.tracing import EventLog, Tracer, eventlog_conf

    out_root = os.path.join(WORK, "out", str(os.getpid()))
    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer = Tracer(f"{workload}-s{seed}")
    host = procstat.HostWindow()

    with tracer.span("setup"):
        with tracer.span("setup.jvm"):
            spark = start_session(eventlog_conf(log_dir))
        with tracer.span("setup.warmup"):
            warmup(spark, inputs.warm)
    ladder = Ladder(spark, inputs.path, out_root)
    ladder.run(tracer, "cold")
    ladder.run(tracer, "warm")
    with tracer.span("pipeline"), procstat.RssSampler() as rss:
        traced = Job(spark, inputs.path, os.path.join(out_root, "traced"))
    failed = check_jobs([traced], inputs, spark)
    spark.stop()  # finishes the event log
    elog = EventLog(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)

    # the same job untraced, for the tracing overhead, in a new session
    # of the same JVM: its warm-up re-forks the Python workers, and the
    # parse probes (timed by spans alone) run before the job
    t0 = time.perf_counter()
    spark = start_session()
    warmup(spark, inputs.warm)
    restart_s = time.perf_counter() - t0
    probes = parse_probes(spark, inputs.path, tracer)
    plain = Job(spark, inputs.path, os.path.join(out_root, "plain"))
    failed += check_jobs([plain], inputs, spark)
    shutdown_jvm()

    warm = _self_times(tracer, "warm")
    # The cold ladder pays a layer's first-run cost in the first rung
    # that runs the layer; the rung before it already ran every lower
    # layer once.  So a rung's whole cold-minus-warm difference is its
    # layer's first-run cost: the difference of cold and warm self times
    # would also subtract the cost of the layer below.
    cold_extra = {r: tracer.find(r, "cold")["dur_s"]
                  - tracer.find(r, "warm")["dur_s"]
                  for r in RUNGS + ("aggregate",)}
    win = {r: elog.window(tracer.find(r, "warm"))
           for r in RUNGS + ("aggregate",)}
    pipe = elog.window(tracer.find("pipeline"))
    cores = _cores()
    # One unit's rungs, scaled to the job's rounds of concurrent units,
    # plus the hot set the job computes once.
    unit_sum = sum(warm[r] for r in RUNGS) + warm["aggregate"]
    ladder_sum = (warm["route.hot_set"] + unit_sum * ladder.n_units
                  / ladder.unit_parallelism)
    unit_walls = [u["wall_s"] for u in traced.units.values()]

    m = {
        "scan.self_s": warm["scan"],
        "scan.bytes": sum(os.path.getsize(f) for f in ladder.files),
        "parse.self_s": warm["parse"],
        "parse.exchange_bytes": win["parse"]["shuffle_bytes"],
        **probes,
        "enrich.self_s": warm["enrich"],
        "route.hot_set_s": warm["route.hot_set"],
        "route.hot_count": ladder.hot["count"],
        "route.hot_spilled": int(ladder.hot.get("path") is not None),
        "route.self_s": warm["route"],
        "write.self_s": warm["write"],
        "write.shuffle_bytes": win["write"]["shuffle_bytes"]
        - win["route"]["shuffle_bytes"],
        "write.files": traced.files,
        "write.task_skew": win["write"]["last_stage_skew"],
        "aggregate.self_s": warm["aggregate"],
        "aggregate.scan_bytes": parquet_files_bytes(
            os.path.join(out_root, "ladder_warm"))[1],
        "pipeline.unit_wall_max_s": max(unit_walls),
        "pipeline.unit_skew": max(unit_walls) / _median(unit_walls),
        "pipeline.merge_s": traced.end - max(traced.marker_mtimes),
        "pipeline.jobs": pipe["jobs"],
        "pipeline.tasks": pipe["tasks"],
        "pipeline.idle_core_frac": max(
            0.0, 1 - pipe["task_s"] / (cores * traced.wall_s)),
        "pipeline.spill_bytes": pipe["spill_bytes"],
        "pipeline.gc_s": pipe["gc_s"],
        "pipeline.peak_rss_mb": rss.peak_mb,
        **{f"{r}.cold_extra_s": s for r, s in cold_extra.items()},
        "setup.jvm_s": tracer.find("setup.jvm")["dur_s"],
        "setup.warmup_s": tracer.find("setup.warmup")["dur_s"],
        "setup.restart_s": restart_s,
        "trace.ladder_frac": ladder_sum / traced.wall_s,
        "trace.overhead_frac": traced.wall_s / plain.wall_s - 1,
        **host.read(),
    }
    metrics = {name: (value, layer_unit(name)) for name, value in m.items()}

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    trace_path = os.path.join(WORK, "traces", f"{tracer.trace_id}.json")
    tracer.write(trace_path)
    print(f"# spans written to {os.path.relpath(trace_path, ROOT)}")
    for fmt, go in GO_NS_PER_OP.items():
        ours = m[f"parse.{fmt}_ns_per_row_core"]
        print(f"# parse.{fmt}_ns_per_row_core={ours:.0f} "
              f"(Go reference {go} ns/op, ratio {ours / go:.1f}x)")
    print(f"# ladder warm self_s="
          f"{ {k: round(v, 3) for k, v in warm.items()} } "
          f"units={ladder.n_units} in_flight={ladder.unit_parallelism} "
          f"ladder_sum={ladder_sum:.3f} traced_wall={traced.wall_s:.3f} "
          f"untraced_wall={plain.wall_s:.3f}")
    return metrics, 2, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's row count (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "go_parsesyslog_spark")):
        print(f"perfbench: no go_parsesyslog_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.inputs import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _setup_env()
    inputs = Inputs(args.workload, args.seed, args.rows)
    try:
        if args.trace:
            metrics, attempted, failed = run_traced(
                inputs, args.workload, args.seed)
        else:
            metrics, attempted, failed = run_untraced(inputs, args.seconds)
    finally:
        shutdown_jvm()
        shutil.rmtree(os.path.join(WORK, "out", str(os.getpid())),
                      ignore_errors=True)
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    # a metric left undefined by failed jobs reads 0, never NaN
    values = {k: (float(v) if math.isfinite(v) else 0.0, u)
              for k, (v, u) in metrics.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
