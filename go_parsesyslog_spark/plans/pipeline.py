"""End-to-end parse → enrich → route → aggregate pipeline.

The Spark re-expression of the reference's whole purpose (SURVEY.md §2
Table B): one declarative DAG per batch of work units —

    scan(batch files)                      # columnar, pruned
      → parse_logs        (one narrow projection: native JVM parse,
                           Arrow-batched exact UDF for the rest)
      → enrich            (literal-map lookups — no join)
      → with_route_columns(conv bucket + DLQ sink assignment)
      → ONE fan-out partitioned write      (the only full shuffle)

then, once per run, ONE windowed metrics aggregation over every
committed batch's sink (column-pruned readback).

Work units are groups of input files: the unit is the resume granule
(plans/lineage.py).  The pending units run in batches, one after
another; a batch is the units a run keeps in flight: consecutive
pending units while their input bytes fit in one scan wave
(``spark.sql.files.maxPartitionBytes`` × ``defaultParallelism``), and
at least one unit.  Its input is scanned exactly once by ONE write job
into ONE commit directory, with scan through route ONE narrow stage
feeding the fan-out shuffle.  A batch commits all-or-nothing, so a sink
file holds a cell's rows of a whole batch: files per run are batches ×
cells, not units × cells, and an input under one wave is one batch.

Scale design notes (100 TB / 1000 executors):
* no pass over the input precedes the units: hot-conversation skew is
  handled by the write's rebalance (below), from measured sizes, so
  every sink row has ``salt = 0``;
* the scan wave bounds the blast radius of a failure — a killed run
  loses at most the in-flight batch: one scan wave of input, or one
  unit if a unit is larger; each marker rename is atomic, and a batch
  counts only once all its markers are in;
* the fan-out shuffle is a rebalance keyed (sink_sev, sink_key) with no
  width of its own: it starts at ``spark.sql.shuffle.partitions``, and
  AQE coalesces small reduce partitions and splits one larger than
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` from the measured
  map output, so a hot cell spreads over several writer tasks with no
  size estimate up front;
* metrics and the summary's row counts come from one aggregation over
  the committed sinks, run after the batches (metric rows are
  O(sinks × windows), thousands of times smaller than the data).  A
  conversation's distinct-count estimate therefore covers every unit,
  and a resumed run re-aggregates all committed units.
"""

from __future__ import annotations

import glob
import os
import time
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_parsesyslog_spark.operators.aggregate import sink_metrics
from go_parsesyslog_spark.operators.enrich import enrich
from go_parsesyslog_spark.operators.parse import parse_logs
from go_parsesyslog_spark.operators.route import with_route_columns
from go_parsesyslog_spark.plans import lineage
from go_parsesyslog_spark.sources.tableformat import (
    parquet_footer_schema,
    read_table,
    sink_format,
    write_partitioned,
)
from go_parsesyslog_spark.sources.transcripts import REF_NOW


def plan_units(input_path: str, n_units: int) -> list[tuple[str, list[str]]]:
    """Round-robin the input parquet files into resume units.  An input
    with no top-level ``*.parquet`` file raises: zero units would
    otherwise read as a complete run of zero rows."""
    files = sorted(
        os.path.join(input_path, f)
        for f in os.listdir(input_path)
        if f.endswith(".parquet")
    )
    if not files:
        raise ValueError(f"no *.parquet file directly under {input_path!r}")
    n_units = max(1, min(n_units, len(files)))
    units = []
    for u in range(n_units):
        members = files[u::n_units]
        if members:
            units.append((f"{u:04d}", members))
    return units


def plan_batches(
    pending: list[tuple[str, list[str]]],
    file_bytes: dict[str, int],
    wave_bytes: int,
) -> list[list[tuple[str, list[str]]]]:
    """Group the pending units, in order and never split, into batches:
    each takes consecutive units while their files' bytes stay within
    ``wave_bytes``, and at least one unit, so a unit larger than a wave
    is a batch of its own."""
    batches: list[list[tuple[str, list[str]]]] = []
    held = 0
    for unit in pending:
        size = sum(file_bytes[f] for f in unit[1])
        if not batches or held + size > wave_bytes:
            batches.append([])
            held = 0
        batches[-1].append(unit)
        held += size
    return batches


def _write_pandas_parquet(pdf: pd.DataFrame, out_dir: str) -> None:
    """Write ``part-00000.parquet`` atomically: a temporary name in the
    same directory (dot-prefixed, so readers skip it), then a rename, so
    a killed write never leaves a truncated file that looks finished."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64[ns"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    final = os.path.join(out_dir, "part-00000.parquet")
    tmp = os.path.join(out_dir, ".part-00000.parquet.tmp")
    try:
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def sink_frame(
    spark: SparkSession,
    files: list[str],
    fmt: str,
    ref_now,
    n_buckets: int,
) -> DataFrame:
    """The fan-out write's input over ``files``: scan → parse → enrich →
    route, rebalanced on the sink cell.  The scan takes its schema from
    the first file's footer, so building the frame runs no Spark job."""
    df = spark.read.schema(parquet_footer_schema(files[0])).parquet(*files)
    parsed = parse_logs(df, text_col="text", fmt=fmt, ref_now=ref_now)
    enriched = enrich(parsed, spark)
    routed = with_route_columns(enriched, n_buckets=n_buckets)
    # Keep the raw wire text only for DLQ rows (replay/debug); nulling it
    # for parsed rows halves the sink write volume — the parsed columns
    # carry everything (per-turn text equality is on `message`).
    final = routed.withColumn(
        "text", F.when(F.col("err_code").isNotNull(), F.col("text"))
    )
    # The shuffle key decides how many writer tasks (= output files) a
    # (sink_sev, sink_key) cell spans: one, unless AQE sees a reduce
    # partition above spark.sql.adaptive.advisoryPartitionSizeInBytes
    # in the measured map output and splits it
    # (optimizeSkewsInRebalancePartitions), which is how a hot
    # conversation's cell gets several writers.  The split works on
    # whole reduce partitions, so the cold cells hashed into the same
    # partition are split with it; a smaller advisory size trades more
    # files for less skew.
    return final.hint("rebalance", "sink_sev", "sink_key")


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    fmt: str = "auto",
    ref_now: pd.Timestamp | None = None,
    n_buckets: int = 16,
    salt_buckets: int = 8,
    n_units: int = 4,
    resume: bool = True,
    max_units: int | None = None,
) -> dict:
    """Run (or resume) the full pipeline.  Returns a summary dict.

    The pending units run in batches, one batch after another: each
    takes consecutive units while their input bytes fit in one scan
    wave, ``spark.sql.files.maxPartitionBytes`` × ``defaultParallelism``
    of the session, and at least one unit (``plan_batches``).  Each
    batch is one write job into ``sinks/batch=<first unit id>/`` and
    commits all-or-nothing (plans/lineage.py), so a kill loses at most
    one scan wave of input, or one unit if a unit is larger;
    ``units_run`` and ``units_skipped`` still list unit ids.

    ``max_units`` limits how many *pending* units are processed this
    call — used by tests to simulate a killed run.  A resume whose unit
    plan differs from the committed markers' (other input files or
    ``n_units``) raises ``ValueError``: skipping a unit id that now
    names other files would drop or double-count rows.  A resume first
    deletes what an uncommitted batch left behind.

    ``salt_buckets`` is accepted and ignored: the pipeline computes no
    hot set, so every sink row has ``salt = 0`` (the write's AQE
    rebalance splits hot cells).  It stays because
    ``perfbench/run.py`` passes it.
    """
    ref_now = ref_now if ref_now is not None else REF_NOW
    t0 = time.time()
    units = plan_units(input_path, n_units)
    done = lineage.completed_units(out_root) if resume else {}
    planned = dict(units)
    for uid, rec in sorted(done.items()):
        if _realpaths(rec["files"]) != _realpaths(planned.get(uid, [])):
            raise ValueError(
                f"unit {uid} was committed with other input files than "
                "this run plans for it (changed input or n_units); "
                "rerun with resume=False"
            )
    if resume:
        lineage.clean_uncommitted(out_root)
    elif os.path.isdir(out_root):
        import shutil

        shutil.rmtree(out_root)

    pending = [(uid, files) for uid, files in units if uid not in done]
    skipped = [uid for uid, _ in units if uid in done]
    if max_units is not None:
        pending = pending[:max_units]

    # A batch is the units in flight: one write job, one file per sink
    # cell, over as many units as one scan wave of input holds.
    wave_bytes = (
        spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        .filesMaxPartitionBytes() * spark.sparkContext.defaultParallelism
    )
    file_bytes = {f: os.path.getsize(f) for _, files in pending for f in files}
    for batch in plan_batches(pending, file_bytes, wave_bytes):
        name = f"batch={batch[0][0]}"
        tb = time.time()
        # The only pass over the batch's input.  Iceberg when the
        # runtime jar is present, partitioned parquet otherwise (probe +
        # logged fallback — sources/tableformat.py).
        write_partitioned(
            sink_frame(spark, [f for _, files in batch for f in files],
                       fmt, ref_now, n_buckets),
            lineage.batch_dir(out_root, name),
            ["sink_sev", "sink_key"],
        )
        wall_s = round(time.time() - tb, 3)
        for uid, files in batch:
            lineage.record_unit(out_root, {
                "unit_id": uid,
                "files": files,
                "wall_s": wall_s,
                "batch": name,
                "batch_units": [u for u, _ in batch],
            })

    # ONE aggregation over every committed sink gives both the metrics
    # table and the summary's row counts.  Only committed batches are
    # read.  Sorted by cell so the metrics file is deterministic.
    committed = lineage.completed_units(out_root)
    rows_valid = rows_dlq = 0
    if committed:
        mpdf = sink_metrics(
            _read_sinks(spark, out_root, committed)
        ).toPandas().sort_values(
            ["sink_id", "sink_sev", "sink_key", "severity_class",
             "window_start"],
            ignore_index=True,
        )
        is_dlq = mpdf["sink_sev"] == "dlq"
        rows_valid = int(mpdf.loc[~is_dlq, "turn_count"].sum())
        rows_dlq = int(mpdf.loc[is_dlq, "turn_count"].sum())
        if len(committed) == len(units):
            _write_pandas_parquet(mpdf, os.path.join(out_root, "metrics"))

    return {
        "units_total": len(units),
        "units_run": sorted(uid for uid, _ in pending),
        "units_skipped": sorted(skipped),
        "complete": len(committed) == len(units),
        "rows_valid": rows_valid,
        "rows_dlq": rows_dlq,
        "wall_s": round(time.time() - t0, 3),
    }


def _realpaths(files: list[str]) -> list[str]:
    return sorted(os.path.realpath(f) for f in files)


def _read_sinks(spark: SparkSession, out_root: str, committed) -> DataFrame:
    """The sink rows of the committed units' batch directories.  The
    parquet read takes its schema from one sink file's footer plus the
    partition columns as strings, so it runs no inference job and a
    ``sink_key`` or ``batch`` of digits stays a string."""
    paths = [lineage.batch_dir(out_root, b)
             for b in sorted({rec["batch"] for rec in committed.values()})]
    if sink_format(spark) == "parquet":
        schema = parquet_footer_schema(min(
            f for p in paths
            for f in glob.glob(os.path.join(
                p, "sink_sev=*", "sink_key=*", "*.parquet"))))
        for c in ("batch", "sink_sev", "sink_key"):
            schema = schema.add(c, "string")
        return spark.read.schema(schema).option(
            "basePath", os.path.join(out_root, "sinks")).parquet(*paths)
    # Iceberg path-based tables are one table per batch — union them.
    return reduce(
        DataFrame.unionByName, [read_table(spark, p) for p in paths]
    )


def read_routed(spark: SparkSession, out_root: str) -> DataFrame:
    """All committed routed (non-dlq) rows."""
    committed = lineage.completed_units(out_root)
    return _read_sinks(spark, out_root, committed).filter(
        F.col("sink_sev") != "dlq"
    )


def read_dlq(spark: SparkSession, out_root: str) -> DataFrame:
    """All committed dead-letter rows."""
    committed = lineage.completed_units(out_root)
    return _read_sinks(spark, out_root, committed).filter(
        F.col("sink_sev") == "dlq"
    )
