"""End-to-end pipeline correctness: routed-row equality, per-sink counts,
metrics merge, and kill/resume semantics (BASELINE.md graft targets)."""

import os

import pytest
from pyspark.sql import functions as F

from go_parsesyslog_spark.operators.enrich import enrich
from go_parsesyslog_spark.operators.parse import parse_logs
from go_parsesyslog_spark.operators.route import with_route_columns
from go_parsesyslog_spark.plans.pipeline import (
    read_dlq,
    read_routed,
    run_pipeline,
)
from go_parsesyslog_spark.sources.transcripts import (
    REF_NOW,
    write_transcripts_parquet,
)

N_ROWS = 4000


@pytest.fixture(scope="module")
def input_dir(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("transcripts"))
    write_transcripts_parquet(path, N_ROWS, seed=42, chunk_rows=1000)
    return path


@pytest.fixture(scope="module")
def pipeline_out(spark, input_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out"))
    summary = run_pipeline(
        spark, input_dir, out, n_units=4, n_buckets=8, resume=False
    )
    assert summary["complete"]
    return out, summary


def _oracle(spark, input_dir):
    """Independently recompute the expected routed rows (same parse
    operator — pinned separately by the corpus tests — but a fresh
    plan, straight from the input, bypassing the pipeline writes)."""
    df = spark.read.parquet(input_dir)
    parsed = parse_logs(df, fmt="auto", ref_now=REF_NOW)
    e = enrich(parsed, spark)
    r = with_route_columns(e, n_buckets=8)
    return r.withColumns(
        {
            "sink_sev": F.when(F.col("err_code").isNotNull(), F.lit("dlq"))
            .otherwise(F.col("severity_class")),
            "sink_key": F.when(F.col("err_code").isNotNull(), F.col("err_code"))
            .otherwise(F.col("conv_bucket").cast("string")),
        }
    )


KEY_COLS = ["conv_id", "turn_idx", "sink_sev", "sink_key", "salt",
            "message", "priority", "severity", "host", "app", "msg_length"]


def test_row_counts_conserved(spark, input_dir, pipeline_out):
    out, summary = pipeline_out
    assert summary["rows_valid"] + summary["rows_dlq"] == N_ROWS


def test_routed_row_equality(spark, input_dir, pipeline_out):
    """exceptAll in both directions empty (BASELINE.md)."""
    out, _ = pipeline_out
    got = spark.read.parquet(os.path.join(out, "sinks")).select(*KEY_COLS)
    exp = _oracle(spark, input_dir).select(*KEY_COLS)
    assert got.exceptAll(exp).isEmpty()
    assert exp.exceptAll(got).isEmpty()


def test_per_turn_text_equality(spark, input_dir, pipeline_out):
    """Parsed message equality per turn under stable (conv_id, turn_idx)
    ordering (input_hint invariant)."""
    out, _ = pipeline_out
    got = (
        read_routed(spark, out)
        .select("conv_id", "turn_idx", "message")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    exp = (
        _oracle(spark, input_dir)
        .filter(F.col("err_code").isNull())
        .select("conv_id", "turn_idx", "message")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert (g["conv_id"], g["turn_idx"], g["message"]) == (
            e["conv_id"], e["turn_idx"], e["message"]
        )


def test_per_sink_counts(spark, input_dir, pipeline_out):
    out, _ = pipeline_out
    got = {
        (r["sink_sev"], r["sink_key"]): r["count"]
        for r in spark.read.parquet(os.path.join(out, "sinks"))
        .groupBy("sink_sev", "sink_key").count().collect()
    }
    exp = {
        (r["sink_sev"], r["sink_key"]): r["count"]
        for r in _oracle(spark, input_dir)
        .groupBy("sink_sev", "sink_key").count().collect()
    }
    assert got == exp


def test_dlq_routing(spark, pipeline_out):
    """Invalid corpus lines land in the DLQ partitioned by err_code."""
    out, _ = pipeline_out
    dlq = read_dlq(spark, out)
    codes = {r["sink_key"] for r in dlq.select("sink_key").distinct().collect()}
    assert "invalid_prio" in codes
    assert "premature_eof" in codes
    assert dlq.filter(F.col("err_code") != F.col("sink_key")).isEmpty()


def test_merged_metrics_match_recount(spark, pipeline_out):
    out, _ = pipeline_out
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    total = metrics.agg(F.sum("turn_count")).collect()[0][0]
    assert total == N_ROWS  # metrics cover valid AND dlq sinks
    routed_rows = read_routed(spark, out).count()
    valid_total = metrics.filter(F.col("sink_sev") != "dlq").agg(
        F.sum("turn_count")
    ).collect()[0][0]
    assert valid_total == routed_rows
    per_sink_m = {
        r["sink_id"]: r["cnt"]
        for r in metrics.filter(F.col("sink_sev") != "dlq")
        .groupBy("sink_id")
        .agg(F.sum("turn_count").alias("cnt")).collect()
    }
    per_sink_r = {
        r["sink_id"]: r["count"]
        for r in read_routed(spark, out).groupBy("sink_id").count().collect()
    }
    assert per_sink_m == per_sink_r


def test_approx_convs_over_all_units(spark, input_dir, pipeline_out):
    """Every metrics cell's approx_convs is ONE distinct estimate over
    all units.  HLL registers merge order-independently, so it equals
    the estimate of a single aggregation over the whole input exactly —
    a merge of per-unit estimates undercounts every multi-unit cell."""
    out, _ = pipeline_out
    keys = ["sink_id", "sink_sev", "sink_key", "severity_class",
            "window_start"]
    got = spark.read.parquet(os.path.join(out, "metrics")).select(
        *keys[:-1],
        F.col("window_start").cast("timestamp").alias("window_start"),
        "approx_convs",
    )
    exp = (
        _oracle(spark, input_dir)
        .groupBy(*keys[:-1],
                 F.window("ts", "1 hour").start.alias("window_start"))
        .agg(F.approx_count_distinct("conv_id").alias("want"))
    )
    on = [got[k].eqNullSafe(exp[k]) for k in keys]
    cells = got.join(exp, on, "full_outer").select(
        "approx_convs", "want").collect()
    assert len(cells) == exp.count() > 1
    bad = [c for c in cells if c["approx_convs"] != c["want"]]
    assert not bad, f"{len(bad)} of {len(cells)} cells differ: {bad[:3]}"


def test_summary_ignores_uncommitted_unit_output(spark, input_dir,
                                                 tmp_path_factory):
    """A killed attempt can leave an uncommitted batch directory behind.
    The summary's row counts come from the committed batches' sinks
    only, also on a call that runs no unit, and that resume deletes the
    uncommitted directory."""
    import shutil

    out = str(tmp_path_factory.mktemp("uncommitted_out"))
    s1 = run_pipeline(spark, input_dir, out, n_units=4, n_buckets=8,
                      resume=True, max_units=2)
    assert s1["units_run"] == ["0000", "0001"] and not s1["complete"]
    sinks = os.path.join(out, "sinks")
    assert sorted(os.listdir(sinks)) == ["batch=0000"]
    planted = os.path.join(sinks, "batch=0003")
    shutil.copytree(os.path.join(sinks, "batch=0000"), planted)
    s2 = run_pipeline(spark, input_dir, out, n_units=4, n_buckets=8,
                      resume=True, max_units=0)
    assert s2["units_run"] == [] and not s2["complete"]
    assert not os.path.exists(planted)
    assert (s2["rows_valid"], s2["rows_dlq"]) == (
        s1["rows_valid"], s1["rows_dlq"])
    batch = spark.read.parquet(os.path.join(sinks, "batch=0000"))
    valid = batch.filter(F.col("sink_sev") != "dlq").count()
    dlq = batch.filter(F.col("sink_sev") == "dlq").count()
    assert (s2["rows_valid"], s2["rows_dlq"]) == (valid, dlq)
    assert 0 < valid + dlq < N_ROWS


def test_partial_batch_markers_resume_exactly(spark, input_dir, pipeline_out,
                                              tmp_path_factory, monkeypatch):
    """A batch commits all-or-nothing: a run killed after the first of
    its two unit markers leaves no committed unit, and the resume
    matches an uninterrupted run — same sink rows, same metrics, no
    duplicate turn."""
    import pandas as pd

    from go_parsesyslog_spark.plans import lineage

    out = str(tmp_path_factory.mktemp("partial_markers_out"))
    record_unit = lineage.record_unit
    written = []

    def killed_after_first(out_root, record):
        if written:
            raise RuntimeError("killed between markers")
        record_unit(out_root, record)
        written.append(record["unit_id"])

    monkeypatch.setattr(lineage, "record_unit", killed_after_first)
    with pytest.raises(RuntimeError, match="killed between markers"):
        run_pipeline(spark, input_dir, out, n_units=4, n_buckets=8,
                     resume=True, max_units=2)
    monkeypatch.undo()
    assert written == ["0000"]
    assert os.path.exists(lineage.marker_path(out, "0000"))
    assert lineage.completed_units(out) == {}

    s = run_pipeline(spark, input_dir, out, n_units=4, n_buckets=8,
                     resume=True)
    assert s["units_skipped"] == [] and s["complete"]
    assert s["units_run"] == ["0000", "0001", "0002", "0003"]
    want_out, want = pipeline_out
    assert (s["rows_valid"], s["rows_dlq"]) == (
        want["rows_valid"], want["rows_dlq"])
    got_rows = spark.read.parquet(os.path.join(out, "sinks")).select(*KEY_COLS)
    want_rows = spark.read.parquet(
        os.path.join(want_out, "sinks")).select(*KEY_COLS)
    assert got_rows.exceptAll(want_rows).isEmpty()
    assert want_rows.exceptAll(got_rows).isEmpty()
    assert got_rows.select("conv_id", "turn_idx").distinct().count() == N_ROWS
    pd.testing.assert_frame_equal(
        pd.read_parquet(os.path.join(out, "metrics")),
        pd.read_parquet(os.path.join(want_out, "metrics")),
    )


BATCH_PROBE = """
import glob, json, os, sys
sys.path.insert(0, {root!r})
from go_parsesyslog_spark.plans import lineage
from go_parsesyslog_spark.plans.pipeline import run_pipeline
from go_parsesyslog_spark.session import get_spark
spark = get_spark(master="local[4]",
                  extra_conf={{"spark.driver.memory": "1g",
                               "spark.ui.showConsoleProgress": "false"}})
for name, max_partition_bytes in {runs!r}:
    if max_partition_bytes is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(max_partition_bytes))
    out = os.path.join({out!r}, name)
    summary = run_pipeline(spark, {inp!r}, out, n_units=4, n_buckets=8,
                           resume=False)
    batches = {{}}
    for uid, rec in lineage.completed_units(out).items():
        batches.setdefault(rec["batch"], rec["batch_units"])
    sinks = os.path.join(out, "sinks")
    print("PROBE " + json.dumps({{
        "name": name,
        "out": out,
        "summary": summary,
        "batches": batches,
        "cells": {{b: len(glob.glob(os.path.join(sinks, b, "sink_sev=*",
                                                "sink_key=*")))
                  for b in batches}},
        "files": len(glob.glob(os.path.join(sinks, "*", "sink_sev=*",
                                            "sink_key=*", "*.parquet"))),
    }}))
spark.stop()
"""


@pytest.fixture(scope="module")
def four_core_runs(input_dir, tmp_path_factory):
    """Two runs in their own local[4] driver process: one at Spark's
    default conf, one with ``spark.sql.files.maxPartitionBytes`` at
    half the input bytes / 4, so a scan wave (that × 4 cores) holds
    about half the input."""
    import json
    import subprocess
    import sys

    tmp = tmp_path_factory.mktemp("four_cores")
    input_bytes = sum(os.path.getsize(os.path.join(input_dir, f))
                      for f in os.listdir(input_dir) if f.endswith(".parquet"))
    runs = [("default", None), ("half_wave", input_bytes // 2 // 4)]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp / "probe.py"
    script.write_text(BATCH_PROBE.format(
        root=root, inp=input_dir, out=str(tmp / "out"), runs=runs))
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    run = subprocess.run([sys.executable, str(script)], cwd=tmp, env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-4000:]
    got = [json.loads(l[len("PROBE "):]) for l in run.stdout.splitlines()
           if l.startswith("PROBE ")]
    return {g["name"]: g for g in got}


def test_one_batch_under_one_scan_wave(four_core_runs):
    """At Spark's default conf the 4,000-row input is far under one scan
    wave (128 MB × 4 cores), so its 4 units run as ONE write job, and
    that batch writes one file per sink cell."""
    got = four_core_runs["default"]
    assert got["summary"]["complete"]
    assert got["summary"]["rows_valid"] + got["summary"]["rows_dlq"] == N_ROWS
    assert got["batches"] == {"batch=0000": ["0000", "0001", "0002", "0003"]}
    assert got["files"] == sum(got["cells"].values()) > 0


def test_batches_split_at_a_smaller_scan_wave(spark, four_core_runs):
    """With a scan wave of about half the input, the same run writes at
    least 2 batches, each of whole units in order, and its sink rows and
    metrics equal the one-batch run's."""
    import pandas as pd

    one, split = four_core_runs["default"], four_core_runs["half_wave"]
    assert split["summary"]["complete"]
    assert len(split["batches"]) >= 2
    assert [u for b in sorted(split["batches"])
            for u in split["batches"][b]] == ["0000", "0001", "0002", "0003"]
    assert split["files"] == sum(split["cells"].values())
    rows = [spark.read.parquet(os.path.join(g["out"], "sinks"))
            .select(*KEY_COLS) for g in (one, split)]
    assert rows[0].exceptAll(rows[1]).isEmpty()
    assert rows[1].exceptAll(rows[0]).isEmpty()
    pd.testing.assert_frame_equal(
        pd.read_parquet(os.path.join(split["out"], "metrics")),
        pd.read_parquet(os.path.join(one["out"], "metrics")),
    )


def _units(*sizes):
    """Units ``u0, u1, …`` with one file each, of the given byte sizes."""
    units = [(f"u{i}", [f"f{i}"]) for i in range(len(sizes))]
    return units, {f"f{i}": n for i, n in enumerate(sizes)}


def test_plan_batches_keeps_order_and_whole_units():
    from go_parsesyslog_spark.plans.pipeline import plan_batches

    units = [("a", ["a1", "a2"]), ("b", ["b1"]), ("c", ["c1", "c2"])]
    sizes = {"a1": 3, "a2": 3, "b1": 4, "c1": 2, "c2": 2}
    assert plan_batches(units, sizes, 10) == [units[:2], units[2:]]
    assert plan_batches(units, sizes, 100) == [units]


def test_plan_batches_unit_larger_than_a_wave_goes_alone():
    from go_parsesyslog_spark.plans.pipeline import plan_batches

    units, sizes = _units(2, 50, 2, 2)
    assert plan_batches(units, sizes, 10) == [
        units[:1], units[1:2], units[2:]]
    units, sizes = _units(50)
    assert plan_batches(units, sizes, 10) == [units]


def test_plan_batches_exact_fit_boundary():
    from go_parsesyslog_spark.plans.pipeline import plan_batches

    units, sizes = _units(4, 6, 1)
    assert plan_batches(units, sizes, 10) == [units[:2], units[2:]]
    assert plan_batches(units, sizes, 9) == [units[:1], units[1:]]


def test_plan_batches_nothing_pending():
    from go_parsesyslog_spark.plans.pipeline import plan_batches

    assert plan_batches([], {}, 10) == []


def test_footer_schemas_match_spark_inference(spark, input_dir,
                                              pipeline_out):
    """The batch read and the sink read-back take their schemas from
    parquet footers.  Column names, types and nullability equal what
    Spark infers for the same files (timestamps included: the input's
    ``ts`` is TIMESTAMP_NTZ, the sink's ``msg_ts`` a Spark TIMESTAMP),
    except ``batch``, which stays a string where inference makes
    ``0000`` an int."""
    from go_parsesyslog_spark.plans import lineage
    from go_parsesyslog_spark.plans.pipeline import _read_sinks
    from go_parsesyslog_spark.sources.tableformat import parquet_footer_schema

    files = sorted(os.path.join(input_dir, f) for f in os.listdir(input_dir)
                   if f.endswith(".parquet"))
    got = spark.read.schema(parquet_footer_schema(files[0])).parquet(*files)
    assert got.schema == spark.read.parquet(*files).schema

    out, _ = pipeline_out
    committed = lineage.completed_units(out)
    got = _read_sinks(spark, out, committed).schema
    want = spark.read.option("basePath", os.path.join(out, "sinks")).parquet(
        *sorted({lineage.batch_dir(out, r["batch"])
                 for r in committed.values()})).schema
    assert got.names == want.names
    for g, w in zip(got.fields, want.fields):
        if g.name == "batch":
            assert (g.dataType.simpleString(), w.dataType.simpleString()) == (
                "string", "int")
        else:
            assert g == w, (g, w)


def test_pipeline_reads_are_built_without_jobs(spark, input_dir,
                                               pipeline_out):
    """Building a batch's write input and the sink read-back runs no
    Spark job: no schema inference.  Counted with a job group and the
    status tracker."""
    from go_parsesyslog_spark.plans import lineage
    from go_parsesyslog_spark.plans.pipeline import _read_sinks, sink_frame

    files = sorted(os.path.join(input_dir, f) for f in os.listdir(input_dir)
                   if f.endswith(".parquet"))
    out, _ = pipeline_out
    sc = spark.sparkContext
    group = "pipeline_reads_build"
    sc.setJobGroup(group, group)
    try:
        sink_frame(spark, files, "auto", REF_NOW, 8)
        _read_sinks(spark, out, lineage.completed_units(out))
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_all_valid_input_keeps_string_sink_keys(spark, tmp_path_factory):
    """An input with no DLQ row has only digit sink keys (conv buckets)
    and the batch directory ``batch=0000``: both stay strings in the
    metrics file and in the read-back, as on an input with DLQ rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    inp = str(tmp_path_factory.mktemp("all_valid_in"))
    write_transcripts_parquet(inp, 1000, seed=7, chunk_rows=500,
                              corpus_frac=0.0)
    out = str(tmp_path_factory.mktemp("all_valid_out"))
    s = run_pipeline(spark, inp, out, n_units=2, n_buckets=8, resume=False)
    assert s["complete"] and s["rows_dlq"] == 0 and s["rows_valid"] == 1000
    schema = pq.read_schema(os.path.join(out, "metrics", "part-00000.parquet"))
    assert schema.field("sink_key").type == pa.string()
    routed = read_routed(spark, out)
    assert {r["batch"] for r in routed.select("batch").distinct().collect()} \
        == {"0000"}
    assert routed.schema["sink_key"].dataType.simpleString() == "string"


def test_metrics_write_is_atomic(tmp_path, monkeypatch):
    """A metrics write killed part-way leaves no ``part-00000.parquet``
    behind: the file appears only by a rename of a finished one."""
    import pandas as pd
    import pyarrow.parquet as pq

    from go_parsesyslog_spark.plans.pipeline import _write_pandas_parquet

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("killed mid-write")

    monkeypatch.setattr(pq, "write_table", torn_write)
    out = tmp_path / "metrics"
    with pytest.raises(OSError, match="killed mid-write"):
        _write_pandas_parquet(pd.DataFrame({"turn_count": [1, 2]}), str(out))
    assert os.listdir(out) == []
    monkeypatch.undo()
    _write_pandas_parquet(pd.DataFrame({"turn_count": [1, 2]}), str(out))
    assert os.listdir(out) == ["part-00000.parquet"]
    assert pd.read_parquet(out)["turn_count"].tolist() == [1, 2]


def test_resume_skips_committed_units(spark, input_dir, tmp_path_factory):
    """Kill/resume: a run stopped after 2 of 4 units resumes without
    reprocessing them, and the final output matches a one-shot run."""
    out = str(tmp_path_factory.mktemp("resume_out"))
    s1 = run_pipeline(spark, input_dir, out, n_units=4, n_buckets=8,
                      resume=True, max_units=2)
    assert len(s1["units_run"]) == 2 and not s1["complete"]
    s2 = run_pipeline(spark, input_dir, out, n_units=4, n_buckets=8,
                      resume=True)
    assert s2["units_skipped"] == s1["units_run"]
    assert len(s2["units_run"]) == 2 and s2["complete"]
    assert s2["rows_valid"] + s2["rows_dlq"] == N_ROWS
    # no duplicates: unique (conv_id, turn_idx, unit)
    sinks = spark.read.parquet(os.path.join(out, "sinks"))
    assert sinks.count() == N_ROWS
    assert sinks.select("conv_id", "turn_idx").distinct().count() == N_ROWS


def test_resume_rejects_a_changed_unit_plan(spark, input_dir,
                                            tmp_path_factory):
    """A resume skips units by id, so an id that now names other files
    must not be skipped: with 2 units instead of 4, unit 0000 holds
    two files where its marker records one.  Skipping it would report
    a complete run over half the rows."""
    out = str(tmp_path_factory.mktemp("replan_out"))
    s1 = run_pipeline(spark, input_dir, out, n_units=4, n_buckets=8,
                      resume=True, max_units=2)
    assert s1["units_run"] == ["0000", "0001"]
    with pytest.raises(ValueError, match="unit 0000.*resume=False"):
        run_pipeline(spark, input_dir, out, n_units=2, n_buckets=8,
                     resume=True)


def test_input_without_parquet_files_raises(spark, input_dir,
                                            tmp_path_factory):
    """An input with no top-level *.parquet file is an error, not a
    complete run of zero rows: the fixture's parent directory holds
    only directories."""
    parent = os.path.dirname(input_dir)
    out = str(tmp_path_factory.mktemp("no_input_out"))
    with pytest.raises(ValueError, match="no \\*.parquet file") as err:
        run_pipeline(spark, parent, out, n_units=4, n_buckets=8,
                     resume=False)
    assert parent in str(err.value)


def test_hot_set_spills_and_broadcast_joins(spark, tmp_path_factory):
    """A hot set above HOT_LITERAL_CAP must spill to parquet (not
    truncate) and salt via a BroadcastHashJoin, not an isin literal
    (VERDICT r1 #4: a 100k-element IN-list bloats plan/codegen and a cap
    silently drops exactly the skewed conversations)."""
    from go_parsesyslog_spark.operators.route import (
        HOT_LITERAL_CAP,
        compute_hot_set,
    )

    n_hot = HOT_LITERAL_CAP + 200
    # n_hot conversations with 3 rows each + threshold 2 → all hot
    df = spark.range(0, n_hot * 3).select(
        F.concat(F.lit("c"), (F.col("id") % n_hot).cast("string")).alias(
            "conv_id"
        ),
        (F.col("id") / n_hot).cast("int").alias("turn_idx"),
        F.lit(None).cast("string").alias("err_code"),
        F.lit("info").alias("severity_class"),
    )
    spill = str(tmp_path_factory.mktemp("hotspill")) + "/hot"
    hot_set = compute_hot_set(df, hot_threshold=2, spill_path=spill)
    assert hot_set["ids"] is None and hot_set["path"] == spill
    assert hot_set["count"] == n_hot  # nothing truncated

    hot_df = spark.read.parquet(spill)
    routed = with_route_columns(
        df, n_buckets=8, salt_buckets=8, hot_df=hot_df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # every conversation is hot → salted across >1 bucket
    salts = routed.select("salt").distinct().count()
    assert salts > 1
    # and below the cap the literal path returns ids
    small = compute_hot_set(
        df.filter(F.col("conv_id") == "c1"), hot_threshold=2
    )
    assert small["path"] is None and small["ids"] == ["c1"]


def test_salting_splits_hot_conversations(spark, input_dir):
    from go_parsesyslog_spark.operators.route import compute_hot_set

    df = spark.read.parquet(input_dir)
    hot_set = compute_hot_set(df.select("conv_id"), hot_threshold=100)
    parsed = parse_logs(df, fmt="auto", ref_now=REF_NOW)
    r = with_route_columns(enrich(parsed, spark), n_buckets=8,
                           salt_buckets=8, hot_ids=hot_set["ids"])
    hot = r.groupBy("conv_id").count().filter(F.col("count") > 100)
    assert hot.count() > 0, "datagen should produce hot conversations"
    salts = (
        r.join(hot.select("conv_id"), "conv_id")
        .select("salt").distinct().count()
    )
    assert salts > 1, "hot conversations must be salted across buckets"
    cold_salts = (
        r.join(hot.select("conv_id"), "conv_id", "left_anti")
        .select("salt").distinct().collect()
    )
    assert [row["salt"] for row in cold_salts] == [0]


def test_fanout_write_splits_oversized_cells(spark, input_dir,
                                             tmp_path_factory):
    """The fan-out write gives a (sink_sev, sink_key) cell one file per
    batch, and AQE splits a cell whose reduce partition exceeds the
    advisory size over several writers — with an identical row multiset
    either way.  One unit, so its write has several map tasks: AQE
    splits a reduce partition by map-output blocks."""
    import glob

    out_a = str(tmp_path_factory.mktemp("fanout_default"))
    out_b = str(tmp_path_factory.mktemp("fanout_split"))
    run_pipeline(spark, input_dir, out_a, n_units=1, n_buckets=8,
                 resume=False)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1k")
    try:
        run_pipeline(spark, input_dir, out_b, n_units=1, n_buckets=8,
                     resume=False)
    finally:
        spark.conf.unset(key)

    def files_per_dir(root):
        counts = {}
        for f in glob.glob(os.path.join(root, "sinks", "batch=*",
                                        "sink_sev=*", "sink_key=*",
                                        "*.parquet")):
            counts.setdefault(os.path.dirname(f), 0)
            counts[os.path.dirname(f)] += 1
        return counts

    a_counts = files_per_dir(out_a)
    b_counts = files_per_dir(out_b)
    assert a_counts and max(a_counts.values()) == 1
    assert max(b_counts.values()) > 1

    cols = ["conv_id", "turn_idx", "sink_sev", "sink_key", "salt"]
    rows_a = sorted(map(tuple, spark.read.parquet(
        os.path.join(out_a, "sinks")).select(*cols).collect()))
    rows_b = sorted(map(tuple, spark.read.parquet(
        os.path.join(out_b, "sinks")).select(*cols).collect()))
    assert rows_a == rows_b


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory, sf_dir):
    """Co-located join: two tables bucketed on the same key must
    sort-merge join with ZERO exchanges — the write-once-shuffle-never
    pattern for repeated big-big joins at 100 TB."""
    import re

    from go_parsesyslog_spark.sources.tableformat import write_bucketed

    base = str(tmp_path_factory.mktemp("bucketed"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    write_bucketed(ev.select("event_id", "user_id", "event_type"),
                   "gps_bk_a", ["user_id"], 8, sort_cols=["user_id"],
                   path=f"{base}/a")
    write_bucketed(ev.select("event_id", "user_id", "ts"),
                   "gps_bk_b", ["user_id"], 8, sort_cols=["user_id"],
                   path=f"{base}/b")
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("gps_bk_a").join(
                spark.table("gps_bk_b"), "user_id"
            )
            plan = joined._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan
            assert "SortMergeJoin" in plan, plan
            # and it actually computes the right thing
            n = joined.count()
            want = (
                ev.select("event_id", "user_id").alias("a")
                .join(ev.select("event_id", "user_id").alias("b"), "user_id")
                .count()
            )
            assert n == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS gps_bk_a")
        spark.sql("DROP TABLE IF EXISTS gps_bk_b")


def test_write_clustered_enables_file_skipping(spark, tmp_path):
    """The data-skipping claim, checked against the actual parquet
    footers: after a range-clustered write, each file's min/max span
    of the cluster key covers a narrow slice, so a range predicate
    overlaps only ~selectivity x files — vs an unclustered write where
    EVERY file spans the whole domain and nothing can be skipped."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from go_parsesyslog_spark.sources.tableformat import write_clustered

    df = spark.range(100_000).select(
        F.col("id"),
        # write order deliberately decorrelated from the cluster key
        F.expr("(id * 7919) % 100000").alias("k"),
    )
    clustered = str(tmp_path / "clustered")
    plain = str(tmp_path / "plain")
    write_clustered(df, clustered, ["k"], n_files=8)
    df.repartition(8).write.mode("overwrite").parquet(plain)

    def spans(path):
        import glob
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            ki = next(i for i in range(md.num_columns)
                      if md.row_group(0).column(i).path_in_schema == "k")
            lo = min(md.row_group(g).column(ki).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(ki).statistics.max
                     for g in range(md.num_row_groups))
            out.append((lo, hi))
        return out

    c_spans, p_spans = spans(clustered), spans(plain)
    assert len(c_spans) == 8
    # clustered files: non-overlapping narrow slices of the domain
    for (lo1, hi1), (lo2, _) in zip(sorted(c_spans), sorted(c_spans)[1:]):
        assert hi1 <= lo2
    pred = lambda lo, hi: not (hi < 10_000 or lo > 19_999)  # noqa: E731
    c_hit = sum(pred(lo, hi) for lo, hi in c_spans)
    p_hit = sum(pred(lo, hi) for lo, hi in p_spans)
    # 10% selectivity -> ~1-2 clustered files overlap; every plain one
    assert c_hit <= 2, c_spans
    assert p_hit == len(p_spans), p_spans
    # and the data survives the layout change byte-for-byte
    assert spark.read.parquet(clustered).count() == 100_000


def test_enrich_lookups_without_joins(spark):
    """The role/tool lookups are literal-map lookups: the schema (names,
    order, types) equals the broadcast left-join formulation, unknown or
    NULL keys give NULL lookups, and the plan has no join at all."""
    from go_parsesyslog_spark.operators.enrich import (
        ROLE_FACILITY_MAP,
        TOOL_APP_REGISTRY,
    )

    df = spark.createDataFrame(
        [(0, "user", "bash", 3, 1), (1, "robot", "abacus", 6, 2),
         (2, None, None, None, None), (3, "tool", "db", 0, 3)],
        "i int, role string, tool string, severity int, facility int",
    )
    got = enrich(df, spark)

    # the join formulation this operator replaces
    roles = spark.createDataFrame(
        ROLE_FACILITY_MAP, "role string, role_facility int, role_class string")
    tools = spark.createDataFrame(
        TOOL_APP_REGISTRY, "tool string, app_name string, app_tier string")
    named = got.select(*df.columns, "facility_name", "severity_name",
                       "severity_class")
    joined = (named.join(F.broadcast(roles), "role", "left")
              .join(F.broadcast(tools), "tool", "left"))
    assert got.schema == joined.schema, (got.schema, joined.schema)
    by_i = lambda r: r["i"]  # noqa: E731
    assert sorted(got.collect(), key=by_i) == sorted(joined.collect(), key=by_i)

    rows = {r["i"]: r for r in got.collect()}
    assert (rows[0]["role_facility"], rows[0]["role_class"]) == (1, "interactive")
    assert (rows[0]["app_name"], rows[0]["app_tier"]) == ("gnu-bash", "shell")
    for i in (1, 2):  # unknown, then NULL keys
        assert rows[i]["role_facility"] is None and rows[i]["role_class"] is None
        assert rows[i]["app_name"] is None and rows[i]["app_tier"] is None

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan


def test_hot_set_releases_its_cache(spark, input_dir, tmp_path_factory):
    """The hot-set pre-aggregation caches its (conv_id, rows) aggregate
    for its two driver actions and releases it before returning, on the
    literal and on the spill route alike."""
    from go_parsesyslog_spark.operators.route import compute_hot_set

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = spark.read.parquet(input_dir).select("conv_id")
    small = compute_hot_set(df, hot_threshold=100)
    assert small["count"] > 0 and small["path"] is None
    assert jsc.getPersistentRDDs().size() == before
    spill = str(tmp_path_factory.mktemp("hot_cache")) + "/hot"
    big = compute_hot_set(df, hot_threshold=0, literal_cap=1, spill_path=spill)
    assert big["path"] == spill and big["count"] > 1
    assert jsc.getPersistentRDDs().size() == before
