"""Structured Streaming variant: routed sink, watermarked windowed
metrics, custom stateful operator — all run to completion with
availableNow triggers and compared against the batch path."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_parsesyslog_spark.sources.transcripts import (
    REF_NOW,
    write_transcripts_parquet,
)
from go_parsesyslog_spark.streaming.stream import (
    parsed_stream,
    read_transcript_stream,
    stream_conv_state,
    stream_routed_sink,
    stream_windowed_metrics,
)

N_ROWS = 3000


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    write_transcripts_parquet(path, N_ROWS, seed=7, chunk_rows=750)
    return path


def test_streaming_routed_sink_matches_batch(spark, stream_input, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_out"))
    routed = parsed_stream(
        read_transcript_stream(spark, stream_input), spark,
        ref_now=REF_NOW, n_buckets=8,
    )
    q = stream_routed_sink(
        routed, f"{base}/sinks", f"{base}/ckpt", available_now=True
    )
    q.awaitTermination(300)

    got = spark.read.parquet(f"{base}/sinks")
    assert got.count() == N_ROWS

    # batch equivalence on key parsed fields
    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs

    batch = enrich(
        parse_logs(spark.read.parquet(stream_input), fmt="auto",
                   ref_now=REF_NOW),
        spark,
    )
    cols = ["conv_id", "turn_idx", "err_code", "message", "priority"]
    assert got.select(*cols).exceptAll(batch.select(*cols)).isEmpty()
    assert batch.select(*cols).exceptAll(got.select(*cols)).isEmpty()


def test_streaming_resume_processes_new_files_only(
    spark, stream_input, tmp_path_factory
):
    """Checkpointed restart: a second availableNow run over the same
    directory adds nothing; new files are picked up incrementally."""
    base = str(tmp_path_factory.mktemp("stream_resume"))
    inp = str(tmp_path_factory.mktemp("inp"))
    write_transcripts_parquet(inp, 1000, seed=1, chunk_rows=500)

    def run_once():
        routed = parsed_stream(
            read_transcript_stream(spark, inp), spark,
            ref_now=REF_NOW, n_buckets=8,
        )
        q = stream_routed_sink(
            routed, f"{base}/sinks", f"{base}/ckpt", available_now=True
        )
        q.awaitTermination(300)

    run_once()
    assert spark.read.parquet(f"{base}/sinks").count() == 1000
    run_once()  # no new files → no new rows
    assert spark.read.parquet(f"{base}/sinks").count() == 1000
    # drop one more file in and resume
    import shutil

    extra = str(tmp_path_factory.mktemp("extra"))
    write_transcripts_parquet(extra, 400, seed=2, chunk_rows=400)
    for f in os.listdir(extra):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(extra, f),
                        os.path.join(inp, "late-" + f))
    run_once()
    assert spark.read.parquet(f"{base}/sinks").count() == 1400


@pytest.fixture(scope="module")
def ordered_stream_input(tmp_path_factory):
    """Same 3000 turns, re-chunked in event-time order (file i = quarter
    i of the time range) — the arrival pattern of a real log tail, where
    per-window streaming counts can be exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_parsesyslog_spark.sources.transcripts import generate_transcripts

    path = str(tmp_path_factory.mktemp("stream_in_ordered"))
    pdf = generate_transcripts(N_ROWS, seed=7).sort_values(
        ["ts", "conv_id", "turn_idx"]
    ).reset_index(drop=True)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64[ns"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    step = N_ROWS // 4
    for i in range(4):
        chunk = pdf.iloc[i * step: (i + 1) * step if i < 3 else N_ROWS]
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
    return path


def test_streaming_windowed_metrics(spark, ordered_stream_input, tmp_path_factory):
    # The generated 3000-turn input spans ~37 minutes of event time, so
    # the window/watermark must be smaller than that span for ANY window
    # to close; and the data must arrive over ≥2 micro-batches so the
    # watermark advances between batches (append mode emits a window in
    # the batch AFTER the watermark passes its end — relying on the
    # final no-data batch of availableNow is a race).  Event-time-ordered
    # arrival (one quarter of the range per file) means no row is ever
    # later than the 10-minute watermark, so every emitted window count
    # is EXACT vs the batch recount.
    stream_input = ordered_stream_input
    base = str(tmp_path_factory.mktemp("stream_metrics"))
    routed = parsed_stream(
        read_transcript_stream(spark, stream_input, max_files_per_trigger=1),
        spark, ref_now=REF_NOW, n_buckets=8,
    )
    q = stream_windowed_metrics(
        routed, f"{base}/metrics", f"{base}/ckpt",
        window="5 minutes", watermark="10 minutes", available_now=True,
    )
    q.awaitTermination(300)
    m = spark.read.parquet(f"{base}/metrics")
    total = m.agg(F.sum("turn_count")).collect()[0][0] or 0
    assert 0 < total <= N_ROWS

    # every emitted window must match the batch recount exactly
    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs
    from go_parsesyslog_spark.operators.route import with_route_columns

    batch = with_route_columns(
        enrich(
            parse_logs(spark.read.parquet(stream_input), fmt="auto",
                       ref_now=REF_NOW),
            spark,
        ),
        n_buckets=8, hot_ids=[],
    ).withColumns(
        {
            "sink_sev": F.when(
                F.col("err_code").isNotNull(), F.lit("dlq")
            ).otherwise(F.col("severity_class")),
            "sink_key": F.when(
                F.col("err_code").isNotNull(), F.col("err_code")
            ).otherwise(F.col("conv_bucket").cast("string")),
        }
    )
    expected = (
        batch.groupBy(
            F.window("ts", "5 minutes").alias("w"), "sink_sev", "sink_key"
        )
        .agg(F.count(F.lit(1)).alias("exp_count"))
        .select(
            F.col("w.start").alias("window_start"),
            "sink_sev", "sink_key", "exp_count",
        )
    )
    joined = m.join(expected, ["window_start", "sink_sev", "sink_key"], "left")
    bad = joined.filter(
        F.col("exp_count").isNull()
        | (F.col("exp_count") != F.col("turn_count"))
    )
    assert bad.isEmpty()


def test_streaming_stateful_conv_counters(spark, stream_input, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_state"))
    routed = parsed_stream(
        read_transcript_stream(spark, stream_input, max_files_per_trigger=1),
        spark, ref_now=REF_NOW, n_buckets=8,
    )
    q = stream_conv_state(
        routed, f"{base}/state", f"{base}/ckpt", available_now=True
    )
    q.awaitTermination(300)
    s = spark.read.parquet(f"{base}/state")
    # take the max-turns row per conv (update mode emits progressions)
    from pyspark.sql import Window as W

    final = (
        s.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("conv_id").orderBy(F.desc("turns"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    batch_counts = (
        spark.read.parquet(stream_input).groupBy("conv_id").count()
    )
    joined = final.join(batch_counts, "conv_id")
    assert joined.filter(F.col("turns") != F.col("count")).isEmpty()


def test_availablenow_windowed_counts_append_semantics(spark, sf_dir):
    """The driver-gate streaming query: append mode must emit exactly
    the windows closed by the end-of-stream watermark (max ts - delay)
    and WITHHOLD the still-open tail — matching the batch groupBy only
    on the closed prefix."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_windowed_counts,
    )

    path = f"{sf_dir}/events.parquet"
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in availablenow_windowed_counts(spark, path).collect()
    }
    ev = spark.read.parquet(path)
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("c")
    ).collect()[0]["c"]
    batch = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.min(F.date_trunc("hour", "ts")).alias("wt"))
    )
    closed = {
        (r.w, r.event_type): r.n
        for r in batch.collect()
        if (r.wt + pd.Timedelta(hours=1)) <= cutoff
    }
    n_open = batch.count() - len(closed)
    assert got == closed
    assert n_open >= 1  # something was genuinely withheld


def test_streaming_dedup_exact(spark, sf_dir):
    """Streaming dedup with bounded state: a doubled input stream must
    emit each key exactly once, with the surviving rows equal to the
    batch DISTINCT."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_dedup_keys,
    )

    path = f"{sf_dir}/events.parquet"
    got = {
        (r.event_id, r.user_id, r.event_type)
        for r in availablenow_dedup_keys(spark, path).collect()
    }
    n_got = availablenow_dedup_keys(spark, path).count()
    want = {
        (r.event_id, r.user_id, r.event_type)
        for r in spark.read.parquet(path)
        .select("event_id", "user_id", "event_type").distinct().collect()
    }
    assert got == want
    assert n_got == len(want)  # exactly once per key, no dup emission


def test_streaming_session_windows_match_batch(spark, sf_dir):
    """Native session_window streaming sessionization must equal the
    batch gap-break computation on the closed-session prefix, with the
    merging rule's exact semantics (gap == threshold starts a NEW
    session: windows merge only when they overlap)."""
    from pyspark.sql import Window as W

    from go_parsesyslog_spark.streaming.stream import (
        availablenow_session_windows,
    )

    path = f"{sf_dir}/events.parquet"
    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in availablenow_session_windows(spark, path).collect()
    }
    ev = spark.read.parquet(path).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    w = W.partitionBy("user_id").orderBy("ts")
    brk = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
           >= 1800),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn("sid", F.sum(brk).over(
            w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("ss"),
             (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("se"),
             F.count(F.lit(1)).alias("n"))
    )
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("c")
    ).collect()[0]["c"]
    want = {
        (r.user_id,
         r.ss.strftime("%Y-%m-%d %H:%M:%S"),
         r.se.strftime("%Y-%m-%d %H:%M:%S")): r.n
        for r in sess.collect() if r.se <= cutoff
    }
    assert got == want
    assert len(want) > 0


def test_availablenow_result_survives_next_call(spark, sf_dir):
    """ADVICE r3: the returned DataFrame must stay valid after a LATER
    invocation (the r3 version dropped the previous memory-sink view on
    the next call, invalidating a held result)."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_windowed_counts,
    )

    path = f"{sf_dir}/events.parquet"
    first = availablenow_windowed_counts(spark, path)
    n_first = first.count()
    second = availablenow_windowed_counts(spark, path)
    # evaluating the FIRST result after the second run must still work
    # and agree with itself and the second run
    assert first.count() == n_first
    assert second.count() == n_first
    assert n_first > 0


def test_streaming_interval_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream interval join: with the whole table in
    one availableNow microbatch, the inner join must equal the batch
    interval join (error -> same-user purchase within the horizon),
    including the boundary semantics (buy_ts == err_ts and
    buy_ts == err_ts + horizon both match)."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_interval_join,
    )

    path = f"{sf_dir}/events.parquet"
    got = {
        (r.user_id, r.err_id, r.buy_id, r.delay_sec)
        for r in availablenow_interval_join(
            spark, path, horizon="4 hours"
        ).collect()
    }
    ev = spark.read.parquet(path).select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    err = ev.filter(F.col("event_type") == "error").selectExpr(
        "event_id err_id", "user_id", "ts err_ts"
    )
    buy = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "event_id buy_id", "user_id u2", "ts buy_ts"
    )
    want = {
        (r.user_id, r.err_id, r.buy_id, r.delay)
        for r in err.join(
            buy,
            (F.col("user_id") == F.col("u2"))
            & (F.col("buy_ts") >= F.col("err_ts"))
            & (
                F.col("buy_ts")
                <= F.col("err_ts") + F.expr("INTERVAL 4 HOURS")
            ),
        )
        .select(
            "user_id", "err_id", "buy_id",
            (
                F.unix_timestamp("buy_ts") - F.unix_timestamp("err_ts")
            ).cast("long").alias("delay"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_availablenow_grok_extract_matches_batch(spark, sf_dir):
    """Streaming grok == batch grok on the same input: the identical
    DataFrame code path (Structured Streaming's contract), stateless
    append mode, one availableNow batch."""
    import pyspark.sql.functions as F

    from go_parsesyslog_spark.operators.grok import grok_parse
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_grok_extract,
    )

    path = f"{sf_dir}/events.parquet"
    line = F.concat(F.lit("k="), (F.col("event_id") % 97).cast("string"),
                    F.lit(" t="), F.col("event_type"))
    template = "k=%{INT:k:int} t=%{WORD:t}"
    cols = ["event_id", "user_id", "event_type"]

    streamed = availablenow_grok_extract(spark, path, cols, line, template)
    batch = grok_parse(
        spark.read.parquet(path).select(*cols).withColumn("line", line),
        "line", template,
    )
    s = sorted((r["event_id"], r["k"], r["t"], r["_grok_matched"])
               for r in streamed.collect())
    b = sorted((r["event_id"], r["k"], r["t"], r["_grok_matched"])
               for r in batch.collect())
    assert s == b and len(s) > 0


def test_gate_file_sink_matches_memory_sink(spark, sf_dir):
    """The parquet gate sink returns the same rows as the memory sink,
    and its output (which lives until interpreter exit) is not kept on
    the RAM-backed tmpfs the throwaway checkpoint uses."""
    from go_parsesyslog_spark.streaming.stream import (
        _materialize_availablenow,
        _read_static_stream,
    )

    path = f"{sf_dir}/events.parquet"
    by_sink = {
        sink: _materialize_availablenow(
            spark, _read_static_stream(spark, path), f"gate_{sink}",
            sink=sink,
        )
        for sink in ("memory", "files")
    }
    memory, files = (
        sorted(map(tuple, by_sink[s].collect())) for s in ("memory", "files")
    )
    assert files == memory and len(memory) > 0
    out_files = by_sink["files"].inputFiles()
    assert out_files
    assert not [f for f in out_files if "/dev/shm/" in f]
