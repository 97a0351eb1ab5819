"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship parse→enrich→aggregate over sf0.001.
``queries()`` / ``oracle_sql()`` — one pair per implemented operator
from SURVEY.md §2; the driver cross-checks them against DuckDB at
sf0.01 (row count + schema + order-insensitive value hash).

Design notes for the oracle pairs:
* The log-engine operators are exercised by *constructing* syslog wire
  text from the ``events`` table with deterministic arithmetic, parsing
  it with the engine on the Spark side, and having DuckDB recompute the
  expected parsed fields directly from the same arithmetic — a true
  independent oracle for the parse semantics.
* All numeric outputs are cast to BIGINT / exact DECIMAL→DOUBLE so both
  engines hash identically; timestamps are emitted as formatted strings.
* Column names are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

REF_NOW = pd.Timestamp("2025-10-21 15:30:00")

FACILITY_LIST = (
    "['KERN','USER','MAIL','DAEMON','AUTH','SYSLOG','LPR','NEWS','UUCP',"
    "'CRON','AUTHPRIV','FTP','NTP','SECURITY','CONSOLE','SOLARISCRON',"
    "'LOCAL0','LOCAL1','LOCAL2','LOCAL3','LOCAL4','LOCAL5','LOCAL6','LOCAL7']"
)
SEVERITY_LIST = (
    "['EMERGENCY','ALERT','CRIT','ERROR','WARNING','NOTICE','INFO','DEBUG']"
)


# id-like high-cardinality column per table — used as the deterministic
# hash-repartition key below (round-robin would pay Spark's
# sort-before-repartition on the single input task; a hash key does not,
# and joins/aggs on the same key can reuse the partitioning)
_T_REPART_KEY = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
}

# Size floor of the repartition in _t: 0.4 MB, NOT a "comfortable" few
# MB — the floor must be the exchange's break-even, not a scale knob.  At
# sf0.1 the 2 MB events file left the whole wire-text+regex parse
# single-task (1.3 s for 100k rows; parallelized ≈0.4 s) while the
# exchange itself costs ~0.1-0.3 s.  Tables under 0.4 MB are genuine
# dims (customer/part/supplier at gate scales) that broadcast anyway.
_T_MIN_BYTES = 400_000

_T_SPLITS_CACHE: dict[str, tuple[int, int]] = {}


def _t_layout(path: str) -> tuple[int, int]:
    """(row_groups, bytes) of a single-file parquet table, cached per
    (path, mtime) — a driver-side metadata read, no Spark job."""
    import os

    import pyarrow.parquet as pq

    key = f"{path}:{os.stat(path).st_mtime_ns}"
    if key not in _T_SPLITS_CACHE:
        md = pq.read_metadata(path)
        _T_SPLITS_CACHE[key] = (md.num_row_groups, os.path.getsize(path))
    return _T_SPLITS_CACHE[key]


def _t(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    parallel: bool = True,
    min_bytes: int = _T_MIN_BYTES,
) -> DataFrame:
    """Read a testdata table, fixing INPUT-SKEW parallelism: the bench
    tables are single parquet files with ONE row group, so however large
    the scale factor, every scan is exactly one task and all downstream
    narrow work (wire-text construction, parse regexes, shingle/
    embedding UDFs) runs single-threaded (guide §2.5 'one huge
    unsplittable file → repartition immediately after the read').  The
    repartition is a deterministic hash on the table's id column sized
    to the session parallelism; tiny dims (<0.4 MB — they broadcast
    anyway) and already-splittable multi-row-group files are left
    alone.  Value-neutral: every declared query is partitioning-
    independent (md5/xxhash-keyed determinism throughout).

    ``parallel=False`` opts a query out: for plans whose only work is a
    map-side-combinable aggregation or a window that re-shuffles on its
    own key anyway, the extra exchange buys nothing and costs ~0.3 s —
    those call sites disable it deliberately (measured per query; the
    guide's §1.2 'don't compute things you throw away').

    ``min_bytes`` raises the size floor for ONE call site: some
    consumers (cheap map-side aggs over a handful of derived columns)
    only beat the exchange overhead once the single-task scan is a few
    MB of decode+compute — they pass 4 MB (the measured crossover at
    both bench scales) while UDF/regex-heavy consumers keep the
    default 0.4 MB floor."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    key = _T_REPART_KEY.get(name)
    if not parallel or key is None or os.path.isdir(path):
        return df
    par = spark.sparkContext.defaultParallelism
    row_groups, size = _t_layout(path)
    # one row group == unsplittable: no maxPartitionBytes setting can
    # parallelize the scan, so every table with a key repartitions here
    # once it reaches the size floor (every bench table has one row
    # group).  A multi-row-group file already splits; re-shuffling it
    # here would cost more than the downstream gains (joins/aggs re-key
    # it anyway).
    if row_groups == 1 and par > 1 and size >= min_bytes:
        df = df.repartition(par, F.col(key))
    return df


def _source_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file/dir (names, sizes,
    mtimes) — invalidates /tmp materializations when the driver
    regenerates the testdata between rounds (stale cached wire files
    would otherwise fail the oracle with confusing hash mismatches)."""
    import hashlib
    import os

    parts = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def _materialize_once(spark, sf_dir: str, out_prefix: str, build) -> str:
    """Write-once /tmp materialization keyed by the events table's
    fingerprint; rebuilt whenever the source changes."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = f"/tmp/{out_prefix}_{tag}"
    marker = os.path.join(path, "_GPS_COMPLETE")
    fp = _source_fingerprint(f"{sf_dir}/events.parquet")
    stale = True
    if os.path.exists(marker):
        with open(marker) as f:
            stale = f.read().strip() != fp
    if stale:
        build(path)
        with open(marker, "w") as f:
            f.write(fp)
    return path


# ---------------------------------------------------------------------------
# wire-text constructors (Spark side) — the SQL oracles mirror the same
# arithmetic; see each oracle string.
# ---------------------------------------------------------------------------

# concat/lpad instead of format_string: java.util.Formatter costs
# ~2-5 µs/row; the codegen'd concat chain is byte-identical for these
# non-negative operands and ~2x faster (measured 0.92 -> 0.49 s at
# sf1.0, diff-verified row-for-row; the DuckDB oracles replay the
# ARITHMETIC, not the construction method)
def _i(c) -> F.Column:
    return c.cast("int").cast("string")


def _lp2(c) -> F.Column:
    return F.lpad(c.cast("int").cast("string"), 2, "0")


def _with_rfc3164_text(ev: DataFrame) -> DataFrame:
    """<pri>Oct 11 HH:MM:SS h<u> app<a>[pid]: evt <type> #<id>"""
    return ev.withColumn(
        "text",
        F.concat(
            F.lit("<"), _i(F.col("event_id") % 192), F.lit(">Oct 11 "),
            _lp2(F.col("event_id") % 14), F.lit(":"),
            _lp2((F.col("event_id") * 11) % 60), F.lit(":"),
            _lp2((F.col("event_id") * 29) % 60),
            F.lit(" h"), _i(F.col("user_id") % 50),
            F.lit(" app"), _i(F.col("event_id") % 7),
            F.lit("["), _i(F.col("event_id") % 1000), F.lit("]: evt "),
            F.col("event_type"), F.lit(" #"), _i(F.col("event_id")),
        ),
    )


def _with_rfc5424_text(ev: DataFrame, frame_extra: F.Column | None = None) -> DataFrame:
    # concat/lpad form of
    # '<%d>1 2024-01-%02dT%02d:%02d:%02dZ h%d app%d %d ID%d
    #  [ev@1 type="%s" k="%d"] evt %s #%d' — see _with_rfc3164_text
    content = F.concat(
        F.lit("<"), _i(F.col("event_id") % 192), F.lit(">1 2024-01-"),
        _lp2(1 + F.col("event_id") % 28), F.lit("T"),
        _lp2(F.col("event_id") % 14), F.lit(":"),
        _lp2((F.col("event_id") * 11) % 60), F.lit(":"),
        _lp2((F.col("event_id") * 29) % 60),
        F.lit("Z h"), _i(F.col("user_id") % 50),
        F.lit(" app"), _i(F.col("event_id") % 7),
        F.lit(" "), _i(F.col("event_id") % 1000),
        F.lit(" ID"), _i(F.col("event_id") % 97),
        F.lit(' [ev@1 type="'), F.col("event_type"),
        F.lit('" k="'), _i(F.col("event_id") % 100),
        F.lit('"] evt '), F.col("event_type"),
        F.lit(" #"), _i(F.col("event_id")),
    )
    ev = ev.withColumn("_content", content)
    frame = F.length("_content")
    if frame_extra is not None:
        frame = frame + frame_extra
    return ev.withColumn(
        "text", F.concat(frame.cast("string"), F.lit(" "), F.col("_content"))
    ).drop("_content")


# SQL fragments shared by the oracles (DuckDB dialect)
_SQL_3164_FIELDS = """
  event_id,
  (event_id % 192)::BIGINT AS priority,
  ((event_id % 192) >> 3)::BIGINT AS facility,
  ((event_id % 192) & 7)::BIGINT AS severity,
  ({fac_list})[((event_id % 192) >> 3) + 1] AS facility_name,
  ({sev_list})[((event_id % 192) & 7) + 1] AS severity_name,
  'h' || (user_id % 50) AS host,
  'app' || (event_id % 7) AS app,
  (event_id % 1000)::VARCHAR AS pid,
  'evt ' || event_type || ' #' || event_id AS message,
  length('evt ' || event_type || ' #' || event_id)::BIGINT AS msg_length,
  '2025-10-11 ' || lpad((event_id % 14)::VARCHAR, 2, '0') || ':'
     || lpad(((event_id * 11) % 60)::VARCHAR, 2, '0') || ':'
     || lpad(((event_id * 29) % 60)::VARCHAR, 2, '0') AS msg_ts_str
""".format(fac_list=FACILITY_LIST, sev_list=SEVERITY_LIST)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_rfc3164_parse(spark, sf_dir):
    """A5-A13: full RFC3164 field extraction (PRI arithmetic, name
    tables, timestamp, host, tag app/pid, message)."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    ev = _with_rfc3164_text(_t(spark, sf_dir, "events"))
    p = parse_logs(ev, fmt="rfc3164", ref_now=REF_NOW)
    from go_parsesyslog_spark.functions.priority import (
        facility_name,
        severity_name,
    )

    return p.select(
        "event_id",
        F.col("priority").cast("long").alias("priority"),
        F.col("facility").cast("long").alias("facility"),
        F.col("severity").cast("long").alias("severity"),
        facility_name(F.col("facility")).alias("facility_name"),
        severity_name(F.col("severity")).alias("severity_name"),
        "host",
        "app",
        "pid",
        "message",
        F.col("msg_length").cast("long").alias("msg_length"),
        F.date_format("msg_ts", "yyyy-MM-dd HH:mm:ss").alias("msg_ts_str"),
    )


def q_rfc3164_dlq(spark, sf_dir):
    """A19: error taxonomy — PRI out of range routes to err_code, the
    parse never throws."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    ev = _t(spark, sf_dir, "events").withColumn(
        "text",
        F.concat(F.lit("<"), _i(F.col("event_id") % 250),
                 F.lit(">Oct 11 10:00:00 host app: x")),
    )
    p = parse_logs(ev, fmt="rfc3164", ref_now=REF_NOW)
    return p.select("event_id", "err_code")


def q_rfc3164_year_inference(spark, sf_dir):
    """A10: year inference — stamps >31 days in the future roll back one
    year (date.go:73-86)."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    ev = _t(spark, sf_dir, "events").withColumn(
        "text",
        F.concat(
            F.lit("<13>"),
            F.when(F.col("event_id") % 2 == 0, F.lit("Dec")).otherwise(F.lit("Sep")),
            F.lit(" 11 10:00:00 host app: x"),
        ),
    )
    p = parse_logs(ev, fmt="rfc3164", ref_now=REF_NOW)
    return p.select("event_id", F.year("msg_ts").cast("long").alias("msg_year"))


def q_rfc5424_parse(spark, sf_dir):
    """A14-A15: octet-framed header parse (7 ordered fields)."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    ev = _with_rfc5424_text(_t(spark, sf_dir, "events"))
    p = parse_logs(ev, fmt="rfc5424")
    return p.select(
        "event_id",
        F.col("priority").cast("long").alias("priority"),
        F.col("proto_version").cast("long").alias("proto_version"),
        "host",
        "app",
        F.col("pid").alias("procid"),
        "msgid",
        "message",
        F.col("msg_length").cast("long").alias("msg_length"),
        F.date_format("msg_ts", "yyyy-MM-dd HH:mm:ss").alias("msg_ts_str"),
    )


def q_rfc5424_sd_explode(spark, sf_dir):
    """A16: STRUCTURED-DATA parse → exploded (sd_id, key, val) rows."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    ev = _with_rfc5424_text(_t(spark, sf_dir, "events"))
    p = parse_logs(ev, fmt="rfc5424")
    return (
        p.select("event_id", F.explode("structured_data").alias("sd"))
        .select("event_id", F.col("sd.sd_id").alias("sd_id"),
                F.explode("sd.params").alias("p"))
        .select("event_id", "sd_id", F.col("p.key").alias("param_key"),
                F.col("p.val").alias("param_val"))
    )


def q_rfc5424_frame_validation(spark, sf_dir):
    """A14: frame-length reconciliation — an off-by-one-high frame makes
    the body read hit EOF → premature_eof (corpus invalid[15]/[17])."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    extra = F.when(F.col("event_id") % 7 == 0, F.lit(1)).otherwise(F.lit(0))
    ev = _with_rfc5424_text(_t(spark, sf_dir, "events"), frame_extra=extra)
    p = parse_logs(ev, fmt="rfc5424")
    return p.select("event_id", "err_code")


def q_priority_names(spark, sf_dir):
    """A6-A8: facility/severity derivation + name tables over the full
    0..191 priority range."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    from go_parsesyslog_spark.functions.priority import (
        facility_name,
        severity_name,
    )

    pri = (F.col("event_id") % 192).cast("int")
    return (
        ev.select(
            pri.cast("long").alias("priority"),
            F.shiftright(pri, 3).cast("long").alias("facility"),
            pri.bitwiseAND(F.lit(7)).cast("long").alias("severity"),
            facility_name(F.shiftright(pri, 3)).alias("facility_name"),
            severity_name(pri.bitwiseAND(F.lit(7))).alias("severity_name"),
        )
        .distinct()
    )


def q_severity_class_counts(spark, sf_dir):
    """Route-stage aggregation shape: counts per severity_class ×
    bucket."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    from go_parsesyslog_spark.functions.priority import severity_class

    cls = severity_class(((F.col("event_id") % 192) % 8).cast("int"))
    return (
        ev.select(cls.alias("severity_class"),
                  (F.col("event_id") % 16).cast("long").alias("bucket"))
        .groupBy("severity_class", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("turn_count"))
    )


def q_hourly_sink_agg(spark, sf_dir):
    """Windowed per-sink counts (F.window tumbling 1 hour)."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    from go_parsesyslog_spark.functions.priority import severity_class

    cls = severity_class(((F.col("event_id") % 192) % 8).cast("int"))
    return (
        ev.withColumn("severity_class", cls)
        .groupBy("severity_class", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("turn_count"))
        .select(
            "severity_class",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "turn_count",
        )
    )


def q_enrich_broadcast(spark, sf_dir):
    """Broadcast hash-join enrichment against a tiny literal dim."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    dim = spark.createDataFrame(
        [
            ("error", 3, "error"),
            ("view", 6, "info"),
            ("click", 6, "info"),
            ("signup", 5, "warn"),
            ("purchase", 5, "warn"),
        ],
        "event_type string, sev_override int, event_class string",
    )
    return (
        ev.join(F.broadcast(dim), "event_type", "left")
        .groupBy("event_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary (exact DECIMAL aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def q_tpch_q3_topk(spark, sf_dir):
    """Join + agg + deterministic top-k (sort-merge/broadcast join,
    order with unique tiebreak)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double").alias("revenue")
        )
        .select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q_tpch_q5ish(spark, sf_dir):
    """Star-schema multi-join rollup: revenue per region/nation."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders", min_bytes=4_000_000)
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double").alias("revenue"),
        )
    )


def q_latest_event_per_user(spark, sf_dir):
    """Window ranking: row_number over (user, ts desc)."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("latest_event"),
            F.col("event_type").alias("latest_type"),
        )
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (lag + cumulative break sum)."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("brk", brk)
        .groupBy("user_id")
        .agg(
            F.sum("brk").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(F.col("user_id").cast("long").alias("user_id"),
                "n_sessions", "n_events")
    )


def q_error_users_no_purchase(spark, sf_dir):
    """Set operation: EXCEPT via distinct projections."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    buy = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return err.exceptAll(buy).select(F.col("user_id").cast("long").alias("user_id"))


def q_props_extract(spark, sf_dir):
    """Scalar string extraction from the JSON-ish props column."""
    ev = _t(spark, sf_dir, "events", parallel=False)
    k = F.regexp_extract("props", r"[0-9]+", 0).cast("long")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).cast("long").alias("k_sum"),
             F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: content-hash groupBy (md5 matches across engines)."""
    docs = _t(spark, sf_dir, "documents", parallel=False)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_copies"),
             F.min("doc_id").cast("long").alias("canonical_doc"))
    )


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: whitespace-normalized content hash."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(norm).alias("fingerprint"),
    )


def q_token_stats(spark, sf_dir):
    """Text analysis: token counts + char stats per document."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        (F.length("text") - F.length(F.regexp_replace("text", r"[aeiou]", "")))
        .cast("long").alias("n_vowels"),
    )


_BPE_CONTR = "'(?:s|t|re|ve|m|ll|d)"
_BPE_PATTERN = (
    _BPE_CONTR + r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def q_bpe_token_stats(spark, sf_dir):
    """BPE-style pre-tokenization counts (the GPT-2 pretokenizer shape,
    RE2-compatible: contractions, space-prefixed letter runs, digit
    runs, punctuation runs, whitespace) — the training-data token
    accounting that whitespace splitting undercounts.  Pure Catalyst
    regexp_extract_all (JVM, codegen); DuckDB replays the identical
    pattern (both engines are leftmost/first-alternative, so counts
    agree exactly on the ASCII corpus).  The synthetic corpus is
    all-lowercase words, so a deterministic mixed suffix (id, version
    number, contraction) is appended on both sides to make the digit/
    punctuation/contraction branches non-vacuous."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" doc#"),
            F.col("doc_id").cast("string"), F.lit(" v1.2, don't"),
        ),
    )
    cnt = lambda p: F.size(  # noqa: E731
        F.regexp_extract_all("text", F.lit(p), F.lit(0))
    ).cast("long")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        cnt(_BPE_PATTERN).alias("n_bpe_tokens"),
        cnt(r" ?\p{L}+").alias("n_alpha_runs"),
        cnt(r" ?\p{N}+").alias("n_digit_runs"),
        cnt(_BPE_CONTR).alias("n_contractions"),
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-3 neighbors for the
    first 5 vectors (broadcast query side, JVM-side dot products)."""
    from go_parsesyslog_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(emb, q, k=3).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("sim", 3).alias("cosine_sim"),
    )


def q_ann_cosine_ivf(spark, sf_dir):
    """IVF inverted-file ANN through the driver gate: with
    n_probe = n_cells every cell is probed, so the result is provably
    the exact brute-force top-k (same DuckDB oracle as ann_cosine_topk)
    while the plan exercises the real IVF machinery — driver-trained
    k-means centroids, matmul cell assignment, per-cell equi-join.
    Reducing n_probe is the documented recall/cost knob at scale."""
    from go_parsesyslog_spark.operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings", min_bytes=4_000_000)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_ivf(
        emb, q, dim=64, k=3, n_cells=8, n_probe=8, seed=42
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("sim", 3).alias("cosine_sim"),
    )


def q_quality_features(spark, sf_dir):
    """Text-quality features (integer counts — exact across engines)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    toks = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )
    stop_hits = F.size(
        F.regexp_extract_all(t, F.lit(r"\b(the|a|and|of|to|is|in)\b"), F.lit(0))
    )
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^A-Za-z0-9_ ]", ""))
    digits = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        toks.cast("long").alias("n_tokens"),
        stop_hits.cast("long").alias("stop_hits"),
        punct.cast("long").alias("punct_chars"),
        digits.cast("long").alias("digit_chars"),
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact character-3-gram Jaccard for consecutive doc pairs (the
    LSH verify stage, SQL-expressible shape)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    pairs = docs.select(F.col("doc_id").alias("doc_a")).withColumn(
        "doc_b", F.col("doc_a") + 1
    ).filter(F.col("doc_b") < 50)
    from go_parsesyslog_spark.operators.dedup import ngram_jaccard

    out = ngram_jaccard(pairs, docs, n=3)
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        "jaccard",
    )


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic (rows-only check: marker-count n-gram
    heuristic is not reasonably SQL-expressible)."""
    from go_parsesyslog_spark.functions.textstats import with_language

    docs = _t(spark, sf_dir, "documents")
    return with_language(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang_pred"
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs.  Fully oracle-checked
    since r3: DuckDB replays the ENTIRE pipeline — injective base-257
    shingle hash from ascii() codes, the (a·x mod 2⁶⁴ + b) mod 2⁶⁴
    mod p signature arithmetic via HUGEINT, banding by the 4-value
    signature slice, and the >cap chain fallback — and must produce
    the identical pair set (reference analog: the exhaustive
    table-driven parser tests, parsesyslog_test.go:117-257, which pin
    every value rather than a property)."""
    from go_parsesyslog_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=64, bands=16).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
    )


def q_minhash_lsh_recall(spark, sf_dir):
    """LSH completeness oracle: exact 5-shingle Jaccard ≥ 0.9 over the
    LSH candidate pairs must equal the brute-force all-pairs answer
    (DuckDB oracle).  With 16 bands × 4 rows the per-pair miss
    probability at J=0.9 is (1-0.9⁴)¹⁶ ≈ 4e-8 — the scale path provably
    finds everything the O(N²) scan finds.  Integer (intersection,
    union) sizes avoid any float fragility.

    r3 rework (VERDICT r2 #1): the r2 version broadcast the full
    shingle table twice and joined arrays per candidate pair (173×
    array duplication at sf0.1, impossible at 100 TB, 45% of bench
    wall).  Now the verification is BUCKET-LOCAL
    (operators/dedup.minhash_lsh_jaccard_pairs): arrays shuffle at most
    once per band into their LSH bucket and one BLAS matmul per bucket
    yields every within-bucket intersection — no broadcast anywhere,
    3.4 GFLOP total at sf0.1.  Sizes are exact because the base-257
    shingle hash is injective for k=5."""
    from go_parsesyslog_spark.operators.dedup import minhash_lsh_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    out = minhash_lsh_jaccard_pairs(
        docs, num_hashes=64, bands=16, threshold=(9, 10)
    )
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("inter_size").cast("long").alias("inter_size"),
        F.col("union_size").cast("long").alias("union_size"),
    )


def q_simhash_fingerprints(spark, sf_dir):
    """60-bit simhash per document (md5-prefix token hashes, JVM-side →
    exact DuckDB oracle)."""
    from go_parsesyslog_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


def q_simhash_near_dups(spark, sf_dir):
    """Simhash near-dup PAIRS (Hamming <= 3 via 15-bit-block pigeonhole
    + exact popcount verify).  Pigeonhole is exact for k < blocks: any
    pair within Hamming 3 of the 60-bit fingerprint must agree on one of
    the four 15-bit blocks, so candidates are a provable superset and
    the verified output EQUALS the brute-force all-pairs answer — which
    is what the DuckDB oracle computes (xor + bit_count over the same
    fingerprints)."""
    from go_parsesyslog_spark.operators.dedup import simhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    out = simhash_near_dup_pairs(docs, hamming_k=3)
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_embedding_near_dups(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs (sim ≥ 0.9): broadcast
    corpus matrix + per-batch BLAS matmul (mapInPandas) — the verify
    baseline with a brute-force DuckDB oracle.  The LSH-bucketed scale
    path (operators/similarity.embedding_near_dup_pairs) is pinned
    against this exact answer by the recall test in
    tests/test_training_ops.py."""
    from go_parsesyslog_spark.operators.similarity import (
        embedding_near_dup_pairs_exact,
    )

    emb = _t(spark, sf_dir, "embeddings", min_bytes=4_000_000)
    out = embedding_near_dup_pairs_exact(emb, threshold=0.9)
    return out.select("id_a", "id_b", F.round("sim", 3).alias("sim"))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING through the driver gate: exact-verified LSH
    pairs (J >= 0.9) -> iterative min-label connected components ->
    (doc_id, canonical_id).  The iterative distributed algorithm is
    checked against a DuckDB RECURSIVE CTE computing min-reachable-id
    over the brute-force all-pairs J >= 0.9 graph (equal to the LSH
    pair graph by the recall property the recall query pins)."""
    from go_parsesyslog_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_jaccard_pairs(
        docs, num_hashes=64, bands=16, threshold=(9, 10)
    )
    out = dedup_clusters(docs, pairs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def q_read_syslog_lines(spark, sf_dir):
    """A4/CLI analog through the driver gate: raw wire-format syslog
    FILES on disk → ``read_syslog`` (spark.read.text, line framing,
    splittable at 100 TB) → full RFC3164 parse — the reference's
    real-world shape (cmd/stdin-parser/main.go:20 reads a raw stream,
    not a table column).  The files are materialized once per sf_dir
    from the events table with the same deterministic arithmetic the
    rfc3164_parse oracle replays, so the oracle is the identical field
    reconstruction; event identity is recovered from the message tail
    (files have no row ids — ordering is carried in-band, exactly like
    real log shipping)."""
    from go_parsesyslog_spark.functions.priority import (
        facility_name,
        severity_name,
    )
    from go_parsesyslog_spark.sources.rawlog import read_syslog

    def build(path):
        ev = _with_rfc3164_text(_t(spark, sf_dir, "events"))
        ev.select("text").write.mode("overwrite").text(path)

    path = _materialize_once(spark, sf_dir, "gps_rawlog_p", build)
    p = read_syslog(spark, path, fmt="rfc3164", framing="lines",
                    ref_now=REF_NOW)
    return p.select(
        F.regexp_extract("message", r"#(\d+)$", 1).cast("long")
        .alias("event_id"),
        F.col("priority").cast("long").alias("priority"),
        F.col("facility").cast("long").alias("facility"),
        F.col("severity").cast("long").alias("severity"),
        facility_name(F.col("facility")).alias("facility_name"),
        severity_name(F.col("severity")).alias("severity_name"),
        "host",
        "app",
        "pid",
        "message",
        F.col("msg_length").cast("long").alias("msg_length"),
        F.date_format("msg_ts", "yyyy-MM-dd HH:mm:ss").alias("msg_ts_str"),
    )


def q_read_syslog_octet(spark, sf_dir):
    """A4/A14 raw-FILE octet framing through the driver gate: RFC6587
    octet-counted frames written back-to-back into files, read with
    ``read_syslog(framing="octet")`` — wholetext blobs split by the
    byte-accurate frame scanner, then the full RFC5424 parse.  The
    line writer's ``\\n`` terminator is COUNTED INTO each frame (the
    reference keeps trailing newlines in the body — logmsg MsgLength
    semantics, rfc3164.go:101), so frames are contiguous and every
    parsed message ends with the newline, which the oracle mirrors
    with ``|| chr(10)``."""
    from go_parsesyslog_spark.sources.rawlog import read_syslog

    def build(path):
        ev = _with_rfc5424_text(
            _t(spark, sf_dir, "events"), frame_extra=F.lit(1)
        )
        ev.select("text").write.mode("overwrite").text(path)

    path = _materialize_once(spark, sf_dir, "gps_rawlog5424_p", build)
    p = read_syslog(spark, path, fmt="rfc5424", framing="octet")
    return p.select(
        F.regexp_extract("message", r"#(\d+)\n$", 1).cast("long")
        .alias("event_id"),
        F.col("priority").cast("long").alias("priority"),
        "host",
        "app",
        F.col("pid").alias("procid"),
        "msgid",
        "message",
        F.col("msg_length").cast("long").alias("msg_length"),
        F.date_format("msg_ts", "yyyy-MM-dd HH:mm:ss").alias("msg_ts_str"),
    )


def q_ann_ivf_reduced_probe(spark, sf_dir):
    """REDUCED-probe IVF ANN (n_probe=2 of 8 cells) — the oracle grades
    the APPROXIMATION, not just the machinery (VERDICT r3 #4): the
    quantizer is the fixed-seed data-independent centroid set
    (similarity.fixed_random_centroids), fully reconstructible outside
    Spark, and the DuckDB oracle inlines those centroids as literals and
    replays cell assignment (argmax inner product, lowest-cell
    tie-break), 2-cell probing, and the per-cell top-k — so the
    expected neighbor set is the true reduced-probe answer, not the
    brute-force one."""
    from go_parsesyslog_spark.operators.similarity import (
        cosine_topk_ivf,
        fixed_random_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings", min_bytes=4_000_000)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = fixed_random_centroids(8, 64, seed=7)
    out = cosine_topk_ivf(
        emb, q, dim=64, k=3, n_cells=8, n_probe=2, centroids=cents
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("sim", 3).alias("cosine_sim"),
    )


def q_ann_ivf_trained(spark, sf_dir):
    """Reduced-probe IVF over the PRODUCTION quantizer: the committed
    trained-centroid table (train_ivf_centroids output on this corpus,
    frozen in fixtures/ so DuckDB can replay assignment + 2-of-8-cell
    probing + per-cell top-k against identical values).  Closes the one
    pytest-only composition in the ANN family (VERDICT r4 next-#4);
    training reproducibility itself is pinned by
    tests/test_training_ops.py::test_trained_centroid_fixture_current."""
    from go_parsesyslog_spark.operators.similarity import (
        cosine_topk_ivf,
        load_centroid_fixture,
    )

    emb = _t(spark, sf_dir, "embeddings", min_bytes=4_000_000)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_ivf(
        emb, q, dim=64, k=3, n_cells=8, n_probe=2,
        centroids=load_centroid_fixture(),
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("sim", 3).alias("cosine_sim"),
    )


def q_ann_lsh_bucketed(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN through the driver gate (the last
    pytest-only ANN path, VERDICT r3 'what's missing' #2): top-3 per
    query scored ONLY within shared random-hyperplane buckets.  The
    DuckDB oracle inlines the same fixed-seed plane literals and
    replays the sign tests, per-table bucket keys, bucket join and
    per-query top-k — so the hash match grades which neighbors the
    BUCKETING finds, not the brute-force answer.  4 tables × 8 planes
    keeps the literal table compact; the operator's defaults (8×12)
    stay pytest-pinned for recall."""
    from go_parsesyslog_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings", min_bytes=4_000_000)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_lsh(
        emb, q, dim=64, k=3, n_tables=4, n_planes=8, seed=42
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("sim", 3).alias("cosine_sim"),
    )


def q_embedding_near_dups_lsh(spark, sf_dir):
    """The LSH-bucketed embedding near-dup SCALE path through the
    driver gate (previously pinned only against the exact baseline in
    pytest): pairs sharing ≥1 hyperplane bucket with cosine ≥ 0.4
    (threshold chosen non-vacuous for the near-orthogonal synthetic
    embeddings).  Oracle replays bucketing + threshold in SQL."""
    from go_parsesyslog_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(
        emb, dim=64, threshold=0.4, n_tables=4, n_planes=8, seed=42
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "sim",
    )


def q_label_centroids(spark, sf_dir):
    """Per-label element-wise mean embedding (class centroids) through
    the driver gate: posexplode → one (label, pos) shuffle with
    map-side partial sums — never whole-array collection per label.
    Output is narrow rows (label, pos, n_vecs, centroid_val) so the
    hash compare stays scalar; values rounded to 5 dp (both engines
    average in double, agreement ~1e-15)."""
    from go_parsesyslog_spark.operators.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings", parallel=False)
    out = label_centroids(emb)
    return out.select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.round("centroid_val", 5).alias("centroid_val"),
    )


def q_multi_message_split(spark, sf_dir):
    """ParseReader-over-a-stream analog (rfc5424_test.go:147-153,
    README.md:17-22): each event carries a blob of 3 newline-delimited
    RFC3164 messages; split_messages explodes it one row per message,
    newline kept in the message like ReadSlice('\\n')."""
    from go_parsesyslog_spark.operators.split import split_messages

    ev = _t(spark, sf_dir, "events").select("event_id").withColumn(
        "text",
        F.concat(*[
            c
            for i in (1, 2, 3)
            for c in (
                F.lit(f"<13>Oct 11 10:00:0{i} h app: m{i} #"),
                F.col("event_id").cast("int").cast("string"),
                F.lit("\n"),
            )
        ]),
    )
    return split_messages(ev, fmt="rfc3164").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("msg_idx").cast("long").alias("msg_idx"),
        F.col("text").alias("msg"),
    )


def q_streaming_hourly_counts(spark, sf_dir):
    """REAL Structured Streaming through the driver gate (VERDICT r2
    missing #3): readStream over the static events table → watermark →
    tumbling 1-hour window → append-mode memory sink, availableNow.
    Deterministic because the whole table is one data microbatch (no
    late drops) and the final no-data microbatch flushes every window
    closed by the end-of-stream watermark; windows still open (here:
    the last 2-5 of ~870-3385) are withheld — true append semantics,
    which the oracle mirrors with the max(ts)-delay cutoff."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_windowed_counts,
    )

    out = availablenow_windowed_counts(
        spark, f"{sf_dir}/events.parquet",
        window="1 hour", watermark="30 minutes",
    )
    return out.select(
        "window_start",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_corpus_curation(spark, sf_dir):
    """The composite training-corpus curation story in ONE gated query:
    quality-filter (token count ≥ 10) → MinHash-LSH near-dup pairs with
    exact bucket-local Jaccard verify (J ≥ 0.9) → star-alternation
    connected components → keep only each cluster's canonical (min-id)
    doc.  Every stage is an already-oracled operator; the composition's
    oracle is the quality-filtered recursive min-reachable-id CTE with
    the same shingle arithmetic.  Returns the kept doc ids."""
    from go_parsesyslog_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = F.when(
        F.length(F.trim("text")) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim("text"), r"\s+")))
    docs_q = docs.filter(toks >= 10)
    pairs = minhash_lsh_jaccard_pairs(
        docs_q, num_hashes=64, bands=16, threshold=(9, 10)
    )
    clusters = dedup_clusters(docs_q, pairs)
    kept = clusters.filter(F.col("doc_id") == F.col("canonical_id"))
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_train_val_split(spark, sf_dir):
    """Leakage-safe deterministic train/val split: the split is keyed
    on the GROUP (user_id), not the row, so every event of a user lands
    in the same split — the grouping that prevents train/test
    contamination in session-correlated data.  The hash is md5-prefix
    arithmetic (engine-agnostic, unlike xxhash64 which DuckDB lacks),
    so the assignment is bit-identical everywhere and stable across
    runs/partitionings: 90/10 by first 8 md5 hex digits mod 100."""
    ev = _t(spark, sf_dir, "events", min_bytes=4_000_000)
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("long") % 100
    )
    split = F.when(bucket < 90, "train").otherwise("val")
    return (
        ev.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/curation.decontaminate):
    training docs sharing any character 13-gram with the eval slice
    (doc_id % 97 == 0 stands in for a held-out benchmark) are flagged
    with their distinct-overlapping-gram count — the GPT-3-style
    decontamination rule, chars standing in for tokens.  The oracle
    replays gram extraction + the distinct join in DuckDB."""
    from go_parsesyslog_spark.operators.curation import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench).select(
        "doc_id", "n_contaminated_grams"
    )


def q_pack_shards(spark, sf_dir):
    """Token-budgeted shard packing (operators/curation.pack_shards):
    docs in id order packed into 2,000-token shards via the DISTRIBUTED
    two-phase prefix sum (bucket_width=100 so even sf0.01 exercises the
    multi-bucket offset path; production default is 10⁶).  The oracle is
    the single-window SQL formulation the operator must equal exactly."""
    from go_parsesyslog_spark.operators.curation import pack_shards

    docs = _t(spark, sf_dir, "documents", min_bytes=4_000_000).withColumn(
        "n_tokens", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    )
    return pack_shards(
        docs, tokens_col="n_tokens", shard_capacity=2000, bucket_width=100
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source mixing-rate sampling (operators/
    curation.stratified_sample): keep 100% of src0, 50% of src1, 10% of
    src2, 25% elsewhere, selected by engine-agnostic md5-prefix bucket
    arithmetic on doc_id (no RNG — stable across runs, partitionings,
    engines).  The per-source count + id-sum checksum pins the EXACT
    kept set, and the DuckDB oracle replays the same arithmetic."""
    from go_parsesyslog_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents", parallel=False)
    kept = stratified_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.1},
        strata_col="source", id_col="doc_id", default_fraction=0.25,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


def q_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality filter (operators/quality.
    repetition_stats): per-doc duplicate-word / duplicate-2-gram / top-
    2-gram fractions from ONE exploded-gram shuffle, plus the reject
    flag.  Fractions are exact integer ratios so the DuckDB oracle
    replays them bit-for-bit."""
    from go_parsesyslog_spark.operators.quality import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_words", "dup_word_frac", "dup_2gram_frac", "top_2gram_frac",
        "repetitive",
    )


def q_pii_redaction(spark, sf_dir):
    """PII redaction (operators/quality.redact_pii): deterministic PII
    (email / SSN / phone / IPv4, selected by doc_id % 5; %5==4 gets
    none) is synthesized into each doc, then redacted by the fixed
    regexp chain.  Output pins the per-class counts AND the md5 of the
    redacted text, so the oracle verifies both detection and the exact
    replacement result."""
    from go_parsesyslog_spark.operators.quality import redact_pii

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pii = (
        F.when(d % 5 == 0, F.concat(F.lit(" user"), d, F.lit("@example.com")))
        .when(d % 5 == 1, F.concat(
            F.lit(" "), F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((d % 100).cast("string"), 2, "0"),
            F.lit("-"), F.lpad((d % 10000).cast("string"), 4, "0")))
        .when(d % 5 == 2, F.concat(
            F.lit(" 555-"), F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((d % 10000).cast("string"), 4, "0")))
        .when(d % 5 == 3, F.concat(
            F.lit(" 10."), (d % 256).cast("string"),
            F.lit("."), (F.floor(d / 7) % 256).cast("string"),
            F.lit("."), (d % 254 + 1).cast("string")))
        .otherwise(F.lit(""))
    )
    seeded = docs.select("doc_id", F.concat("text", pii).alias("text"))
    return redact_pii(seeded).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_email", "n_ssn", "n_phone", "n_ip",
        F.md5("redacted").alias("redacted_md5"),
    )


def q_ann_quantized_topk(spark, sf_dir):
    """int8-quantized brute-force ANN (operators/similarity.
    cosine_topk_quantized): corpus and queries quantized with the
    floor-based symmetric int8 quantizer, ranked by quantized cosine.
    The integer dot products make the APPROXIMATION exactly replayable
    in DuckDB — zero float tolerance, same contract as
    ann_ivf_reduced_probe."""
    from go_parsesyslog_spark.operators.similarity import (
        cosine_topk_quantized,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_quantized(emb, q, k=3).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("qdot").cast("long").alias("qdot"),
        F.round("qsim", 4).alias("qsim"),
    )


def q_streaming_dedup_keys(spark, sf_dir):
    """Streaming exact dedup through the driver gate: the events table
    fed twice (streaming self-union, one microbatch) through
    dropDuplicatesWithinWatermark keyed on event_id — bounded-state
    streaming dedup, the continuous-ingest analog of dedup_exact.
    Duplicate rows are bit-identical so the surviving row is
    deterministic; oracle = SELECT DISTINCT."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_dedup_keys,
    )

    out = availablenow_dedup_keys(spark, f"{sf_dir}/events.parquet")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
    )


def q_streaming_session_windows(spark, sf_dir):
    """Native streaming sessionization (session_window) through the
    driver gate: per-user merging session windows with a 30-minute gap,
    append mode emitting only sessions closed by the final watermark.
    The oracle replays the gap-break rule and the closure predicate in
    SQL."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_session_windows,
    )

    out = availablenow_session_windows(
        spark, f"{sf_dir}/events.parquet",
        gap="30 minutes", watermark="30 minutes", user_mod=4,
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_streaming_interval_join(spark, sf_dir):
    """Watermarked stream-stream interval join through the driver gate
    (streaming/stream.stream_interval_join): error events matched to
    same-user purchases within 4 hours after the error.  Two streamed
    sources, watermarks on both, two-sided event-time bound (the state-
    expiry contract); with all rows in one availableNow microbatch the
    inner join emits every qualifying pair, so the DuckDB oracle is the
    equivalent batch interval join."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_interval_join,
    )

    out = availablenow_interval_join(
        spark, f"{sf_dir}/events.parquet",
        horizon="4 hours", watermark="30 minutes",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("err_id").cast("long").alias("err_id"),
        F.col("buy_id").cast("long").alias("buy_id"),
        "delay_sec",
    )


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct counts (operators/sketches.
    hll_distinct): per event_type, approximate distinct users (small
    cardinality — exercises the linear-counting branch) AND approximate
    distinct event ids (large cardinality — exercises the raw-estimator
    branch).  Registers are md5-prefix arithmetic, so the DuckDB oracle
    replays the SKETCH itself — register maxima, zero counts, and the
    estimator — not just row plumbing."""
    from go_parsesyslog_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events", min_bytes=4_000_000)
    users = hll_distinct(
        ev, ["event_type"], "user_id", out_col="approx_users"
    ).select(
        "event_type",
        F.col("n_registers_hit").alias("u_regs"),
        F.col("n_registers_zero").alias("u_zero"),
        "approx_users",
    )
    ids = hll_distinct(
        ev, ["event_type"], "event_id", out_col="approx_ids"
    ).select(
        "event_type",
        F.col("n_registers_hit").alias("i_regs"),
        F.col("n_registers_zero").alias("i_zero"),
        "approx_ids",
    )
    return users.join(ids, "event_type")


def q_kmv_source_jaccard(spark, sf_dir):
    """KMV-sketch pairwise Jaccard between document sources
    (operators/sketches.kmv_pairwise_jaccard): each source's word set
    reduced to its 64 smallest md5 hashes, then the Bar-Yossef
    bottom-k estimator over every source pair.  Constant sketch state
    per group regardless of corpus size; the oracle replays signature
    construction AND the union/intersect estimator exactly."""
    from go_parsesyslog_spark.operators.sketches import (
        kmv_pairwise_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "source",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term"),
    )
    return kmv_pairwise_jaccard(terms, "source", "term", k=64)


def q_substring_dup_stats(spark, sf_dir):
    """Exact-substring duplication profile (operators/dedup.
    substring_dup_stats): per-doc fraction of strided 40-char windows
    whose md5 occurs >= 2 times anywhere in the corpus — the Lee et
    al. 2022 duplication signal.  One analytic count over the window
    hash (no groupBy + join-back), then a per-doc fold."""
    from go_parsesyslog_spark.operators.dedup import substring_dup_stats

    docs = _t(spark, sf_dir, "documents")
    return substring_dup_stats(docs, window=40, stride=10).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_windows",
        "n_dup_windows",
        "dup_frac",
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 characteristic terms per doc by linear-idf tf-idf
    (operators/quality.tfidf_top_terms).  The linear idf keeps the
    score pure IEEE +,*,/ so the DuckDB oracle replays the RANKING
    bit-for-bit (ties break on term asc)."""
    from go_parsesyslog_spark.operators.quality import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "rank",
        "term",
        "tf",
        "doc_freq",
        "score",
    )


def q_length_profile(spark, sf_dir):
    """Per-source corpus length distribution (operators/quality.
    corpus_length_profile): exact interpolated p50/p90/p99 of char and
    token lengths plus the exact mean — the numbers a curation pipeline
    reads before setting length filters.  Integer inputs, identical
    IEEE interpolation in DuckDB's quantile_cont → bit-replayable."""
    from go_parsesyslog_spark.operators.quality import (
        corpus_length_profile,
    )

    docs = _t(spark, sf_dir, "documents", min_bytes=4_000_000)
    return corpus_length_profile(docs)


def q_normalize_profile(spark, sf_dir):
    """Canonical text normalization (operators/quality.normalize_text):
    NFC → lower → control-to-space → whitespace collapse, ASCII fast
    path in Catalyst with only non-ASCII rows routed through the Arrow
    NFC UDF.  Gated by per-doc md5 of the normalized text plus its
    length, so any divergence in any row fails the hash."""
    from go_parsesyslog_spark.operators.quality import normalize_text

    docs = _t(spark, sf_dir, "documents", min_bytes=4_000_000)
    return normalize_text(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("norm_text").cast("long").alias("norm_len"),
        F.md5("norm_text").alias("norm_md5"),
    )


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters (operators/sketches.cms_heavy_hitters):
    top-20 corpus terms by CMS estimate (depth 4, width 128 — narrow on
    purpose so collisions occur and the one-sided overcount is graded),
    with the exact count alongside.  Integer arithmetic end-to-end; the
    DuckDB oracle replays the salted hashing, the sketch counters, the
    min-fold estimate, AND the ranking."""
    from go_parsesyslog_spark.operators.sketches import cms_heavy_hitters

    docs = _t(spark, sf_dir, "documents", min_bytes=4_000_000)
    terms = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    return cms_heavy_hitters(terms, "term", k=20, depth=4, width=128)


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter exact-match decontamination at corpus scale
    (operators/sketches.bloom_bits / bloom_probe): the benchmark set is
    the deterministic doc_id % 97 == 0 slice, reduced to md5 text
    fingerprints and a 64-bit / 5-hash Bloom filter (tiny on purpose so
    false positives are structurally possible and the probe is proven
    to be a bit test, not a hidden exact join).  Every doc's
    fingerprint probes the filter; true membership comes from a
    broadcast join on the fingerprint.  Per-source counts grade hits,
    members, and false positives — no false negatives by construction.
    """
    from go_parsesyslog_spark.operators.sketches import (
        bloom_bits,
        bloom_probe,
    )

    docs = _t(spark, sf_dir, "documents", min_bytes=4_000_000)
    fp = docs.select(
        "doc_id", "source", F.md5(F.col("text")).alias("fp")
    )
    bench = (
        fp.filter(F.col("doc_id") % 97 == 0).select("fp").distinct()
    )
    bits = bloom_bits(bench, "fp", m=64, k=5)
    probed = bloom_probe(fp, bits, "fp", m=64, k=5)
    member = bench.select("fp", F.lit(1).alias("_member"))
    flagged = probed.join(F.broadcast(member), "fp", "left").select(
        "source",
        F.col("bloom_hit").cast("int").alias("_hit"),
        F.coalesce(F.col("_member"), F.lit(0)).alias("_mem"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_hit").cast("long").alias("n_bloom_hits"),
        F.sum("_mem").cast("long").alias("n_members"),
        (F.sum("_hit") - F.sum("_mem")).cast("long").alias("n_false_pos"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: construct wire messages from sf0.001 events, run the
    full parse→enrich→aggregate DAG, return per-class hourly counts."""
    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs

    sf_dir = "/root/testdata/sf0.001"
    ev = _with_rfc5424_text(_t(spark, sf_dir, "events"))
    parsed = parse_logs(ev, fmt="auto")
    e = enrich(parsed, spark)
    return (
        e.filter(F.col("err_code").isNull())
        .groupBy("severity_class", "severity_name", F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("turn_count"),
             F.approx_count_distinct("user_id").alias("approx_users"))
        .select("severity_class", "severity_name",
                F.col("window.start").alias("window_start"),
                "turn_count", "approx_users")
    )


def q_conv_reassembly(spark, sf_dir):
    """Stable-ordered conversation reassembly
    (operators/conversation.reassemble_conversations): the north-rule
    per-turn-ordering invariant as a query.  Events are the transcript
    (user_id = conv key, (ts, event_id) = the stable total turn order,
    event_type = the turn text); the md5 of the ordered path makes ANY
    ordering or content divergence a hash mismatch.  One exchange on
    the conversation key; per-group payload bounded by conversation
    length."""
    from go_parsesyslog_spark.operators.conversation import (
        reassemble_conversations,
    )

    ev = _t(spark, sf_dir, "events", min_bytes=4_000_000)
    out = reassemble_conversations(
        ev, "user_id", "event_type", ["ts", "event_id"]
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_turns",
        "path_md5",
        F.col("first_text").alias("first_type"),
        F.col("last_text").alias("last_type"),
    )


def q_turn_transitions(spark, sf_dir):
    """Turn-type Markov transitions
    (operators/conversation.turn_transitions): counts of consecutive
    (prev event_type -> event_type) pairs within each user's stable
    turn order.  One window shuffle on the conversation key, then a
    map-side-combinable count on the tiny type x type key space."""
    from go_parsesyslog_spark.operators.conversation import turn_transitions

    ev = _t(spark, sf_dir, "events", parallel=False)
    return turn_transitions(ev, "user_id", "event_type", ["ts", "event_id"])


def q_turn_gap_stats(spark, sf_dir):
    """Inter-turn latency profile by turn type
    (operators/conversation.turn_gap_stats): whole-second gaps since
    the previous turn of the same conversation, aggregated per
    event_type as exact integer count/sum/max (float-free hash)."""
    from go_parsesyslog_spark.operators.conversation import turn_gap_stats

    ev = _t(spark, sf_dir, "events", parallel=False)
    return turn_gap_stats(
        ev, "user_id", "ts", ["ts", "event_id"], "event_type"
    )


def q_doc_chunking(spark, sf_dir):
    """Context-window chunking (operators/curation.chunk_documents):
    size-256 chunks at stride 192 (25% overlap), digest-only output.
    Purely narrow — sequence -> explode -> substring, zero exchanges —
    the linear-scaling shape for 10^12-doc packing."""
    from go_parsesyslog_spark.operators.curation import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, size=256, stride=192).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "chunk_idx",
        "chunk_start",
        "chunk_len",
        "chunk_md5",
    )


def q_asof_enrich(spark, sf_dir):
    """Backward as-of join (operators/joins.asof_join): every click
    event picks up the user's latest purchase at-or-before it (id +
    whole-second staleness).  Merge formulation — union-tag + one
    window on the key — so it's ONE shuffle and linear work, never the
    BroadcastNestedLoopJoin a `r.ts <= l.ts` theta-join degenerates
    to.  DuckDB replays it with its native ASOF JOIN — an independent
    implementation of the same semantics."""
    from go_parsesyslog_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events", parallel=False)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
    )
    out = asof_join(
        clicks, buys, "user_id", "ts", "buy_ts",
        right_cols=["buy_id"], right_order="buy_id",
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("buy_id").cast("long").alias("buy_id"),
        "asof_lag_sec",
    )


def q_range_attribution(spark, sf_dir):
    """Bucketized range join (operators/joins.range_join): error
    events landing inside a [purchase, purchase+30min) attribution
    window of the same user.  Containment becomes an equi-join on
    (user, 1800s bucket) + residual predicate — the shuffled-hash
    path, never a nested-loop — with each interval exploding into at
    most 2 bucket rows.  Oracle = the plain inequality join."""
    from go_parsesyslog_spark.operators.joins import range_join

    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts"
    )
    buy = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
    )
    out = range_join(err, buy, "user_id", "ts", "win_start", "win_end",
                     bucket_sec=1800)
    return out.select(
        F.col("err_id").cast("long").alias("err_id"),
        F.col("buy_id").cast("long").alias("buy_id"),
        F.col("user_id").cast("long").alias("user_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("win_start"))
        .cast("long").alias("delay_sec"),
    )


def q_rolling_user_activity(spark, sf_dir):
    """Trailing 7-calendar-day rolling activity per user
    (operators/aggregate.rolling_daily_counts): RANGE-frame window over
    integer day numbers so missing days are skipped, not counted back
    as rows.  Raw events collapse to (user, day) map-side first; the
    window runs over the tiny daily frame."""
    from go_parsesyslog_spark.operators.aggregate import rolling_daily_counts

    ev = _t(spark, sf_dir, "events", parallel=False)
    out = rolling_daily_counts(ev, "user_id", "ts", window_days=7)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "day_num", "n_day", "n_rolling",
    )


def q_hourly_anomalies(spark, sf_dir):
    """Hourly volume anomaly flags per event type
    (operators/aggregate.hourly_anomalies): the 3-sigma z-test done in
    exact integer cross-multiplication — (H·n − Σn)²·(H−1) >
    9·(H·Σn² − (Σn)²) — so the flag is independent of float summation
    order and bit-replayable by the oracle."""
    from go_parsesyslog_spark.operators.aggregate import hourly_anomalies

    ev = _t(spark, sf_dir, "events", parallel=False)
    return hourly_anomalies(ev, "event_type", "ts", z_threshold=3)


def q_length_quantiles(spark, sf_dir):
    """Exact per-source doc-length quantiles
    (operators/aggregate.group_quantiles): p25/p50/p75 of n_chars at
    dyadic probabilities, where Spark's exact `percentile` and DuckDB's
    `quantile_cont` produce BIT-IDENTICAL doubles (every interpolation
    term is an exact dyadic rational on integer inputs)."""
    from go_parsesyslog_spark.operators.aggregate import group_quantiles

    docs = _t(spark, sf_dir, "documents", parallel=False)
    return group_quantiles(docs, "source", "n_chars").select(
        "source", "n", "p25", "p50", "p75"
    )


def q_read_jsonl_corpus(spark, sf_dir):
    """JSONL corpus source with DLQ (sources/jsonl.read_jsonl): the
    documents table is materialized once as newline-delimited JSON with
    every 41st line truncated mid-string (invalid by construction —
    the unterminated last field), then read back with an EXPLICIT
    schema (no inference pass) in PERMISSIVE+corrupt-column mode.  Bad
    lines surface as err_code='bad_json' rows with NULL fields instead
    of failing the job; the oracle reconstructs exactly which rows
    those are from the same doc_id arithmetic."""
    from go_parsesyslog_spark.sources.jsonl import read_jsonl

    def build(path):
        docs = _t(spark, sf_dir, "documents")
        line = F.to_json(F.struct("doc_id", "text", "lang", "source"))
        docs.select(
            F.col("doc_id"), line.alias("l")
        ).select(
            F.when(
                F.col("doc_id") % 41 == 0,
                F.expr("substring(l, 1, length(l) - 2)"),
            ).otherwise(F.col("l")).alias("value")
        ).write.mode("overwrite").text(path)

    path = _materialize_once(spark, sf_dir, "gps_jsonl_p", build)
    df = read_jsonl(
        spark, path, "doc_id BIGINT, text STRING, lang STRING, source STRING"
    )
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        "lang",
        "err_code",
    )


def q_upsample_mix(spark, sf_dir):
    """Fractional epoch mixing (operators/curation.upsample_sources):
    src0 repeated 2.5x (2 copies + a deterministic md5-bucket half),
    src1 halved (0 or 1 copies), src2 dropped, everything else 1x.
    The exact copy multiset is engine-replayable — no RNG."""
    from go_parsesyslog_spark.operators.curation import upsample_sources

    docs = _t(spark, sf_dir, "documents", parallel=False)
    out = upsample_sources(
        docs, {"src0": 2.5, "src1": 0.5, "src2": 0.0}
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("copy_idx").cast("long").alias("copy_idx"),
    )


def q_deterministic_shuffle(spark, sf_dir):
    """Reproducible global training order
    (operators/curation.deterministic_shuffle): md5-of-id picks the
    shard, a PER-SHARD row_number over (hash, id) gives the position —
    16 parallel sorts, never one corpus-wide range sort, and the
    resulting permutation is identical across runs/engines (unlike
    orderBy(rand()))."""
    from go_parsesyslog_spark.operators.curation import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents", parallel=False)
    out = deterministic_shuffle(docs, n_shards=16)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard_idx").cast("long").alias("shard_idx"),
        "pos_in_shard",
    )


def q_rollup_type_dow(spark, sf_dir):
    """Hierarchical sink counters (operators/grouping.hierarchy_rollup):
    every (event_type, weekday) level plus the per-type and grand
    totals from ONE Expand + ONE shuffle — the reference's per-sink
    counter (route.go sink counts) generalized to a sink hierarchy.
    Integer-exact measures; rolled-up keys carry the 'ALL' sentinel
    plus the SQL-standard grouping_id bitmask."""
    from go_parsesyslog_spark.operators.grouping import hierarchy_rollup

    ev = _t(spark, sf_dir, "events", parallel=False)
    return hierarchy_rollup(
        ev.withColumn("dow", F.weekday("ts").cast("long")),
        ["event_type", "dow"],
        {"n": F.count(F.lit(1)).cast("long"),
         "sum_event_id": F.sum("event_id").cast("long")},
    )


def q_cube_status_priority(spark, sf_dir):
    """Full CUBE over (o_orderstatus, o_orderpriority)
    (operators/grouping.cube_counts): all four grouping combinations in
    one Expand + one shuffle; BIGINT-only measures for float-free hash
    replay."""
    from go_parsesyslog_spark.operators.grouping import cube_counts

    orders = _t(spark, sf_dir, "orders")
    return cube_counts(
        orders, ["o_orderstatus", "o_orderpriority"],
        {"n": F.count(F.lit(1)).cast("long"),
         "sum_key": F.sum("o_orderkey").cast("long")},
    )


def q_grouping_sets_returns(spark, sf_dir):
    """Explicit GROUPING SETS ((flag,status),(flag),())
    (operators/grouping.grouping_sets_agg): the TPC-H Q1 key space at
    three report levels from a single scan/shuffle.  sum(l_quantity)
    is integral-valued in TPC-H so the BIGINT cast is exact on both
    engines."""
    from go_parsesyslog_spark.operators.grouping import grouping_sets_agg

    li = _t(spark, sf_dir, "lineitem")
    return grouping_sets_agg(
        li, [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        ["l_returnflag", "l_linestatus"],
        {"n": F.count(F.lit(1)).cast("long"),
         "sum_qty": F.sum("l_quantity").cast("long")},
    )


def q_unpivot_doc_metrics(spark, sf_dir):
    """Wide->long feature export (operators/grouping.unpivot_metrics):
    three per-doc metrics melted to (doc_id, metric, value) rows via
    Spark's native UNPIVOT — purely narrow (one Expand, zero
    exchanges), the linear-scaling shape for 10^12-doc feature-store
    dumps."""
    from go_parsesyslog_spark.operators.grouping import unpivot_metrics

    docs = _t(spark, sf_dir, "documents")
    wide = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long")
        .alias("n_ws_tokens"),
        (F.length("text")
         - F.length(F.replace(F.col("text"), F.lit("\n"), F.lit("")))
         + F.lit(1)).cast("long").alias("n_lines"),
    )
    return unpivot_metrics(
        wide, ["doc_id"], ["n_chars", "n_ws_tokens", "n_lines"]
    )


def q_topk_users_dense(spark, sf_dir):
    """Ties-preserving per-type top-k users
    (operators/grouping.topk_per_group_dense): dense_rank keeps ALL
    tied rows so the result is a deterministic SET under oracle replay;
    Spark's WindowGroupLimit pushes the rank<=k filter below the group
    shuffle, so only candidate top-k rows cross the wire — the top-k
    plan you want at 10^12 rows."""
    from go_parsesyslog_spark.operators.grouping import topk_per_group_dense

    ev = _t(spark, sf_dir, "events", parallel=False)
    return topk_per_group_dense(
        ev, "event_type", "user_id", F.count(F.lit(1)), 3
    )


def q_funnel_click_purchase(spark, sf_dir):
    """Conversation funnel latency (operators/grouping.funnel_latency):
    whole seconds from each user's FIRST click to their first purchase
    at-or-after it.  ONE shuffle: the key window and the (key, t_start)
    agg share the partitioning (plan-verified: back-to-back
    HashAggregates with no intervening Exchange)."""
    from go_parsesyslog_spark.operators.grouping import funnel_latency

    ev = _t(spark, sf_dir, "events", parallel=False)
    out = funnel_latency(ev, "user_id", "ts", "event_type",
                         "click", "purchase")
    return out.select(
        "user_id",
        F.date_format("t_start", "yyyy-MM-dd HH:mm:ss").alias("t_start"),
        "funnel_sec",
    )


def q_pivot_type_counts(spark, sf_dir):
    """Long->wide PIVOT (operators/grouping.pivot_wide): per-user event
    counts as one static-schema wide row.  Conditional aggregation =
    one scan, ONE shuffle (vs Dataset.pivot's two-exchange pivotfirst);
    explicit values = no distinct-discovery job.  The unpivot query's
    inverse, closing the reshape pair."""
    from go_parsesyslog_spark.operators.grouping import pivot_wide

    ev = _t(spark, sf_dir, "events", parallel=False)
    return pivot_wide(
        ev, "user_id", "event_type",
        ["view", "click", "purchase", "signup", "error"],
        prefix="n_",
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_view", "n_click", "n_purchase", "n_signup", "n_error",
    )


_GROK_TEMPLATE = (
    r"<%{INT:pri:int}>%{HOSTNAME:host} %{WORD:app}"
    r"\[%{INT:pid:int}\]: action=%{WORD:action} "
    r"latency=%{INT:latency_ms:int}ms"
)


def _grok_demo_line():
    """Deterministic app log line from event columns (10% corrupted:
    the leading '<' is stripped so the match fails -> DLQ path).
    Shared by the batch AND streaming grok gates so both replay the
    same regex-free oracle."""
    line = F.concat(
        F.lit("<"), (F.col("event_id") % 192).cast("string"),
        F.lit(">host-"),
        F.lpad((F.col("user_id") % 50).cast("string"), 2, "0"),
        F.lit(" app"), (F.col("event_id") % 12).cast("string"),
        F.lit("["), (F.col("event_id") % 32000).cast("string"),
        F.lit("]: action="), F.col("event_type"),
        F.lit(" latency="), (F.col("event_id") % 900).cast("string"),
        F.lit("ms"),
    )
    return F.when(
        F.col("event_id") % 10 == 7, F.regexp_replace(line, "^<", "")
    ).otherwise(line)


def _grok_projection(parsed):
    return parsed.select(
        F.col("event_id").cast("long").alias("event_id"),
        "pri", "host", "app", "pid", "action", "latency_ms",
        F.col("_grok_matched").alias("grok_matched"),
    )


def q_grok_extract(spark, sf_dir):
    """Generic grok template parse (operators/grok.grok_parse — ONE
    compiled regex per Arrow batch, the north-star 'compiled
    grok patterns in batched operations' form).  Each event formats a
    deterministic app log line (10% corrupted -> all-NULL + matched=
    false, the DLQ discipline); grok inverts it back to typed columns.
    The oracle never runs a regex: it computes the expected fields
    straight from the source columns, so ANY extraction defect is a
    hash mismatch.  Plan: scan -> ArrowEvalPython -> project, zero
    exchanges."""
    from go_parsesyslog_spark.operators.grok import grok_parse

    ev = _t(spark, sf_dir, "events")
    out = grok_parse(
        ev.withColumn("line", _grok_demo_line()), "line", _GROK_TEMPLATE,
    )
    return _grok_projection(out)


def q_streaming_grok_extract(spark, sf_dir):
    """The SAME grok extraction under Structured Streaming
    (streaming/stream.availablenow_grok_extract): readStream ->
    synthesize line -> compiled-regex Arrow UDF inside the microbatch
    -> append-mode memory sink.  Stateless (no state store, no
    watermark), so rows flow through the one availableNow batch
    unchanged — the gate evidence that grok composes with readStream
    on the identical DataFrame code path, replaying the identical
    regex-free oracle as the batch query."""
    from go_parsesyslog_spark.streaming.stream import (
        availablenow_grok_extract,
    )

    out = availablenow_grok_extract(
        spark, f"{sf_dir}/events.parquet",
        ["event_id", "user_id", "event_type"],
        _grok_demo_line(), _GROK_TEMPLATE,
    )
    return _grok_projection(out)


def q_dq_checks(spark, sf_dir):
    """Declarative data-quality report (operators/checks.py): seven
    constraints over lineitem — five row-local (ONE conditional-count
    aggregate, one scan), a composite-key uniqueness (count minus
    count-distinct in the same aggregate), and a broadcast-anti-join
    referential check against orders.  Two constraints genuinely fail
    on this data (price cap, composite-key dupes) so the violation
    arithmetic is exercised, not just the zero path."""
    from go_parsesyslog_spark.operators.checks import check_constraints

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return check_constraints(
        li,
        [
            {"name": "orderkey_not_null", "kind": "not_null",
             "col": "l_orderkey"},
            {"name": "qty_range", "kind": "in_range",
             "col": "l_quantity", "lo": 1, "hi": 50},
            {"name": "price_cap", "kind": "in_range",
             "col": "l_extendedprice", "lo": 0, "hi": 50000},
            {"name": "returnflag_domain", "kind": "matches",
             "col": "l_returnflag", "regex": "^[ARN]$"},
            {"name": "linestatus_domain", "kind": "in_set",
             "col": "l_linestatus", "values": ["O", "F"]},
            {"name": "line_pk_unique", "kind": "unique",
             "cols": ["l_orderkey", "l_linenumber"]},
            {"name": "order_fk", "kind": "ref_integrity",
             "col": "l_orderkey", "ref": "orders",
             "ref_col": "o_orderkey"},
        ],
        reference={"orders": orders},
    )


def q_contrastive_negatives(spark, sf_dir):
    """Deterministic hard-negative sampling
    (operators/curation.contrastive_negatives): for each user with a
    purchase, the 5 non-purchase events with smallest md5(user:event)
    — a seeded draw stable across runs/partitionings/engines.  One
    shuffle: presence flag and ranking share the group window."""
    from go_parsesyslog_spark.operators.curation import (
        contrastive_negatives,
    )

    ev = _t(spark, sf_dir, "events", min_bytes=4_000_000)
    return contrastive_negatives(
        ev, "user_id", "event_type", "purchase", 5, "event_id"
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        "neg_id", "draw_rank",
    )


def q_profile_events(spark, sf_dir):
    """One-pass per-column table profile
    (operators/checks.profile_table): NULL count, exact distinct
    count, total string length for all six event columns from a
    single aggregate (multi-distinct planned as one Expand — one
    shuffle of partial states, never six jobs)."""
    from go_parsesyslog_spark.operators.checks import profile_table

    ev = _t(spark, sf_dir, "events", min_bytes=4_000_000)
    return profile_table(
        ev, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )


def q_resample_daily(spark, sf_dir):
    """Fixed-grid resample + forward-fill
    (operators/aggregate.resample_ffill): each user's value series
    aligned to a daily grid, last observation per day wins (total
    order via event_id tiebreak), gaps carry the previous value with
    is_observed=false.  Big table collapses to (key, bucket) in ONE
    shuffle; grid/join/ffill all run on the collapsed frame.  Values
    integerized (floor(value*100)) before the operator so the oracle
    hash is float-free."""
    from go_parsesyslog_spark.operators.aggregate import resample_ffill

    ev = _t(spark, sf_dir, "events", min_bytes=4_000_000).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    out = resample_ffill(ev, "user_id", "ts", "cents", 86400,
                         order_cols=["event_id"])
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss")
        .alias("bucket_start"),
        "cents", "is_observed",
    )


def q_merge_activity_spans(spark, sf_dir):
    """Interval union per user
    (operators/conversation.merge_intervals): each event opens an
    activity window [ts, ts + (event_id%120+1) minutes); overlapping/
    touching windows flatten into spans.  One key shuffle: the sweep is
    window algebra and the final (key, span) agg reuses the window's
    partitioning.  Whole-second outputs -> float-free hash."""
    from go_parsesyslog_spark.operators.conversation import (
        merge_intervals,
    )

    ev = _t(spark, sf_dir, "events", parallel=False).select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts")
         + (F.col("event_id") % 120 + 1) * 60).alias("e"),
    )
    out = merge_intervals(ev, "user_id", "s", "e")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_merged",
    )


def q_full_outer_reconcile(spark, sf_dir):
    """Two-sided reconciliation via FULL OUTER join — the one join
    type the gate didn't yet cover: per-user daily click counts vs
    purchase counts, keeping days present on either side only
    (coalesced keys, zero-filled counts).  Both sides collapse to
    (user, day) BEFORE the join, and all three operators (two aggs +
    the join) hash on the same key pair — Catalyst reuses the
    partitioning, so the fact table shuffles once per side and the
    join adds none."""
    ev = _t(spark, sf_dir, "events", parallel=False)

    def daily(etype, alias):
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id", F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    c = daily("click", "n_clicks")
    p = daily("purchase", "n_buys")
    j = c.join(p, ["user_id", "day"], "full_outer")
    return j.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_buys", F.lit(0)).alias("n_buys"),
    )


def q_read_csv_corpus(spark, sf_dir):
    """CSV file ingest with per-row DLQ
    (sources/csvfile.read_csv_corpus): events serialized to CSV files
    once per sf_dir (10% of rows carry a non-numeric metric field),
    loaded back with an explicit schema in PERMISSIVE mode.  Spark's
    documented DLQ semantics are the contract under test: a malformed
    FIELD nulls out while well-formed fields of the same row (the
    identity columns) still parse, and the raw line lands in _corrupt
    — one bad cell never drops a row or fails the load.  Oracle:
    regex-free reconstruction from the source columns, corrupt lines
    pinned by md5."""
    from go_parsesyslog_spark.sources.csvfile import read_csv_corpus

    def build(path):
        ev = _t(spark, sf_dir, "events")
        lat = F.when(
            F.col("event_id") % 10 == 7, F.lit("x")
        ).otherwise((F.col("event_id") % 900).cast("string"))
        line = F.concat_ws(
            ",", F.col("event_id").cast("string"),
            F.col("user_id").cast("string"), F.col("event_type"), lat,
        )
        ev.select(line.alias("value")).write.mode("overwrite").text(path)

    path = _materialize_once(spark, sf_dir, "gps_csv_p", build)
    out = read_csv_corpus(
        spark, path,
        "event_id bigint, user_id bigint, event_type string, "
        "latency_ms bigint",
    )
    return out.select(
        "event_id", "user_id", "event_type", "latency_ms",
        F.col("_corrupt").isNotNull().alias("is_dlq"),
        F.md5(F.col("_corrupt")).alias("corrupt_md5"),
    )


def q_winsorized_value_stats(spark, sf_dir):
    """Outlier-robust per-type stats
    (operators/aggregate.winsorized_stats): values clamped to the
    exact IQR [p25, p75] before summing.  Exactness discipline: the
    input is integer cents, so the dyadic quantiles are exact
    quarter-cent binary fractions and the clamped double sum is
    order-independent (no rounding anywhere) — hash-replayable without
    integerizing the output."""
    from go_parsesyslog_spark.operators.aggregate import winsorized_stats

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return winsorized_stats(ev, "event_type", "cents", 0.25, 0.75)


def q_value_decile_profile(spark, sf_dir):
    """Rank-normalized histogram
    (operators/aggregate.rank_decile_profile): percent_rank deciles of
    value per event_type.  (rank-1)/(n-1) is exact IEEE on both
    engines; ties share a bucket, so the profile is deterministic
    under any partitioning."""
    from go_parsesyslog_spark.operators.aggregate import (
        rank_decile_profile,
    )

    ev = _t(spark, sf_dir, "events", parallel=False)
    return rank_decile_profile(ev, "event_type", "value", 10)


def q_clustered_range_scan(spark, sf_dir):
    """Range-clustered sink round-trip
    (sources/tableformat.write_clustered): events written once per
    sf_dir range-clustered on value (non-overlapping file spans,
    footer-stats pinned in tests/test_pipeline.py), read back with a
    range predicate and aggregated.  At 100 TB the same scan touches
    ~selectivity x files instead of all of them; correctness here is
    that the layout change loses/duplicates nothing — the oracle
    computes from the original table."""
    from go_parsesyslog_spark.sources.tableformat import write_clustered

    def build(path):
        write_clustered(
            _t(spark, sf_dir, "events"), path, ["value"], n_files=8
        )

    path = _materialize_once(spark, sf_dir, "gps_clustered", build)
    return (
        spark.read.parquet(path)
        .filter((F.col("value") >= 100.0) & (F.col("value") < 200.0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .alias("sum_cents"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rfc3164_parse": q_rfc3164_parse,
        "rfc3164_dlq": q_rfc3164_dlq,
        "rfc3164_year_inference": q_rfc3164_year_inference,
        "rfc5424_parse": q_rfc5424_parse,
        "rfc5424_sd_explode": q_rfc5424_sd_explode,
        "rfc5424_frame_validation": q_rfc5424_frame_validation,
        "priority_names": q_priority_names,
        "severity_class_counts": q_severity_class_counts,
        "hourly_sink_agg": q_hourly_sink_agg,
        "enrich_broadcast": q_enrich_broadcast,
        "tpch_q1": q_tpch_q1,
        "tpch_q3_topk": q_tpch_q3_topk,
        "tpch_q5ish": q_tpch_q5ish,
        "latest_event_per_user": q_latest_event_per_user,
        "sessionize": q_sessionize,
        "error_users_no_purchase": q_error_users_no_purchase,
        "props_extract": q_props_extract,
        "dedup_exact": q_dedup_exact,
        "doc_fingerprint": q_doc_fingerprint,
        "token_stats": q_token_stats,
        "bpe_token_stats": q_bpe_token_stats,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_ivf": q_ann_cosine_ivf,
        "quality_features": q_quality_features,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "lang_id": q_lang_id,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_lsh_recall": q_minhash_lsh_recall,
        "dedup_clusters": q_dedup_clusters,
        "simhash_fingerprints": q_simhash_fingerprints,
        "simhash_near_dups": q_simhash_near_dups,
        "embedding_near_dups": q_embedding_near_dups,
        "multi_message_split": q_multi_message_split,
        "read_syslog_lines": q_read_syslog_lines,
        "read_syslog_octet": q_read_syslog_octet,
        "ann_ivf_reduced_probe": q_ann_ivf_reduced_probe,
        "ann_ivf_trained": q_ann_ivf_trained,
        "ann_lsh_bucketed": q_ann_lsh_bucketed,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "label_centroids": q_label_centroids,
        "corpus_curation": q_corpus_curation,
        "train_val_split": q_train_val_split,
        "decontaminate": q_decontaminate,
        "pack_shards": q_pack_shards,
        "stratified_sample": q_stratified_sample,
        "repetition_filter": q_repetition_filter,
        "pii_redaction": q_pii_redaction,
        "ann_quantized_topk": q_ann_quantized_topk,
        "hll_distinct": q_hll_distinct,
        "kmv_source_jaccard": q_kmv_source_jaccard,
        "substring_dup_stats": q_substring_dup_stats,
        "tfidf_top_terms": q_tfidf_top_terms,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "bloom_decontaminate": q_bloom_decontaminate,
        "length_profile": q_length_profile,
        "normalize_profile": q_normalize_profile,
        "conv_reassembly": q_conv_reassembly,
        "turn_transitions": q_turn_transitions,
        "turn_gap_stats": q_turn_gap_stats,
        "doc_chunking": q_doc_chunking,
        "asof_enrich": q_asof_enrich,
        "range_attribution": q_range_attribution,
        "rolling_user_activity": q_rolling_user_activity,
        "hourly_anomalies": q_hourly_anomalies,
        "length_quantiles": q_length_quantiles,
        "read_jsonl_corpus": q_read_jsonl_corpus,
        "upsample_mix": q_upsample_mix,
        "deterministic_shuffle": q_deterministic_shuffle,
        "streaming_hourly_counts": q_streaming_hourly_counts,
        "streaming_dedup_keys": q_streaming_dedup_keys,
        "streaming_session_windows": q_streaming_session_windows,
        "streaming_interval_join": q_streaming_interval_join,
        "rollup_type_dow": q_rollup_type_dow,
        "cube_status_priority": q_cube_status_priority,
        "grouping_sets_returns": q_grouping_sets_returns,
        "unpivot_doc_metrics": q_unpivot_doc_metrics,
        "topk_users_dense": q_topk_users_dense,
        "funnel_click_purchase": q_funnel_click_purchase,
        "pivot_type_counts": q_pivot_type_counts,
        "grok_extract": q_grok_extract,
        "dq_checks": q_dq_checks,
        "contrastive_negatives": q_contrastive_negatives,
        "profile_events": q_profile_events,
        "streaming_grok_extract": q_streaming_grok_extract,
        "resample_daily": q_resample_daily,
        "merge_activity_spans": q_merge_activity_spans,
        "full_outer_reconcile": q_full_outer_reconcile,
        "read_csv_corpus": q_read_csv_corpus,
        "winsorized_value_stats": q_winsorized_value_stats,
        "value_decile_profile": q_value_decile_profile,
        "clustered_range_scan": q_clustered_range_scan,
    }


def oracle_sql() -> dict[str, str]:
    sev_cls = (
        "CASE WHEN (event_id % 192) % 8 <= 2 THEN 'emergency' "
        "WHEN (event_id % 192) % 8 = 3 THEN 'error' "
        "WHEN (event_id % 192) % 8 <= 5 THEN 'warn' ELSE 'info' END"
    )
    out = {
        "rfc3164_parse": f"SELECT {_SQL_3164_FIELDS} FROM events",
        "rfc3164_dlq": (
            "SELECT event_id, CASE WHEN event_id % 250 > 191 "
            "THEN 'invalid_prio' ELSE NULL END AS err_code FROM events"
        ),
        "rfc3164_year_inference": (
            "SELECT event_id, CASE WHEN event_id % 2 = 0 THEN 2024 "
            "ELSE 2025 END::BIGINT AS msg_year FROM events"
        ),
        "rfc5424_parse": (
            "SELECT event_id, (event_id % 192)::BIGINT AS priority, "
            "1::BIGINT AS proto_version, "
            "'h' || (user_id % 50) AS host, 'app' || (event_id % 7) AS app, "
            "(event_id % 1000)::VARCHAR AS procid, "
            "'ID' || (event_id % 97) AS msgid, "
            "'evt ' || event_type || ' #' || event_id AS message, "
            "length('evt ' || event_type || ' #' || event_id)::BIGINT AS msg_length, "
            "'2024-01-' || lpad((1 + event_id % 28)::VARCHAR, 2, '0') || ' ' "
            "|| lpad((event_id % 14)::VARCHAR, 2, '0') || ':' "
            "|| lpad(((event_id * 11) % 60)::VARCHAR, 2, '0') || ':' "
            "|| lpad(((event_id * 29) % 60)::VARCHAR, 2, '0') AS msg_ts_str "
            "FROM events"
        ),
        "rfc5424_sd_explode": (
            "SELECT event_id, 'ev@1' AS sd_id, 'type' AS param_key, "
            "event_type AS param_val FROM events "
            "UNION ALL "
            "SELECT event_id, 'ev@1' AS sd_id, 'k' AS param_key, "
            "(event_id % 100)::VARCHAR AS param_val FROM events"
        ),
        "rfc5424_frame_validation": (
            "SELECT event_id, CASE WHEN event_id % 7 = 0 "
            "THEN 'premature_eof' ELSE NULL END AS err_code FROM events"
        ),
        "priority_names": (
            "SELECT DISTINCT (event_id % 192)::BIGINT AS priority, "
            "((event_id % 192) >> 3)::BIGINT AS facility, "
            "((event_id % 192) & 7)::BIGINT AS severity, "
            f"({FACILITY_LIST})[((event_id % 192) >> 3) + 1] AS facility_name, "
            f"({SEVERITY_LIST})[((event_id % 192) & 7) + 1] AS severity_name "
            "FROM events"
        ),
        "severity_class_counts": (
            f"SELECT {sev_cls} AS severity_class, "
            "(event_id % 16)::BIGINT AS bucket, "
            "count(*)::BIGINT AS turn_count FROM events GROUP BY 1, 2"
        ),
        "hourly_sink_agg": (
            f"SELECT {sev_cls} AS severity_class, "
            "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
            "count(*)::BIGINT AS turn_count FROM events GROUP BY 1, 2"
        ),
        "enrich_broadcast": (
            "WITH dim(event_type, sev_override, event_class) AS (VALUES "
            "('error', 3, 'error'), ('view', 6, 'info'), ('click', 6, 'info'), "
            "('signup', 5, 'warn'), ('purchase', 5, 'warn')) "
            "SELECT d.event_class, count(*)::BIGINT AS n_events, "
            "count(DISTINCT e.user_id)::BIGINT AS n_users "
            "FROM events e LEFT JOIN dim d USING (event_type) "
            "GROUP BY d.event_class"
        ),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) "
            "AS sum_disc_price, "
            "count(*)::BIGINT AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "tpch_q3_topk": (
            "SELECT o_orderkey::BIGINT AS o_orderkey, "
            "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) "
            "AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "GROUP BY o_orderkey, o_orderdate "
            "ORDER BY revenue DESC, o_orderkey LIMIT 10"
        ),
        "tpch_q5ish": (
            "SELECT r_name, n_name, count(*)::BIGINT AS n_items, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) "
            "AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name, n_name"
        ),
        "latest_event_per_user": (
            "SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS latest_event, "
            "event_type AS latest_type FROM ("
            "SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1"
        ),
        "sessionize": (
            "WITH g AS (SELECT user_id, CASE WHEN lag(ts) OVER w IS NULL OR "
            "date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS brk "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
            "SELECT user_id::BIGINT AS user_id, sum(brk)::BIGINT AS n_sessions, "
            "count(*)::BIGINT AS n_events FROM g GROUP BY user_id"
        ),
        "error_users_no_purchase": (
            "SELECT user_id::BIGINT AS user_id FROM "
            "(SELECT DISTINCT user_id FROM events WHERE event_type = 'error' "
            "EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')"
        ),
        "props_extract": (
            "SELECT event_type, "
            "SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT))::BIGINT AS k_sum, "
            "count(*)::BIGINT AS n FROM events GROUP BY event_type"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_copies, "
            "min(doc_id)::BIGINT AS canonical_doc FROM documents GROUP BY md5(text)"
        ),
        "doc_fingerprint": (
            "SELECT doc_id::BIGINT AS doc_id, "
            "md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint "
            "FROM documents"
        ),
        "token_stats": (
            "SELECT doc_id::BIGINT AS doc_id, "
            "len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens, "
            "length(text)::BIGINT AS n_chars_measured, "
            "(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))::BIGINT "
            "AS n_vowels FROM documents"
        ),
        "quality_features": (
            "SELECT doc_id::BIGINT AS doc_id, "
            "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            "len(string_split_regex(trim(text), '\\s+')) END::BIGINT AS n_tokens, "
            "len(regexp_extract_all(text, '\\b(the|a|and|of|to|is|in)\\b'))::BIGINT "
            "AS stop_hits, "
            "(length(text) - length(regexp_replace(text, '[^A-Za-z0-9_ ]', '', 'g')))"
            "::BIGINT AS punct_chars, "
            "(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
            "::BIGINT AS digit_chars "
            "FROM documents"
        ),
        "ngram_jaccard_pairs": (
            "WITH g AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, greatest(length(text) - 2, 1)), "
            "i -> substring(text, i, 3))) AS grams "
            "FROM documents WHERE doc_id < 50) "
            "SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b, "
            "round(len(list_intersect(a.grams, b.grams))::DOUBLE / "
            "len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard "
            "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1"
        ),
        "bpe_token_stats": (
            "WITH docs AS (SELECT doc_id, text || ' doc#' || "
            "doc_id::VARCHAR || ' v1.2, don''t' AS text FROM documents) "
            "SELECT doc_id::BIGINT AS doc_id, "
            "len(regexp_extract_all(text, "
            f"'{_BPE_PATTERN.replace(chr(39), chr(39) * 2)}'))::BIGINT "
            "AS n_bpe_tokens, "
            "len(regexp_extract_all(text, ' ?\\p{L}+'))::BIGINT "
            "AS n_alpha_runs, "
            "len(regexp_extract_all(text, ' ?\\p{N}+'))::BIGINT "
            "AS n_digit_runs, "
            "len(regexp_extract_all(text, "
            f"'{_BPE_CONTR.replace(chr(39), chr(39) * 2)}'))::BIGINT "
            "AS n_contractions "
            "FROM docs"
        ),
        "ann_cosine_topk": (
            "SELECT query_id::BIGINT AS query_id, rn::BIGINT AS rank, "
            "neighbor_id::BIGINT AS neighbor_id, round(sim, 3) AS cosine_sim FROM ("
            "SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, "
            "list_cosine_similarity(q.embedding, e.embedding) AS sim, "
            "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rn "
            "FROM embeddings q, embeddings e "
            "WHERE q.vec_id < 5 AND e.vec_id != q.vec_id) WHERE rn <= 3"
        ),
        "ann_cosine_ivf": (
            # identical to ann_cosine_topk: with n_probe = n_cells the
            # IVF result IS the exact brute-force top-k
            "SELECT query_id::BIGINT AS query_id, rn::BIGINT AS rank, "
            "neighbor_id::BIGINT AS neighbor_id, round(sim, 3) AS cosine_sim FROM ("
            "SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, "
            "list_cosine_similarity(q.embedding, e.embedding) AS sim, "
            "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rn "
            "FROM embeddings q, embeddings e "
            "WHERE q.vec_id < 5 AND e.vec_id != q.vec_id) WHERE rn <= 3"
        ),
        "lang_id": _lang_id_oracle_sql(),
        "minhash_lsh_pairs": _minhash_lsh_pairs_oracle_sql(),
        "simhash_fingerprints": (
            # mirrors operators/dedup.simhash exactly: whitespace tokens
            # of lower(trim(text)), 60-bit md5-prefix hash per token
            # INSTANCE, per-bit ±1 vote, bit set iff vote > 0
            "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
            "lower(trim(text)), '\\s+')) AS tok FROM documents), "
            "h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT "
            "AS h FROM toks WHERE tok <> ''), "
            "bits AS (SELECT doc_id, b AS bit, "
            "sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v "
            "FROM h, (SELECT unnest(generate_series(0, 59)) AS b) "
            "GROUP BY doc_id, b), "
            "fp AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) "
            "ELSE 0 END) AS simhash FROM bits GROUP BY doc_id) "
            "SELECT d.doc_id::BIGINT AS doc_id, "
            "coalesce(fp.simhash, 0)::BIGINT AS simhash "
            "FROM documents d LEFT JOIN fp USING (doc_id)"
        ),
        "dedup_clusters": (
            # recursive min-reachable-id over the brute-force J>=0.9
            # near-dup graph (same shingle arithmetic as the recall
            # oracle); singletons are their own canonical id
            "WITH RECURSIVE "
            "n AS (SELECT doc_id, trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g')) AS t FROM documents), "
            "s AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, length(t) - 4), i -> "
            "('0x' || substr(md5(substring(t, i, 5)), 1, 15))::BIGINT)) "
            "AS sh FROM n WHERE length(t) >= 5), "
            "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id "
            "WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0 AND "
            "len(list_intersect(a.sh, b.sh)) * 10 >= "
            "len(list_distinct(list_concat(a.sh, b.sh))) * 9), "
            "e AS (SELECT pa AS a, pb AS b FROM p "
            "UNION SELECT pb, pa FROM p), "
            "reach(node, lbl) AS ("
            "SELECT doc_id, doc_id FROM documents "
            "UNION "
            "SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node) "
            "SELECT node::BIGINT AS doc_id, min(lbl)::BIGINT AS "
            "canonical_id FROM reach GROUP BY node"
        ),
        "simhash_near_dups": (
            # brute-force all-pairs Hamming <= 3 over the same
            # fingerprints the simhash_fingerprints oracle derives
            "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
            "lower(trim(text)), '\\s+')) AS tok FROM documents), "
            "h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT "
            "AS h FROM toks WHERE tok <> ''), "
            "bits AS (SELECT doc_id, b AS bit, "
            "sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v "
            "FROM h, (SELECT unnest(generate_series(0, 59)) AS b) "
            "GROUP BY doc_id, b), "
            "fpx AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) "
            "ELSE 0 END) AS simhash FROM bits GROUP BY doc_id), "
            "fp AS (SELECT d.doc_id, coalesce(fpx.simhash, 0) AS simhash "
            "FROM documents d LEFT JOIN fpx USING (doc_id)) "
            "SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b, "
            "bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming "
            "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
        "minhash_lsh_recall": (
            # brute-force all-pairs exact 5-shingle Jaccard ≥ 0.9 over the
            # whitespace-normalized lowercase text — the LSH candidates
            # must contain every such pair.  Shingles hashed to int64 via
            # the md5-prefix, bit-identical to the Spark side.
            "WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g')) AS t FROM documents), "
            "s AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, length(t) - 4), i -> "
            "('0x' || substr(md5(substring(t, i, 5)), 1, 15))::BIGINT)) "
            "AS sh FROM n WHERE length(t) >= 5) "
            "SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b, "
            "len(list_intersect(a.sh, b.sh))::BIGINT AS inter_size, "
            "len(list_distinct(list_concat(a.sh, b.sh)))::BIGINT AS union_size "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id "
            "WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0 AND "
            "len(list_intersect(a.sh, b.sh)) * 10 >= "
            "len(list_distinct(list_concat(a.sh, b.sh))) * 9"
        ),
        "embedding_near_dups": (
            "SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b, "
            "round(list_cosine_similarity(a.embedding, b.embedding), 3) AS sim "
            "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9"
        ),
        "streaming_hourly_counts": (
            # append-mode semantics: only windows closed by the final
            # watermark (max event time − 30 min) are ever emitted;
            # Spark's eviction predicate is window_end <= watermark
            "WITH g AS (SELECT date_trunc('hour', ts) AS w, event_type, "
            "count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2) "
            "SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start, "
            "event_type, n_events FROM g "
            "WHERE w + INTERVAL 1 HOUR <= "
            "(SELECT max(ts) - INTERVAL 30 MINUTE FROM events)"
        ),
        # identical field reconstruction as rfc3164_parse: the raw-file
        # round-trip (write wire lines → spark.read.text → parse) must
        # lose nothing
        "read_syslog_lines": f"SELECT {_SQL_3164_FIELDS} FROM events",
        "read_syslog_octet": (
            "SELECT event_id, (event_id % 192)::BIGINT AS priority, "
            "'h' || (user_id % 50) AS host, 'app' || (event_id % 7) AS app, "
            "(event_id % 1000)::VARCHAR AS procid, "
            "'ID' || (event_id % 97) AS msgid, "
            "'evt ' || event_type || ' #' || event_id || chr(10) AS message, "
            "(length('evt ' || event_type || ' #' || event_id) + 1)::BIGINT "
            "AS msg_length, "
            "'2024-01-' || lpad((1 + event_id % 28)::VARCHAR, 2, '0') || ' ' "
            "|| lpad((event_id % 14)::VARCHAR, 2, '0') || ':' "
            "|| lpad(((event_id * 11) % 60)::VARCHAR, 2, '0') || ':' "
            "|| lpad(((event_id * 29) % 60)::VARCHAR, 2, '0') AS msg_ts_str "
            "FROM events"
        ),
        "ann_ivf_reduced_probe": _ann_ivf_reduced_probe_oracle_sql(),
        "ann_ivf_trained": _ann_ivf_trained_oracle_sql(),
        "ann_lsh_bucketed": _ann_lsh_bucketed_oracle_sql(),
        "embedding_near_dups_lsh": _embedding_near_dups_lsh_oracle_sql(),
        "label_centroids": (
            # unnest + generate_subscripts advance in lockstep in DuckDB,
            # mirroring posexplode; pos is 0-based on the Spark side
            "WITH e AS (SELECT label, unnest(embedding)::DOUBLE AS val, "
            "generate_subscripts(embedding, 1) - 1 AS pos FROM embeddings) "
            "SELECT label, pos::BIGINT AS pos, count(*)::BIGINT AS n_vecs, "
            "round(avg(val), 5) AS centroid_val FROM e GROUP BY label, pos"
        ),
        "train_val_split": (
            "WITH s AS (SELECT user_id, CASE WHEN "
            "('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 100 "
            "< 90 THEN 'train' ELSE 'val' END AS split FROM events) "
            "SELECT split, count(*)::BIGINT AS n_events, "
            "count(DISTINCT user_id)::BIGINT AS n_users "
            "FROM s GROUP BY split"
        ),
        "decontaminate": (
            # char-13-gram overlap vs the doc_id%97==0 eval slice;
            # range(a,b) is [a,b) so +1 mirrors Spark's inclusive
            # sequence(1, greatest(len-12, 1))
            "WITH bg AS (SELECT DISTINCT substring(text, g, 13) AS gram "
            "FROM documents, UNNEST(range(1, greatest(length(text) - 12, 1)"
            " + 1)) AS t(g) WHERE doc_id % 97 = 0), "
            "dg AS (SELECT DISTINCT d.doc_id, substring(d.text, g, 13) AS "
            "gram FROM documents d, UNNEST(range(1, greatest(length(d.text)"
            " - 12, 1) + 1)) AS t(g) WHERE d.doc_id % 97 <> 0) "
            "SELECT doc_id, count(*)::BIGINT AS n_contaminated_grams "
            "FROM dg JOIN bg USING (gram) GROUP BY doc_id"
        ),
        "pack_shards": (
            # the single-window formulation the distributed two-phase
            # prefix sum must equal exactly
            "WITH t AS (SELECT doc_id, len(string_split_regex(trim(text), "
            "'\\s+'))::BIGINT AS n_tokens FROM documents) "
            "SELECT doc_id, n_tokens, floor((sum(n_tokens) OVER "
            "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) "
            "/ 2000)::BIGINT AS shard_idx FROM t"
        ),
        "stratified_sample": (
            "WITH kept AS (SELECT source, doc_id FROM documents WHERE "
            "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 "
            "< CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000 "
            "WHEN 'src2' THEN 1000 ELSE 2500 END) "
            "SELECT source, count(*)::BIGINT AS n_kept, "
            "sum(doc_id)::BIGINT AS id_checksum FROM kept GROUP BY source"
        ),
        "repetition_filter": (
            # one tagged-gram pass: n=1 words, n=2 word bigrams; the
            # fractions are exact integer ratios in double arithmetic,
            # identical IEEE ops in both engines
            "WITH w AS (SELECT doc_id, string_split_regex(trim(text), "
            "'\\s+') AS ws FROM documents), "
            "g AS (SELECT doc_id, 1 AS n, unnest(ws) AS gram FROM w "
            "UNION ALL SELECT doc_id, 2 AS n, unnest(list_transform("
            "generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || "
            "ws[i + 1])) AS gram FROM w), "
            "c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g "
            "GROUP BY doc_id, n, gram), "
            "a AS (SELECT doc_id, "
            "sum(CASE WHEN n = 1 THEN cnt END)::BIGINT AS n_words, "
            "count(CASE WHEN n = 1 THEN 1 END)::BIGINT AS n_dw, "
            "coalesce(sum(CASE WHEN n = 2 THEN cnt END), 0)::BIGINT "
            "AS n_2g, "
            "count(CASE WHEN n = 2 THEN 1 END)::BIGINT AS n_d2, "
            "coalesce(max(CASE WHEN n = 2 THEN cnt END), 0)::BIGINT "
            "AS top2 FROM c GROUP BY doc_id) "
            "SELECT doc_id::BIGINT AS doc_id, n_words, "
            "round(1.0 - n_dw / CAST(n_words AS DOUBLE), 5) "
            "AS dup_word_frac, "
            "CASE WHEN n_2g > 0 THEN round(1.0 - n_d2 / "
            "CAST(n_2g AS DOUBLE), 5) ELSE 0.0 END AS dup_2gram_frac, "
            "CASE WHEN n_2g > 0 THEN round(top2 / CAST(n_2g AS DOUBLE), "
            "5) ELSE 0.0 END AS top_2gram_frac, "
            "((CASE WHEN n_2g > 0 THEN top2 / CAST(n_2g AS DOUBLE) "
            "ELSE 0.0 END) > 0.20 OR "
            "(1.0 - n_dw / CAST(n_words AS DOUBLE)) > 0.70) "
            "AS repetitive FROM a"
        ),
        "pii_redaction": (
            # sequential count-then-replace chain, same order as
            # PII_PATTERNS (email, ssn, phone, ip); 'g' flag because
            # DuckDB regexp_replace is first-match-only by default
            # while Spark's replaces all
            "WITH s AS (SELECT doc_id, text || CASE doc_id % 5 "
            "WHEN 0 THEN ' user' || doc_id || '@example.com' "
            "WHEN 1 THEN ' ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') "
            "|| '-' || lpad((doc_id % 100)::VARCHAR, 2, '0') || '-' || "
            "lpad((doc_id % 10000)::VARCHAR, 4, '0') "
            "WHEN 2 THEN ' 555-' || lpad((doc_id % 1000)::VARCHAR, 3, "
            "'0') || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') "
            "WHEN 3 THEN ' 10.' || (doc_id % 256) || '.' || "
            "((doc_id // 7) % 256) || '.' || (doc_id % 254 + 1) "
            "ELSE '' END AS t0 FROM documents), "
            "r1 AS (SELECT doc_id, len(regexp_extract_all(t0, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT"
            " AS n_email, regexp_replace(t0, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'<EMAIL>', 'g') AS t1 FROM s), "
            "r2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t1, "
            "'\\b\\d{3}-\\d{2}-\\d{4}\\b'))::BIGINT AS n_ssn, "
            "regexp_replace(t1, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', "
            "'g') AS t2 FROM r1), "
            "r3 AS (SELECT doc_id, n_email, n_ssn, "
            "len(regexp_extract_all(t2, "
            "'\\b\\d{3}-\\d{3}-\\d{4}\\b'))::BIGINT AS n_phone, "
            "regexp_replace(t2, '\\b\\d{3}-\\d{3}-\\d{4}\\b', "
            "'<PHONE>', 'g') AS t3 FROM r2), "
            "r4 AS (SELECT doc_id, n_email, n_ssn, n_phone, "
            "len(regexp_extract_all(t3, "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT"
            " AS n_ip, regexp_replace(t3, "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', "
            "'g') AS t4 FROM r3) "
            "SELECT doc_id::BIGINT AS doc_id, n_email, n_ssn, n_phone, "
            "n_ip, md5(t4) AS redacted_md5 FROM r4"
        ),
        "ann_quantized_topk": (
            # floor-based int8 quantizer replayed exactly: float32
            # max|v| promoted to double, IEEE double arithmetic, floor
            # → exact integers; the ranking metric is integer dot
            # products whose doubles stay under 2^53, so zero tolerance
            "WITH m AS (SELECT vec_id, embedding, greatest(CAST("
            "list_max(list_transform(embedding, y -> abs(y))) AS "
            "DOUBLE), 1e-30) AS ma FROM embeddings), "
            "q8 AS (SELECT vec_id, list_transform(embedding, x -> "
            "CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT)) "
            "AS qv FROM m), "
            "p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,"
            " CAST(list_sum(list_transform(generate_series(1, "
            "len(c.qv)), i -> c.qv[i] * q.qv[i])) AS BIGINT) AS qdot, "
            "CAST(list_sum(list_transform(generate_series(1, "
            "len(c.qv)), i -> c.qv[i] * c.qv[i])) AS BIGINT) AS qaa, "
            "CAST(list_sum(list_transform(generate_series(1, "
            "len(q.qv)), i -> q.qv[i] * q.qv[i])) AS BIGINT) AS qbb "
            "FROM q8 c, q8 q WHERE q.vec_id < 5 AND "
            "c.vec_id <> q.vec_id), "
            "r AS (SELECT query_id, neighbor_id, qdot, "
            "CAST(qdot AS DOUBLE) / sqrt(CAST(qaa AS DOUBLE) * "
            "CAST(qbb AS DOUBLE)) AS qsim, "
            "row_number() OVER (PARTITION BY query_id ORDER BY "
            "CAST(qdot AS DOUBLE) / sqrt(CAST(qaa AS DOUBLE) * "
            "CAST(qbb AS DOUBLE)) DESC, neighbor_id) AS rank FROM p) "
            "SELECT query_id, rank::BIGINT AS rank, neighbor_id, qdot, "
            "round(qsim, 4) AS qsim FROM r WHERE rank <= 3"
        ),
        "hll_distinct": _hll_oracle_sql(),
        "kmv_source_jaccard": (
            # KMV bottom-64 signatures per source, then the Bar-Yossef
            # estimator: T = 64 smallest of sig(A) ∪ sig(B),
            # J ≈ |T ∩ A ∩ B| / |T| — exact integer set arithmetic over
            # sorted 60-bit md5 hashes, one IEEE division at the end
            "WITH t AS (SELECT source, unnest(string_split_regex("
            "trim(text), '\\s+')) AS term FROM documents), "
            "p AS (SELECT DISTINCT source, ('0x' || substr(md5(term), "
            "1, 15))::BIGINT AS h FROM t), "
            "r AS (SELECT source, h, row_number() OVER (PARTITION BY "
            "source ORDER BY h) AS rk FROM p), "
            "s AS (SELECT source, list_sort(list(h)) AS sig FROM r "
            "WHERE rk <= 64 GROUP BY source), "
            "pr AS (SELECT a.source AS group_a, b.source AS group_b, "
            "list_slice(list_sort(list_distinct(list_concat(a.sig, "
            "b.sig))), 1, 64) AS uk, "
            "list_intersect(a.sig, b.sig) AS bo "
            "FROM s a JOIN s b ON a.source < b.source) "
            "SELECT group_a, group_b, "
            "len(list_intersect(uk, bo))::BIGINT AS n_common, "
            "len(uk)::BIGINT AS k_used, "
            "round(len(list_intersect(uk, bo)) / CAST(len(uk) AS "
            "DOUBLE), 5) AS jaccard_est FROM pr"
        ),
        "substring_dup_stats": (
            # strided 40-char windows; a window is duplicated iff its
            # 60-bit md5 prefix occurs >= 2 times corpus-wide (analytic
            # count over the hash, exactly like the Spark plan); docs
            # shorter than the window carry zero windows
            "WITH w AS (SELECT d.doc_id, substring(d.text, g, 40) AS "
            "win FROM documents d, UNNEST(generate_series(1, "
            "length(d.text) - 39, 10)) AS t(g) "
            "WHERE length(d.text) >= 40), "
            "h AS (SELECT doc_id, ('0x' || substr(md5(win), 1, 15))"
            "::BIGINT AS wh FROM w), "
            "m AS (SELECT doc_id, CASE WHEN count(*) OVER (PARTITION "
            "BY wh) >= 2 THEN 1 ELSE 0 END AS dup FROM h), "
            "a AS (SELECT doc_id, count(*)::BIGINT AS n_windows, "
            "sum(dup)::BIGINT AS n_dup_windows FROM m GROUP BY doc_id) "
            "SELECT d.doc_id::BIGINT AS doc_id, "
            "coalesce(a.n_windows, 0)::BIGINT AS n_windows, "
            "coalesce(a.n_dup_windows, 0)::BIGINT AS n_dup_windows, "
            "round(CASE WHEN coalesce(a.n_windows, 0) > 0 THEN "
            "a.n_dup_windows / CAST(a.n_windows AS DOUBLE) ELSE 0.0 "
            "END, 5) AS dup_frac "
            "FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id"
        ),
        "tfidf_top_terms": (
            # linear-idf tf-idf: score = (tf/doc_len) * (N/df), pure
            # IEEE +,*,/ in the same op order as the Spark plan, so the
            # pre-round ranking is bit-identical; ties break on term
            "WITH w AS (SELECT doc_id, string_split_regex(trim(text), "
            "'\\s+') AS ws FROM documents), "
            "c AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM "
            "(SELECT doc_id, unnest(ws) AS term FROM w) GROUP BY "
            "doc_id, term), "
            "d AS (SELECT doc_id, term, tf, sum(tf) OVER (PARTITION "
            "BY doc_id) AS doc_len FROM c), "
            "f AS (SELECT term, count(*)::BIGINT AS doc_freq FROM c "
            "GROUP BY term), "
            "n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs "
            "FROM documents), "
            "s AS (SELECT doc_id, d.term, tf, doc_freq, "
            "(tf / CAST(doc_len AS DOUBLE)) * (n_docs / doc_freq) AS "
            "score FROM d JOIN f ON d.term = f.term CROSS JOIN n), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score DESC, term ASC) AS rank FROM s) "
            "SELECT doc_id::BIGINT AS doc_id, rank::BIGINT AS rank, "
            "term, tf, doc_freq, round(score, 6) AS score FROM r "
            "WHERE rank <= 3"
        ),
        "length_profile": (
            # exact interpolated quantiles over integer lengths:
            # quantile_cont's lo + (hi-lo)*frac is the same IEEE
            # arithmetic as Spark's percentile; the mean is an integer
            # sum with one final division
            "WITH l AS (SELECT source, length(text)::BIGINT AS chars, "
            "(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            "len(string_split_regex(trim(text), '\\s+')) END)::BIGINT "
            "AS toks FROM documents) "
            "SELECT source, count(*)::BIGINT AS n_docs, "
            "round(sum(chars) / CAST(count(*) AS DOUBLE), 4) AS "
            "mean_chars, "
            "round(quantile_cont(chars, 0.5), 4) AS p50_chars, "
            "round(quantile_cont(chars, 0.9), 4) AS p90_chars, "
            "round(quantile_cont(chars, 0.99), 4) AS p99_chars, "
            "round(quantile_cont(toks, 0.5), 4) AS p50_toks, "
            "round(quantile_cont(toks, 0.9), 4) AS p90_toks, "
            "round(quantile_cont(toks, 0.99), 4) AS p99_toks "
            "FROM l GROUP BY source"
        ),
        "normalize_profile": (
            # NFC -> lower -> control chars to spaces -> collapse \s+
            # -> trim, then md5 the result: any per-row divergence in
            # the normalization chain fails the hash
            "SELECT doc_id::BIGINT AS doc_id, "
            "length(n)::BIGINT AS norm_len, md5(n) AS norm_md5 FROM ("
            "SELECT doc_id, trim(regexp_replace(regexp_replace("
            "lower(nfc_normalize(text)), '[\\x00-\\x1f\\x7f]', ' ', "
            "'g'), '\\s+', ' ', 'g')) AS n FROM documents)"
        ),
        "conv_reassembly": (
            # stable (ts, event_id) turn order per conversation; md5 of
            # the ordered type path pins ordering AND content
            "SELECT user_id::BIGINT AS user_id, count(*)::BIGINT AS n_turns, "
            "md5(string_agg(event_type, '>' ORDER BY ts, event_id)) AS path_md5, "
            "first(event_type ORDER BY ts, event_id) AS first_type, "
            "last(event_type ORDER BY ts, event_id) AS last_type "
            "FROM events GROUP BY user_id"
        ),
        "turn_transitions": (
            "WITH t AS (SELECT user_id, event_type, lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) "
            "SELECT prev AS prev_state, event_type AS curr_state, "
            "count(*)::BIGINT AS n FROM t WHERE prev IS NOT NULL "
            "GROUP BY prev, event_type"
        ),
        "turn_gap_stats": (
            # date_diff('second') == unix-second truncation, the proven
            # sessionize pairing with Spark's unix_timestamp arithmetic
            "WITH t AS (SELECT event_type, date_diff('second', "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) "
            "AS gap FROM events) "
            "SELECT event_type, count(*)::BIGINT AS n_gaps, "
            "sum(gap)::BIGINT AS sum_gap_sec, max(gap)::BIGINT AS max_gap_sec "
            "FROM t WHERE gap IS NOT NULL GROUP BY event_type"
        ),
        "doc_chunking": (
            # unnest(range(...)) replays the stride arithmetic: starts
            # 1, 1+192, ... <= length(text) (>=1 chunk per doc; range's
            # exclusive stop needs the +1)
            "SELECT doc_id::BIGINT AS doc_id, "
            "((gs - 1) // 192)::BIGINT AS chunk_idx, gs::BIGINT AS chunk_start, "
            "length(substr(text, gs::INT, 256))::BIGINT AS chunk_len, "
            "md5(substr(text, gs::INT, 256)) AS chunk_md5 FROM ("
            "SELECT doc_id, text, unnest(range(1, greatest(length(text), 1) "
            "+ 1, 192)) AS gs FROM documents)"
        ),
        "asof_enrich": (
            # native ASOF JOIN — an independent engine's implementation
            # of the backward-inclusive as-of semantics
            "SELECT c.event_id::BIGINT AS event_id, "
            "c.user_id::BIGINT AS user_id, b.buy_id::BIGINT AS buy_id, "
            "date_diff('second', b.buy_ts, c.ts)::BIGINT AS asof_lag_sec "
            "FROM (SELECT event_id, user_id, ts FROM events "
            "WHERE event_type = 'click') c "
            "ASOF LEFT JOIN (SELECT user_id AS b_user, ts AS buy_ts, "
            "event_id AS buy_id FROM events WHERE event_type = 'purchase') b "
            "ON c.user_id = b.b_user AND c.ts >= b.buy_ts"
        ),
        "range_attribution": (
            # the plain inequality join the bucketized equi-join must
            # reproduce exactly
            "SELECT e.event_id::BIGINT AS err_id, b.event_id::BIGINT AS buy_id, "
            "e.user_id::BIGINT AS user_id, "
            "date_diff('second', b.ts, e.ts)::BIGINT AS delay_sec "
            "FROM (SELECT * FROM events WHERE event_type = 'error') e "
            "JOIN (SELECT * FROM events WHERE event_type = 'purchase') b "
            "ON e.user_id = b.user_id AND e.ts >= b.ts "
            "AND e.ts < b.ts + INTERVAL 30 MINUTE"
        ),
        "upsample_mix": (
            # replay: whole copies per stratum + one md5-bucket
            # fractional copy; factor-0 strata vanish (range(0,0)=[])
            "WITH f AS (SELECT doc_id, source, "
            "CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 "
            "WHEN 'src2' THEN 0 ELSE 1 END "
            "+ CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT "
            "% 10000 < CASE source WHEN 'src0' THEN 5000 WHEN 'src1' "
            "THEN 5000 ELSE 0 END THEN 1 ELSE 0 END AS n_copies "
            "FROM documents) "
            "SELECT doc_id::BIGINT AS doc_id, source, "
            "unnest(range(0, n_copies))::BIGINT AS copy_idx FROM f"
        ),
        "deterministic_shuffle": (
            "SELECT doc_id::BIGINT AS doc_id, "
            "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16)"
            "::BIGINT AS shard_idx, "
            "(row_number() OVER (PARTITION BY ('0x' || "
            "substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16 "
            "ORDER BY md5(doc_id::VARCHAR), doc_id) - 1)::BIGINT "
            "AS pos_in_shard FROM documents"
        ),
        "read_jsonl_corpus": (
            # every 41st line was truncated mid-string -> bad_json DLQ
            # row with NULL fields; the rest parse intact
            "SELECT CASE WHEN doc_id % 41 = 0 THEN NULL ELSE doc_id END"
            "::BIGINT AS doc_id, "
            "CASE WHEN doc_id % 41 = 0 THEN NULL ELSE length(text) END"
            "::BIGINT AS n_chars, "
            "CASE WHEN doc_id % 41 = 0 THEN NULL ELSE lang END AS lang, "
            "CASE WHEN doc_id % 41 = 0 THEN 'bad_json' END AS err_code "
            "FROM documents"
        ),
        "rolling_user_activity": (
            # integer-day RANGE frame: calendar window, gap-safe
            "WITH d AS (SELECT user_id, date_diff('day', DATE '1970-01-01', "
            "ts::DATE)::BIGINT AS day_num, count(*)::BIGINT AS n_day "
            "FROM events GROUP BY user_id, ts::DATE) "
            "SELECT user_id::BIGINT AS user_id, day_num, n_day, "
            "sum(n_day) OVER (PARTITION BY user_id ORDER BY day_num "
            "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS n_rolling "
            "FROM d"
        ),
        "hourly_anomalies": (
            # exact integer 3-sigma cross-multiplication replay
            "WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts, "
            "count(*)::BIGINT AS n FROM events GROUP BY event_type, "
            "date_trunc('hour', ts)), "
            "t AS (SELECT event_type, count(*)::BIGINT AS hh, "
            "sum(n)::BIGINT AS tot, sum(n*n)::BIGINT AS ssq FROM h "
            "GROUP BY event_type) "
            "SELECT h.event_type, h.hour_ts, h.n, "
            "CASE WHEN t.hh > 1 THEN "
            "(t.hh*h.n - t.tot)*(t.hh*h.n - t.tot)*(t.hh - 1) > "
            "9*(t.hh*t.ssq - t.tot*t.tot) ELSE FALSE END AS is_anomaly "
            "FROM h JOIN t ON h.event_type = t.event_type"
        ),
        "length_quantiles": (
            # quantile_cont == Spark's exact percentile at dyadic p on
            # integer inputs: bit-identical doubles
            "SELECT source, count(*)::BIGINT AS n, "
            "quantile_cont(n_chars, 0.25) AS p25, "
            "quantile_cont(n_chars, 0.50) AS p50, "
            "quantile_cont(n_chars, 0.75) AS p75 "
            "FROM documents GROUP BY source"
        ),
        "cms_heavy_hitters": (
            # Count-Min replay: 4 salted md5 hash rows into 128 buckets,
            # counter table, min-fold point estimates for every distinct
            # term, rank by (estimate desc, term asc) — all integer
            # arithmetic, bit-identical to the Spark plan
            "WITH t AS (SELECT unnest(string_split_regex(trim(text), "
            "'\\s+')) AS term FROM documents), "
            "b AS (SELECT term, u.i, ('0x' || substr(md5(u.i::VARCHAR "
            "|| ':' || term), 1, 15))::BIGINT % 128 AS bucket "
            "FROM t, UNNEST([0, 1, 2, 3]) AS u(i)), "
            "sk AS (SELECT i, bucket, count(*)::BIGINT AS cnt FROM b "
            "GROUP BY i, bucket), "
            "ex AS (SELECT term, count(*)::BIGINT AS exact_cnt FROM t "
            "GROUP BY term), "
            "pr AS (SELECT e.term, e.exact_cnt, u.i, ('0x' || "
            "substr(md5(u.i::VARCHAR || ':' || e.term), 1, 15))::BIGINT "
            "% 128 AS bucket FROM ex e, UNNEST([0, 1, 2, 3]) AS u(i)), "
            "est AS (SELECT term, exact_cnt, min(cnt) AS cms_est FROM "
            "pr JOIN sk ON pr.i = sk.i AND pr.bucket = sk.bucket "
            "GROUP BY term, exact_cnt), "
            "r AS (SELECT *, row_number() OVER (ORDER BY cms_est DESC, "
            "term ASC) AS rank FROM est) "
            "SELECT rank::BIGINT AS rank, term, cms_est::BIGINT AS "
            "cms_est, exact_cnt, (cms_est - exact_cnt)::BIGINT AS "
            "overcount FROM r WHERE rank <= 20"
        ),
        "bloom_decontaminate": (
            # Bloom replay: benchmark = doc_id % 97 == 0 slice's md5
            # text fingerprints; 5 salted hashes into 64 bits; a probe
            # hits iff all 5 positions are set; membership is an exact
            # fingerprint join; hits - members = false positives
            "WITH fp AS (SELECT doc_id, source, md5(text) AS f FROM "
            "documents), "
            "bench AS (SELECT DISTINCT f FROM fp WHERE doc_id % 97 = 0), "
            "bits AS (SELECT DISTINCT ('0x' || substr(md5(u.j::VARCHAR "
            "|| ':' || f), 1, 15))::BIGINT % 64 AS bit "
            "FROM bench, UNNEST([0, 1, 2, 3, 4]) AS u(j)), "
            "pos AS (SELECT doc_id, source, f, ('0x' || "
            "substr(md5(u.j::VARCHAR || ':' || f), 1, 15))::BIGINT % 64 "
            "AS bit FROM fp, UNNEST([0, 1, 2, 3, 4]) AS u(j)), "
            "hit AS (SELECT doc_id, source, f, CASE WHEN "
            "min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 1 THEN 1 "
            "ELSE 0 END AS h FROM pos LEFT JOIN bits b ON pos.bit = "
            "b.bit GROUP BY doc_id, source, f), "
            "m AS (SELECT hit.*, CASE WHEN bench.f IS NULL THEN 0 ELSE "
            "1 END AS mem FROM hit LEFT JOIN bench ON hit.f = bench.f) "
            "SELECT source, count(*)::BIGINT AS n_docs, "
            "sum(h)::BIGINT AS n_bloom_hits, "
            "sum(mem)::BIGINT AS n_members, "
            "(sum(h) - sum(mem))::BIGINT AS n_false_pos "
            "FROM m GROUP BY source"
        ),
        "corpus_curation": (
            # quality-filtered variant of the dedup_clusters oracle:
            # recursive min-reachable-id over the brute-force J>=0.9
            # graph restricted to docs with >= 10 whitespace tokens;
            # kept docs are their own canonical id
            "WITH RECURSIVE "
            "dq AS (SELECT doc_id, text FROM documents "
            "WHERE len(string_split_regex(trim(text), '\\s+')) >= 10), "
            "n AS (SELECT doc_id, trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g')) AS t FROM dq), "
            "s AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, length(t) - 4), i -> "
            "('0x' || substr(md5(substring(t, i, 5)), 1, 15))::BIGINT)) "
            "AS sh FROM n WHERE length(t) >= 5), "
            "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id "
            "WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0 AND "
            "len(list_intersect(a.sh, b.sh)) * 10 >= "
            "len(list_distinct(list_concat(a.sh, b.sh))) * 9), "
            "e AS (SELECT pa AS a, pb AS b FROM p "
            "UNION SELECT pb, pa FROM p), "
            "reach(node, lbl) AS ("
            "SELECT doc_id, doc_id FROM dq "
            "UNION "
            "SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node) "
            "SELECT node::BIGINT AS doc_id FROM reach "
            "GROUP BY node HAVING node = min(lbl)"
        ),
        "streaming_dedup_keys": (
            "SELECT DISTINCT event_id::BIGINT AS event_id, "
            "user_id::BIGINT AS user_id, event_type FROM events"
        ),
        "streaming_interval_join": (
            # inner stream-stream interval join with every row in one
            # availableNow microbatch == the batch interval join: error
            # -> same-user purchase within [err_ts, err_ts + 4h]
            "SELECT e.user_id::BIGINT AS user_id, "
            "e.event_id::BIGINT AS err_id, "
            "p.event_id::BIGINT AS buy_id, "
            "CAST(date_diff('second', e.ts, p.ts) AS BIGINT) AS "
            "delay_sec "
            "FROM events e JOIN events p ON e.user_id = p.user_id "
            "AND e.event_type = 'error' AND p.event_type = 'purchase' "
            "AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 4 HOUR"
        ),
        "rollup_type_dow": (
            # DuckDB GROUPING() returns the same SQL-standard bitmask
            # as Spark's grouping_id(); isodow-1 == Spark's weekday()
            "SELECT coalesce(event_type, 'ALL') AS event_type, "
            "coalesce(dow::VARCHAR, 'ALL') AS dow, "
            "GROUPING(event_type, dow)::BIGINT AS grouping_id, "
            "count(*)::BIGINT AS n, "
            "sum(event_id)::BIGINT AS sum_event_id "
            "FROM (SELECT event_type, (isodow(ts) - 1)::BIGINT AS dow, "
            "event_id FROM events) GROUP BY ROLLUP(event_type, dow)"
        ),
        "cube_status_priority": (
            "SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus, "
            "coalesce(o_orderpriority, 'ALL') AS o_orderpriority, "
            "GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS "
            "grouping_id, count(*)::BIGINT AS n, "
            "sum(o_orderkey)::BIGINT AS sum_key "
            "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"
        ),
        "grouping_sets_returns": (
            # l_quantity is integral-valued in TPC-H: the BIGINT cast
            # of the double sum is exact on both engines
            "SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, "
            "coalesce(l_linestatus, 'ALL') AS l_linestatus, "
            "GROUPING(l_returnflag, l_linestatus)::BIGINT AS grouping_id, "
            "count(*)::BIGINT AS n, sum(l_quantity)::BIGINT AS sum_qty "
            "FROM lineitem GROUP BY GROUPING SETS "
            "((l_returnflag, l_linestatus), (l_returnflag), ())"
        ),
        "unpivot_doc_metrics": (
            # UNION ALL replays the melt; regexp_split_to_array mirrors
            # Spark's split() on \s+ (both keep leading-empty fields)
            r"WITH wide AS (SELECT doc_id::BIGINT AS doc_id, "
            r"n_chars::BIGINT AS n_chars, "
            r"len(regexp_split_to_array(text, '\s+'))::BIGINT AS "
            r"n_ws_tokens, (length(text) - length(replace(text, "
            r"chr(10), '')) + 1)::BIGINT AS n_lines FROM documents) "
            "SELECT doc_id, 'n_chars' AS metric, n_chars AS value "
            "FROM wide UNION ALL "
            "SELECT doc_id, 'n_ws_tokens', n_ws_tokens FROM wide "
            "UNION ALL SELECT doc_id, 'n_lines', n_lines FROM wide"
        ),
        "topk_users_dense": (
            # dense_rank keeps all ties -> deterministic SET even
            # though the count order among equals is arbitrary
            "WITH counted AS (SELECT event_type, user_id, "
            "count(*)::BIGINT AS n FROM events "
            "GROUP BY event_type, user_id) "
            "SELECT event_type, user_id::BIGINT AS user_id, n, "
            "rnk::INT AS rnk FROM (SELECT *, dense_rank() OVER "
            "(PARTITION BY event_type ORDER BY n DESC) AS rnk "
            "FROM counted) WHERE rnk <= 3"
        ),
        "funnel_click_purchase": (
            "WITH c AS (SELECT user_id, min(ts) AS t_start FROM events "
            "WHERE event_type = 'click' GROUP BY user_id) "
            "SELECT e.user_id::BIGINT AS user_id, "
            "strftime(c.t_start, '%Y-%m-%d %H:%M:%S') AS t_start, "
            "date_diff('second', c.t_start, min(e.ts))::BIGINT AS "
            "funnel_sec FROM events e JOIN c USING (user_id) "
            "WHERE e.event_type = 'purchase' AND e.ts >= c.t_start "
            "GROUP BY e.user_id, c.t_start"
        ),
        "pivot_type_counts": (
            # conditional counts == pivot with explicit values
            "SELECT user_id::BIGINT AS user_id, "
            "count(*) FILTER (event_type = 'view')::BIGINT AS n_view, "
            "count(*) FILTER (event_type = 'click')::BIGINT AS n_click, "
            "count(*) FILTER (event_type = 'purchase')::BIGINT AS "
            "n_purchase, "
            "count(*) FILTER (event_type = 'signup')::BIGINT AS n_signup, "
            "count(*) FILTER (event_type = 'error')::BIGINT AS n_error "
            "FROM events GROUP BY user_id"
        ),
        "grok_extract": (
            # regex-free oracle: the fields grok must recover are
            # exactly the values the line was formatted from; corrupted
            # rows (event_id % 10 = 7 strips the leading '<') must come
            # back all-NULL with grok_matched = false
            "SELECT event_id::BIGINT AS event_id, "
            "CASE WHEN ok THEN (event_id % 192)::BIGINT END AS pri, "
            "CASE WHEN ok THEN 'host-' || "
            "lpad((user_id % 50)::VARCHAR, 2, '0') END AS host, "
            "CASE WHEN ok THEN 'app' || (event_id % 12)::VARCHAR END "
            "AS app, "
            "CASE WHEN ok THEN (event_id % 32000)::BIGINT END AS pid, "
            "CASE WHEN ok THEN event_type END AS action, "
            "CASE WHEN ok THEN (event_id % 900)::BIGINT END AS "
            "latency_ms, ok AS grok_matched "
            "FROM (SELECT *, event_id % 10 <> 7 AS ok FROM events)"
        ),
        "dq_checks": (
            # one FILTER-count per constraint; uniqueness = count minus
            # distinct composite keys; FK = orphan-row count
            "WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM lineitem), "
            "v(cname, violations) AS ("
            "SELECT 'orderkey_not_null', count(*) FILTER "
            "(l_orderkey IS NULL)::BIGINT FROM lineitem UNION ALL "
            "SELECT 'qty_range', count(*) FILTER (l_quantity IS NULL "
            "OR l_quantity < 1 OR l_quantity > 50)::BIGINT "
            "FROM lineitem UNION ALL "
            "SELECT 'price_cap', count(*) FILTER (l_extendedprice IS "
            "NULL OR l_extendedprice < 0 OR l_extendedprice > 50000)"
            "::BIGINT FROM lineitem UNION ALL "
            "SELECT 'returnflag_domain', count(*) FILTER "
            "(l_returnflag IS NULL OR NOT regexp_matches(l_returnflag, "
            "'^[ARN]$'))::BIGINT FROM lineitem UNION ALL "
            "SELECT 'linestatus_domain', count(*) FILTER "
            "(l_linestatus IS NULL OR l_linestatus NOT IN ('O', 'F'))"
            "::BIGINT FROM lineitem UNION ALL "
            "SELECT 'line_pk_unique', (count(*) - count(DISTINCT "
            "(l_orderkey, l_linenumber)))::BIGINT FROM lineitem "
            "UNION ALL SELECT 'order_fk', count(*)::BIGINT FROM "
            "lineitem WHERE l_orderkey IS NOT NULL AND l_orderkey NOT "
            "IN (SELECT o_orderkey FROM orders)) "
            'SELECT v.cname AS "constraint", v.violations, n.n_rows, '
            "v.violations = 0 AS passed FROM v, n"
        ),
        "contrastive_negatives": (
            # same md5 draw, same tiebreak -> identical sample set
            "WITH pos AS (SELECT DISTINCT user_id FROM events "
            "WHERE event_type = 'purchase'), "
            "ranked AS (SELECT e.user_id, e.event_id, row_number() "
            "OVER (PARTITION BY e.user_id ORDER BY "
            "md5(e.user_id::VARCHAR || ':' || e.event_id::VARCHAR), "
            "e.event_id) AS draw_rank FROM events e "
            "JOIN pos USING (user_id) "
            "WHERE e.event_type <> 'purchase') "
            "SELECT user_id::BIGINT AS user_id, "
            "event_id::BIGINT AS neg_id, draw_rank::INT AS draw_rank "
            "FROM ranked WHERE draw_rank <= 5"
        ),
        "resample_daily": (
            # row_number DESC over (ts, event_id) replays max_by's
            # total order; make_timestamp keeps the bucket naive (no tz)
            "WITH ranked AS (SELECT user_id, "
            "(floor(epoch(ts))::BIGINT // 86400) * 86400 AS b, "
            "floor(value * 100)::BIGINT AS v, row_number() OVER ("
            "PARTITION BY user_id, floor(epoch(ts))::BIGINT // 86400 "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM events), "
            "obs AS (SELECT user_id, b, v FROM ranked WHERE rn = 1), "
            "span AS (SELECT user_id, min(b) AS lo, max(b) AS hi "
            "FROM obs GROUP BY 1), "
            "grid AS (SELECT user_id, unnest(range(lo, hi + 1, 86400)) "
            "AS b FROM span), "
            "j AS (SELECT g.user_id, g.b, o.v FROM grid g "
            "LEFT JOIN obs o USING (user_id, b)) "
            "SELECT user_id::BIGINT AS user_id, "
            "strftime(make_timestamp(b * 1000000), "
            "'%Y-%m-%d %H:%M:%S') AS bucket_start, "
            "(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id "
            "ORDER BY b ROWS UNBOUNDED PRECEDING))::BIGINT AS cents, "
            "v IS NOT NULL AS is_observed FROM j"
        ),
        "merge_activity_spans": (
            # identical sweep in SQL: running max of previous ends,
            # new-span flag, cumulative span id, one group per span
            "WITH iv AS (SELECT user_id, floor(epoch(ts))::BIGINT AS s, "
            "floor(epoch(ts))::BIGINT + (event_id % 120 + 1) * 60 AS e "
            "FROM events), "
            "m AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY "
            "user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND 1 PRECEDING) AS pme FROM iv), "
            "f AS (SELECT user_id, s, e, CASE WHEN pme IS NULL OR "
            "s > pme THEN 1 ELSE 0 END AS brk FROM m), "
            "g AS (SELECT user_id, s, e, sum(brk) OVER (PARTITION BY "
            "user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS sid "
            "FROM f) "
            "SELECT user_id::BIGINT AS user_id, "
            "min(s)::BIGINT AS span_start, max(e)::BIGINT AS span_end, "
            "count(*)::BIGINT AS n_merged FROM g GROUP BY user_id, sid"
        ),
        "read_csv_corpus": (
            # expected values straight from the source columns; the
            # corrupt rows keep their parsed identity fields, NULL the
            # malformed metric, and carry md5 of the raw line
            "SELECT event_id::BIGINT AS event_id, "
            "user_id::BIGINT AS user_id, event_type, "
            "CASE WHEN ok THEN (event_id % 900)::BIGINT END AS "
            "latency_ms, NOT ok AS is_dlq, "
            "CASE WHEN NOT ok THEN md5(event_id::VARCHAR || ',' || "
            "user_id::VARCHAR || ',' || event_type || ',x') END AS "
            "corrupt_md5 "
            "FROM (SELECT *, event_id % 10 <> 7 AS ok FROM events)"
        ),
        "clustered_range_scan": (
            # the clustered sink must be a lossless relayout: the same
            # range aggregate over the ORIGINAL table
            "SELECT event_type, count(*)::BIGINT AS n, "
            "sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents "
            "FROM events WHERE value >= 100.0 AND value < 200.0 "
            "GROUP BY event_type"
        ),
        "winsorized_value_stats": (
            # quantile_cont == Spark percentile at dyadic p on integer
            # input; the clamped sum is exact binary quarters
            "WITH q AS (SELECT event_type, "
            "quantile_cont(floor(value * 100)::BIGINT, 0.25) AS lo, "
            "quantile_cont(floor(value * 100)::BIGINT, 0.75) AS hi "
            "FROM events GROUP BY event_type) "
            "SELECT e.event_type, count(*)::BIGINT AS n, "
            "any_value(q.lo) AS lo, any_value(q.hi) AS hi, "
            "sum(greatest(least(floor(e.value * 100)::BIGINT, q.hi), "
            "q.lo)) AS winsorized_sum "
            "FROM events e JOIN q USING (event_type) "
            "GROUP BY e.event_type"
        ),
        "value_decile_profile": (
            "WITH r AS (SELECT event_type, percent_rank() OVER ("
            "PARTITION BY event_type ORDER BY value) AS pr FROM events) "
            "SELECT event_type, least(floor(pr * 10), 9)::INT AS bucket, "
            "count(*)::BIGINT AS n FROM r GROUP BY 1, 2"
        ),
        "full_outer_reconcile": (
            "WITH c AS (SELECT user_id, ts::DATE AS day, "
            "count(*)::BIGINT AS n_clicks FROM events "
            "WHERE event_type = 'click' GROUP BY 1, 2), "
            "p AS (SELECT user_id, ts::DATE AS day, "
            "count(*)::BIGINT AS n_buys FROM events "
            "WHERE event_type = 'purchase' GROUP BY 1, 2) "
            "SELECT coalesce(c.user_id, p.user_id)::BIGINT AS user_id, "
            "strftime(coalesce(c.day, p.day), '%Y-%m-%d') AS day, "
            "coalesce(n_clicks, 0)::BIGINT AS n_clicks, "
            "coalesce(n_buys, 0)::BIGINT AS n_buys "
            "FROM c FULL OUTER JOIN p "
            "ON c.user_id = p.user_id AND c.day = p.day"
        ),
        "profile_events": " UNION ALL ".join(
            f"SELECT '{c}' AS column, "
            f"count(*) FILTER ({c} IS NULL)::BIGINT AS n_null, "
            f"count(DISTINCT {c})::BIGINT AS n_distinct, "
            + (f"coalesce(sum(length({c})), 0)::BIGINT AS sum_len "
               if c in ("event_type", "props") else
               "0::BIGINT AS sum_len ")
            + "FROM events"
            for c in ("event_id", "ts", "user_id", "event_type",
                      "value", "props")
        ),
        "streaming_session_windows": (
            # session_window semantics: windows [first, last+gap) merge
            # only when they OVERLAP, so a gap of EXACTLY 30 min starts
            # a new session (>=, unlike the batch sessionize query's >);
            # append mode emits sessions with window_end <= final
            # watermark (max ts - delay)
            "WITH o AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS "
            "NULL OR date_diff('second', lag(ts) OVER w, ts) >= 1800 "
            "THEN 1 ELSE 0 END AS brk FROM events WHERE user_id % 4 = 0 "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY "
            "user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o), "
            "s AS (SELECT user_id, min(ts) AS ss, "
            "max(ts) + INTERVAL 30 MINUTE AS se, count(*)::BIGINT AS "
            "n_events FROM g GROUP BY user_id, sid) "
            "SELECT user_id::BIGINT AS user_id, "
            "strftime(ss, '%Y-%m-%d %H:%M:%S') AS session_start, "
            "strftime(se, '%Y-%m-%d %H:%M:%S') AS session_end, n_events "
            "FROM s WHERE se <= (SELECT max(ts) - INTERVAL 30 MINUTE "
            "FROM events WHERE user_id % 4 = 0)"
        ),
        "multi_message_split": " UNION ALL ".join(
            "SELECT event_id::BIGINT AS event_id, "
            f"{i - 1}::BIGINT AS msg_idx, "
            f"'<13>Oct 11 10:00:0{i} h app: m{i} #' || event_id || chr(10) "
            "AS msg FROM events"
            for i in (1, 2, 3)
        ),
    }
    # the streaming twin replays the batch query's regex-free oracle
    out["streaming_grok_extract"] = out["grok_extract"]
    return out


def _hll_oracle_sql() -> str:
    """DuckDB replay of sketches.hll_distinct (m=256, p=8) for both
    value columns, joined per event_type.  The alpha*m^2 literal is
    computed with the SAME Python float arithmetic as hll_distinct and
    inlined via repr() (round-trips the double exactly).  The register
    sum is a sum of <= 256 dyadic rationals 2^-rho, rho in [1, 33] —
    every partial sum needs <= 41 significand bits, so it is EXACT and
    order-independent in IEEE double: the only cross-engine float risk
    is ln() in the linear-counting branch, absorbed by round(_, 2)."""
    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha_m2 = repr(alpha * m * m)
    raw = f"({alpha_m2} / (sum_hit + (256 - n_hit)))"

    def sub(value_col: str, regs: str, zero: str, est: str) -> str:
        return (
            f"SELECT event_type, n_hit::BIGINT AS {regs}, "
            f"(256 - n_hit)::BIGINT AS {zero}, "
            f"round(CASE WHEN {raw} <= 640.0 AND (256 - n_hit) > 0 "
            "THEN 256.0 * ln(256.0 / (256 - n_hit)) "
            f"ELSE {raw} END, 2) AS {est} FROM ("
            "SELECT event_type, "
            "sum(1.0 / (1::BIGINT << mrho)) AS sum_hit, "
            "count(*) AS n_hit FROM ("
            "SELECT event_type, reg, max(CASE WHEN w > 0 THEN "
            "33 - length(bin(w)) ELSE 33 END) AS mrho FROM ("
            "SELECT event_type, "
            f"('0x' || substr(md5({value_col}::VARCHAR), 1, 2))::BIGINT"
            " AS reg, "
            f"('0x' || substr(md5({value_col}::VARCHAR), 3, 8))::BIGINT"
            " AS w FROM events) "
            "GROUP BY event_type, reg) GROUP BY event_type)"
        )

    return (
        "SELECT u.event_type AS event_type, u_regs, u_zero, "
        "approx_users, i_regs, i_zero, approx_ids FROM ("
        + sub("user_id", "u_regs", "u_zero", "approx_users")
        + ") u JOIN ("
        + sub("event_id", "i_regs", "i_zero", "approx_ids")
        + ") i ON u.event_type = i.event_type"
    )


def _ann_ivf_reduced_probe_oracle_sql() -> str:
    """DuckDB replay of the reduced-probe IVF path with the SAME
    fixed-seed centroids inlined as literals (float32 values — exact as
    doubles, so ``repr`` round-trips them bit-for-bit):

    1. every corpus vector's HOME cell = argmax inner product against
       the 8 centroids (normalization skipped: argmax is invariant
       under the positive per-vector norm; centroids are unit-norm on
       both sides), lowest cell on ties;
    2. each query's 2 PROBED cells = the top-2 of the same ranking;
    3. candidates = corpus rows whose home cell is probed, minus self;
    4. exact cosine top-3 within candidates (desc sim, asc neighbor).

    This is the true reduced-probe answer — a neighbor whose home cell
    is not probed is absent from BOTH engines, so the hash match grades
    the approximation itself."""
    from go_parsesyslog_spark.operators.similarity import (
        fixed_random_centroids,
    )

    return _ivf_probe_oracle_sql(fixed_random_centroids(8, 64, seed=7))


def _ann_ivf_trained_oracle_sql() -> str:
    """Same reduced-probe replay, against the COMMITTED trained-quantizer
    table (fixtures/ivf_centroids_sf001_c8.json — the actual
    train_ivf_centroids output on this corpus), closing the one
    pytest-only composition in the ANN family (VERDICT r4 #4): this row
    grades the production quantizer's cells, not a data-independent
    stand-in."""
    from go_parsesyslog_spark.operators.similarity import (
        load_centroid_fixture,
    )

    return _ivf_probe_oracle_sql(load_centroid_fixture())


def _ivf_probe_oracle_sql(cents) -> str:
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(float(v)) for v in cents[i])
        )
        for i in range(len(cents))
    )
    rank_sql = (
        "SELECT e.vec_id, e.embedding, c.cell, "
        "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        "list_inner_product(e.embedding::DOUBLE[], c.cv) DESC, c.cell) AS rn "
        "FROM embeddings e, cents c"
    )
    return (
        f"WITH cents(cell, cv) AS (VALUES {rows}), "
        f"corp AS (SELECT vec_id, embedding, cell FROM ({rank_sql}) "
        "WHERE rn = 1), "
        "probe AS (SELECT vec_id AS query_id, embedding AS qv, cell "
        f"FROM ({rank_sql} WHERE e.vec_id < 5) WHERE rn <= 2), "
        "cand AS (SELECT DISTINCT p.query_id, p.qv, co.vec_id AS "
        "neighbor_id, co.embedding FROM probe p JOIN corp co USING (cell) "
        "WHERE co.vec_id <> p.query_id) "
        "SELECT query_id::BIGINT AS query_id, rn::BIGINT AS rank, "
        "neighbor_id::BIGINT AS neighbor_id, round(sim, 3) AS cosine_sim "
        "FROM (SELECT query_id, neighbor_id, "
        "list_cosine_similarity(qv, embedding) AS sim, "
        "row_number() OVER (PARTITION BY query_id ORDER BY "
        "list_cosine_similarity(qv, embedding) DESC, neighbor_id) AS rn "
        "FROM cand) WHERE rn <= 3"
    )


def _hyperplane_signs_cte(n_tables: int = 4, n_planes: int = 8) -> str:
    """Shared CTE body replaying operators/similarity.hyperplane_signatures
    in DuckDB: the fixed-seed float32 planes (exact as doubles via
    ``repr``) as a VALUES table, per-(vector, table) bucket key =
    Σ 2^plane_idx over positive double-precision dots, offset by
    table_idx << 32 — bit-identical to the operator's float64 matmul
    up to ~1e-15 dot-product agreement."""
    from go_parsesyslog_spark.operators.similarity import hyperplane_planes

    planes = hyperplane_planes(64, n_tables, n_planes, seed=42)
    rows = ", ".join(
        "({}, {}, [{}]::DOUBLE[])".format(
            t, p, ", ".join(repr(float(v)) for v in planes[t * n_planes + p])
        )
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return (
        f"planes(tbl, pidx, pv) AS (VALUES {rows}), "
        "signs AS (SELECT e.vec_id, p.tbl, "
        "(sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], p.pv) > 0 "
        "THEN (1::BIGINT << p.pidx) ELSE 0 END) "
        "+ (p.tbl::BIGINT << 32))::BIGINT AS key "
        "FROM embeddings e, planes p GROUP BY e.vec_id, p.tbl)"
    )


def _ann_lsh_bucketed_oracle_sql() -> str:
    return (
        f"WITH {_hyperplane_signs_cte()}, "
        "qk AS (SELECT vec_id, key FROM signs WHERE vec_id < 5), "
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, "
        "c.vec_id AS neighbor_id FROM signs c JOIN qk q "
        "ON c.key = q.key AND c.vec_id <> q.vec_id), "
        "scored AS (SELECT cand.query_id, cand.neighbor_id, "
        "list_cosine_similarity(qe.embedding, ce.embedding) AS sim "
        "FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id "
        "JOIN embeddings ce ON ce.vec_id = cand.neighbor_id) "
        "SELECT query_id::BIGINT AS query_id, rn::BIGINT AS rank, "
        "neighbor_id::BIGINT AS neighbor_id, round(sim, 3) AS cosine_sim "
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY sim DESC, neighbor_id) AS rn FROM scored) WHERE rn <= 3"
    )


def _embedding_near_dups_lsh_oracle_sql() -> str:
    return (
        f"WITH {_hyperplane_signs_cte()}, "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM signs a JOIN signs b ON a.key = b.key "
        "AND a.vec_id < b.vec_id) "
        "SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, "
        "round(sim, 4) AS sim FROM ("
        "SELECT cand.id_a, cand.id_b, "
        "list_cosine_similarity(ae.embedding, be.embedding) AS sim "
        "FROM cand JOIN embeddings ae ON ae.vec_id = cand.id_a "
        "JOIN embeddings be ON be.vec_id = cand.id_b) WHERE sim >= 0.4"
    )


def _minhash_lsh_pairs_oracle_sql() -> str:
    """DuckDB replay of operators/dedup.minhash_lsh_pairs, value-exact.

    * Shingle hash: the base-257 byte polynomial is injective for k=5
      (max < 2^41.3, no uint64 wrap), so ``ascii()`` codes reproduce the
      numpy hashes bit-for-bit on ASCII text (the driver corpus is pure
      printable ASCII; non-ASCII would need byte-level extraction).
    * Signature: h_i(x) = ((a_i·x mod 2⁶⁴) + b_i) mod 2⁶⁴ mod p exactly
      as the uint64 numpy arithmetic, via HUGEINT; (a_i, b_i) come from
      the SAME ``_minhash_coeffs`` rng stream the operator uses.
    * Banding: Spark groups by xxhash64(slice); the oracle groups by the
      slice VALUE — identical up to xxhash64 collisions (~2⁻⁶⁴/pair).
    * Mega-buckets: >4096 members emit the sorted-adjacent chain, like
      the operator.

    Runtime note: the 64 HUGEINT min-aggregates dominate (~25 s at
    sf0.01) — acceptable for a once-per-round gate."""
    from go_parsesyslog_spark.operators.dedup import (
        _MERSENNE,
        _minhash_coeffs,
    )

    a, b = _minhash_coeffs(64, 42)
    w64 = "18446744073709551616"
    pows = [257 ** j for j in range(5)]
    window = " + ".join(f"by[i+{j}] * {pows[j]}" for j in range(5))
    mins = ", ".join(
        f"min(((({int(a[i])}::HUGEINT * x) % {w64} + {int(b[i])}) % {w64}) "
        f"% {_MERSENNE})::BIGINT AS m{i}"
        for i in range(64)
    )
    siglist = ", ".join(f"m{i}" for i in range(64))
    return (
        "WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')) AS t FROM documents), "
        "byt AS (SELECT doc_id, t, list_transform(generate_series(1, "
        "length(t)), i -> ascii(t[i])) AS by FROM n), "
        "sh AS (SELECT doc_id, CASE WHEN length(t) >= 5 "
        "THEN list_distinct(list_transform(generate_series(1, length(t) - 4), "
        f"i -> {window})) ELSE [0] END AS s FROM byt), "
        f"ux AS (SELECT doc_id, unnest(s) % {_MERSENNE} AS x FROM sh), "
        f"sig AS (SELECT doc_id, [{siglist}] AS sig FROM "
        f"(SELECT doc_id, {mins} FROM ux GROUP BY doc_id)), "
        "bands AS (SELECT doc_id, bb.band AS band, "
        "list_slice(sig, 4*bb.band+1, 4*bb.band+4) AS key FROM sig, "
        "(SELECT unnest(generate_series(0, 15)) AS band) bb), "
        "bk AS (SELECT band, key, list_sort(list(doc_id)) AS ids "
        "FROM bands GROUP BY band, key HAVING count(*) >= 2), "
        "b2 AS (SELECT row_number() OVER () AS bid, ids, len(ids) AS n "
        "FROM bk), "
        "e AS (SELECT bid, n, unnest(ids) AS id, "
        "unnest(generate_series(1, n)) AS pos FROM b2), "
        "pairs AS (SELECT x.id AS doc_a, y.id AS doc_b FROM e x JOIN e y "
        "ON x.bid = y.bid AND x.pos < y.pos AND "
        "(x.n <= 4096 OR y.pos = x.pos + 1)) "
        "SELECT DISTINCT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b "
        "FROM pairs"
    )


def _lang_id_oracle_sql() -> str:
    """DuckDB mirror of functions/textstats.language_id_udf: per-language
    marker-hit counts over ' '+lower(text)+' ' (substring counting via
    the length-difference trick, integer division by marker length),
    CJK-codepoint ratio gate first, then first-max argmax over
    (en, de, fr, es), else 'unknown'."""
    from go_parsesyslog_spark.functions.textstats import _LANG_MARKERS

    def count_sql(marker: str) -> str:
        m = marker.replace("'", "''")
        return (
            f"(length(p) - length(replace(p, '{m}', ''))) // {len(marker)}"
        )

    scores = {
        lang: " + ".join(count_sql(m) for m in _LANG_MARKERS[lang])
        for lang in ("en", "de", "fr", "es")
    }
    return (
        "WITH t AS (SELECT doc_id, lower(text) AS tl, "
        "' ' || lower(text) || ' ' AS p FROM documents), "
        "sc AS (SELECT doc_id, "
        + ", ".join(f"{scores[lg]} AS s_{lg}" for lg in ("en", "de", "fr", "es"))
        + ", length(regexp_replace(tl, '[^一-鿿]', '', 'g')) AS cjk"
        ", greatest(length(tl), 1) AS total FROM t) "
        "SELECT doc_id::BIGINT AS doc_id, "
        "CASE WHEN cjk * 1.0 / total > 0.05 THEN 'zh' "
        "WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown' "
        "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
        "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
        "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred "
        "FROM sc"
    )
