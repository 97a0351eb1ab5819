"""Raw syslog file source: point the engine at a directory of wire-
format log files and get parsed rows — the file-based analog of the
reference CLI reading stdin (cmd/stdin-parser/main.go:20) and of
``ParseReader`` over a file handle (parsesyslog.go:24).

Two framings:

* ``framing="lines"`` — newline-delimited messages (classic syslog file
  / RFC5425-less tails).  Backed by ``spark.read.text``: line-splittable,
  so a 100 TB directory parallelizes across the cluster with partition-
  sized splits and predicate/column pruning on the parsed output.
* ``framing="auto"`` / ``"octet"`` — RFC6587-style streams where octet
  counting means a message may CONTAIN newlines, so lines cannot be
  split blindly.  Backed by ``wholetext`` + ``split_messages`` (the
  byte-accurate frame splitter): each FILE is one task — the format
  itself forbids splitting an octet-framed stream without scanning it,
  which is why log shippers rotate such files; parallelism = file
  count.  Documented trade, not an accident.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_parsesyslog_spark.operators.parse import parse_logs
from go_parsesyslog_spark.operators.split import split_messages


def read_syslog(
    spark: SparkSession,
    path: str,
    fmt: str = "auto",
    framing: str = "lines",
    with_source_file: bool = True,
    ref_now=None,
) -> DataFrame:
    """Parsed DataFrame (one row per message) from raw syslog files.

    ``with_source_file`` attaches the originating file path (lineage for
    DLQ triage) via ``input_file_name`` before any shuffle.  ``ref_now``
    pins the RFC3164 year-inference reference instant (date.go:73-86),
    as in :func:`parse_logs`."""
    if framing == "lines":
        raw = spark.read.text(path).withColumnRenamed("value", "text")
        if with_source_file:
            raw = raw.withColumn("source_file", F.input_file_name())
        # empty trailing lines are file artifacts, not messages
        raw = raw.filter(F.length("text") > 0)
        return parse_logs(raw, fmt=fmt, ref_now=ref_now)
    if framing in ("auto", "octet", "newline"):
        raw = spark.read.text(path, wholetext=True).withColumnRenamed(
            "value", "blob"
        )
        if with_source_file:
            raw = raw.withColumn("source_file", F.input_file_name())
        split_fmt = {"auto": "auto", "octet": "rfc5424", "newline": "rfc3164"}[
            framing
        ]
        msgs = split_messages(raw, blob_col="blob", fmt=split_fmt)
        msgs = msgs.withColumnRenamed("blob", "text")
        return parse_logs(msgs, fmt=fmt, ref_now=ref_now)
    raise ValueError(f"unknown framing {framing!r}")
