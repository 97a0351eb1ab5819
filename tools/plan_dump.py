"""Print the optimized logical plan of declared queries and of
``parse_logs``, with expression ids (``#123``) masked, so that the plans
of two checkouts compare with one ``diff``.

Usage: python tools/plan_dump.py sf_dir [name ...]

Each ``name`` is a key of ``__spark_entry__.queries()``, one of
``parse_logs:native`` / ``parse_logs:arrow``: the parse engine over one
transcript file generated with perfbench's ``mixed_batch`` mix, with the
pipeline's arguments, or ``pipeline_batch``: the fan-out write input
(``plans.pipeline.sink_frame``) of perfbench's four units over eight
such files — one batch, as the input is under one scan wave.  With no
names, ``DEFAULT_NAMES`` are dumped.
Building a query may run Spark jobs (schema inference, probes, eager
checkpoints); no query is collected.

    python tools/plan_dump.py /data/sf0.01 > change.txt
    (same at the parent checkout) ; diff parent.txt change.txt
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_NAMES = [
    "grok_extract",
    "rfc3164_parse", "rfc5424_parse", "rfc5424_sd_explode",
    "read_syslog_lines", "read_syslog_octet",
    "decontaminate",
    "minhash_lsh_recall", "dedup_clusters", "corpus_curation",
    "simhash_near_dups",
    "parse_logs:native", "parse_logs:arrow",
]
PARSE_ROWS = 2_000
_EXPR_ID = re.compile(r"#\d+")


def masked_plan(df) -> str:
    return _EXPR_ID.sub("#", df._jdf.queryExecution().optimizedPlan().toString())


def parse_plan(spark, input_dir: str, engine: str):
    from perfbench.inputs import WORKLOADS
    from go_parsesyslog_spark.operators.parse import parse_logs
    from go_parsesyslog_spark.sources.transcripts import (
        REF_NOW,
        write_transcripts_parquet,
    )

    if not os.listdir(input_dir):
        write_transcripts_parquet(input_dir, PARSE_ROWS, seed=11,
                                  chunk_rows=PARSE_ROWS,
                                  **WORKLOADS["mixed_batch"].gen)
    return parse_logs(spark.read.parquet(input_dir), text_col="text",
                      fmt="auto", ref_now=REF_NOW, engine=engine)


def batch_plan(spark, input_dir: str):
    from perfbench.inputs import N_BUCKETS, N_UNITS, WORKLOADS
    from go_parsesyslog_spark.plans.pipeline import plan_units, sink_frame
    from go_parsesyslog_spark.sources.transcripts import (
        REF_NOW,
        write_transcripts_parquet,
    )

    if not os.path.isdir(input_dir):
        write_transcripts_parquet(input_dir, PARSE_ROWS, seed=11,
                                  chunk_rows=PARSE_ROWS // 8,
                                  **WORKLOADS["mixed_batch"].gen)
    units = plan_units(input_dir, N_UNITS)
    files = [f for _, members in units for f in members]
    return sink_frame(spark, files, "auto", REF_NOW, N_BUCKETS)


def main() -> int:
    import __spark_entry__ as entry_mod
    from go_parsesyslog_spark.session import get_spark

    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, names = sys.argv[1], sys.argv[2:] or DEFAULT_NAMES
    spark = get_spark(master="local[2]", app_name="plan_dump",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entry_mod.queries()
    with tempfile.TemporaryDirectory() as tmp:
        for name in names:
            if name.startswith("parse_logs:"):
                df = parse_plan(spark, tmp, name.split(":", 1)[1])
            elif name == "pipeline_batch":
                df = batch_plan(spark, os.path.join(tmp, "batch"))
            else:
                df = qs[name](spark, sf_dir)
            print(f"== {name} ==\n{masked_plan(df)}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
