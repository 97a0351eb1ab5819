"""Seeded workload inputs and their reference results.

Each workload is a transcript table written by the program's own
generator (``sources.transcripts.write_transcripts_parquet``) from the
benchmark seed.  Inputs and reference results are cached per
(workload, seed, rows, program source) under the work directory, so
generation is never inside a timed region, a repeated seed costs
nothing, and a change to the generator or the reference's operators
makes fresh inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

# Pipeline arguments shared by every job and the traced ladder:
# run_pipeline's defaults (the four resume units bench.py also runs),
# passed explicitly so that the workload stays the same when a default
# changes, and because the reference routes rows with the same bucket
# count.
N_UNITS = 4
N_BUCKETS = 16
SALT_BUCKETS = 8
N_FILES = 8

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class Workload:
    rows: int
    gen: dict = field(default_factory=dict)  # write_transcripts_parquet kwargs


WORKLOADS = {
    # The generator's default mix: ~60% RFC3164, ~30% octet-framed
    # RFC5424, ~10% reference-corpus lines, 1% of conversations owning
    # 30% of rows.  ~6% of rows fall back to the Python parser and the
    # hot set stays under the route literal cap.  Half the rows of
    # malformed_batch: the job time is mostly per-job fixed cost, and
    # the smaller input keeps a run near a minute.
    "mixed_batch": Workload(64_000),
    # 40% corpus lines push ~25% of the rows through the exact Python
    # parser and ~24% into the DLQ sink; 8% of 2,000 conversations per file
    # owning 95% of its rows make ~1,200 hot conversations, above the
    # route literal cap, so the spill + broadcast-join route runs (hot
    # conversations need > 64 rows each, so this needs ~100k+ rows).
    "malformed_batch": Workload(
        128_000,
        dict(corpus_frac=0.40, n_convs=2000, hot_frac=0.08, hot_share=0.95),
    ),
}


def source_key() -> str:
    """Short hash of the program's source and of this module: the
    generator, the operators the reference runs, and the workload
    parameters.  Part of every cached input's directory name."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "go_parsesyslog_spark")
    files = [os.path.join(d, n) for d, _, names in os.walk(pkg)
             for n in names if n.endswith(".py")]
    for path in sorted(files) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def write_input(path: str, workload: Workload, seed: int, rows: int) -> str:
    """Write (once) the seeded transcript table; returns its directory."""
    from go_parsesyslog_spark.sources.transcripts import (
        write_transcripts_parquet,
    )

    marker = os.path.join(path, "_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        write_transcripts_parquet(
            path, rows, seed=seed, chunk_rows=-(-rows // N_FILES),
            **workload.gen,
        )
        with open(marker, "w") as f:
            f.write(str(rows))
    return path


def routed_columns(df):
    """The pipeline's sink columns: DLQ rows go to ``sink_sev='dlq'``
    keyed by err_code, parsed rows to their severity class and
    conversation bucket; raw text is kept for DLQ rows only."""
    from pyspark.sql import functions as F

    dlq = F.col("err_code").isNotNull()
    return df.withColumns(
        {
            "sink_sev": F.when(dlq, F.lit("dlq")).otherwise(
                F.col("severity_class")
            ),
            "sink_key": F.when(dlq, F.col("err_code")).otherwise(
                F.col("conv_bucket").cast("string")
            ),
            "text": F.when(dlq, F.col("text")),
        }
    )


def reference(spark, input_path: str, cache_path: str) -> dict:
    """Per-(sink_sev, sink_key) ``[turn_count, total_msg_bytes]`` from the
    exact Python parser (``engine="arrow"``), independent of the native
    path the pipeline takes.  Cached as JSON next to the input."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    from pyspark.sql import functions as F

    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs
    from go_parsesyslog_spark.operators.route import with_route_columns
    from go_parsesyslog_spark.sources.transcripts import REF_NOW

    parsed = parse_logs(
        spark.read.parquet(input_path), text_col="text", fmt="auto",
        ref_now=REF_NOW, engine="arrow",
    )
    routed = routed_columns(
        with_route_columns(enrich(parsed, spark), n_buckets=N_BUCKETS,
                           hot_ids=[])
    )
    rows = (
        routed.groupBy("sink_sev", "sink_key")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("msg_length").alias("b"))
        .collect()
    )
    ref = {f"{r['sink_sev']}/{r['sink_key']}": [int(r["n"]), int(r["b"] or 0)]
           for r in rows}
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f, sort_keys=True)
    os.replace(tmp, cache_path)
    return ref


def metrics_cells(out_root: str) -> dict:
    """The pipeline's merged ``metrics`` table folded to the reference's
    per-(sink_sev, sink_key) cells."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(os.path.join(out_root, "metrics")).to_pandas()
    g = pdf.groupby(["sink_sev", "sink_key"], dropna=False)[
        ["turn_count", "total_msg_bytes"]
    ].sum()
    return {f"{sev}/{key}": [int(n), int(b)]
            for (sev, key), (n, b) in g.iterrows()}


def diff_cells(got: dict, want: dict, limit: int = 3) -> list[str]:
    keys = sorted(set(got) | set(want))
    bad = [f"{k}: got {got.get(k)} want {want.get(k)}"
           for k in keys if got.get(k) != want.get(k)]
    return bad[:limit]


def dlq_histogram(cells: dict) -> dict:
    """err_code → DLQ rows, read off the reference cells."""
    return {k.split("/", 1)[1]: v[0] for k, v in cells.items()
            if k.startswith("dlq/")}


def parquet_files_bytes(root: str) -> tuple[int, int]:
    """Number and total size of the parquet files under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size
