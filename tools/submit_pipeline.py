"""spark-submit entry point for the batch pipeline.

The north-rule deployment shape: the package ships as a zip via
``--py-files`` and the driver script stays thin —

    zip -qr gps.zip go_parsesyslog_spark   # from the repo root
    spark-submit --master <cluster> --py-files gps.zip \
        tools/submit_pipeline.py --input <transcripts> --out <sinks> \
        [--n-units 64] [--fmt auto] [--no-resume]

Every setting spark-submit passes (``--master``, ``--driver-memory``,
``--executor-*``, ``--conf k=v``) wins: `get_spark` fills in its package
defaults (Arrow, UTC, shuffle width, ...) only for keys the launcher
left unset; AQE and scan splits keep Spark's own defaults.  Prints one
JSON summary line (units run / skipped, row counts, wall seconds) so
orchestrators can parse the result.  Re-running after a kill resumes
from the lineage markers unless --no-resume: units of committed batches
are skipped, and the output of a batch killed before all its markers
landed is deleted and rewritten.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs without --py-files: make the repo root importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcript table path")
    p.add_argument("--out", required=True, help="sink root path")
    p.add_argument("--n-units", type=int, default=64)
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--fmt", default="auto",
                   choices=["auto", "rfc3164", "rfc5424"])
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--max-units", type=int, default=None)
    args = p.parse_args()

    from go_parsesyslog_spark.plans.pipeline import run_pipeline
    from go_parsesyslog_spark.session import get_spark

    spark = get_spark(app_name="gps_pipeline")
    summary = run_pipeline(
        spark,
        args.input,
        args.out,
        fmt=args.fmt,
        n_buckets=args.n_buckets,
        n_units=args.n_units,
        resume=not args.no_resume,
        max_units=args.max_units,
    )
    spark.stop()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
