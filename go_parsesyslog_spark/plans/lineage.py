"""Per-unit lineage: atomic completion markers for resumable runs.

The north rule requires a killed run to resume without reprocessing
committed work.  With Iceberg each chunk commit is a snapshot; on plain
parquet we reproduce the same contract with unit-scoped output
directories plus an atomically-renamed JSON marker written strictly
*after* the unit's data lands.  On restart, units with markers are
skipped; partial (marker-less) unit output is deleted and reprocessed —
exactly once, idempotent.

The marker doubles as the lineage record: input files and wall time.
A resume checks the files against its own unit plan.  Row counts are
not kept here: the pipeline derives them, with the metrics, from one
read-back of the committed units' sinks.
"""

from __future__ import annotations

import json
import os
import shutil


def _lineage_dir(out_root: str) -> str:
    return os.path.join(out_root, "_lineage")


def marker_path(out_root: str, unit_id: str) -> str:
    return os.path.join(_lineage_dir(out_root), f"{unit_id}.json")


def completed_units(out_root: str) -> dict[str, dict]:
    d = _lineage_dir(out_root)
    if not os.path.isdir(d):
        return {}
    out = {}
    for name in os.listdir(d):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            out[rec["unit_id"]] = rec
    return out


def record_unit(out_root: str, record: dict) -> None:
    """Atomic commit: write to a temp name, fsync, rename."""
    d = _lineage_dir(out_root)
    os.makedirs(d, exist_ok=True)
    final = marker_path(out_root, record["unit_id"])
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)


def clean_partial_unit(out_root: str, unit_id: str) -> None:
    """Delete any partial output of an uncommitted unit before re-running."""
    path = os.path.join(out_root, "sinks", f"unit={unit_id}")
    if os.path.isdir(path):
        shutil.rmtree(path)
