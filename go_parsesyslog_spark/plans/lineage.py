"""Per-unit lineage: atomic completion markers for resumable runs.

The north rule requires a killed run to resume without reprocessing
committed work.  With Iceberg each chunk commit is a snapshot; on plain
parquet we reproduce the same contract with one output directory per
batch of units (``sinks/batch=<first unit id>``) plus one
atomically-renamed JSON marker per unit, written strictly *after* the
batch's data lands.  A batch commits all-or-nothing: each marker names
its batch directory and every unit of the batch, and a unit counts as
committed only when every unit of its batch has a marker naming that
same directory.  On restart, committed units are skipped; every sink
directory no committed batch names, and every marker of an uncommitted
unit, is deleted and the units are reprocessed — exactly once,
idempotent.

The marker doubles as the lineage record: input files and wall time.
A resume checks the files against its own unit plan.  Row counts are
not kept here: the pipeline derives them, with the metrics, from one
read-back of the committed batches' sinks.
"""

from __future__ import annotations

import json
import os
import shutil


def _lineage_dir(out_root: str) -> str:
    return os.path.join(out_root, "_lineage")


def _sinks_dir(out_root: str) -> str:
    return os.path.join(out_root, "sinks")


def marker_path(out_root: str, unit_id: str) -> str:
    return os.path.join(_lineage_dir(out_root), f"{unit_id}.json")


def batch_dir(out_root: str, batch: str) -> str:
    return os.path.join(_sinks_dir(out_root), batch)


def _markers(out_root: str) -> dict[str, dict]:
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


def completed_units(out_root: str) -> dict[str, dict]:
    """Records of the committed units: those whose every batch mate has
    a marker naming the same batch directory.  A marker without a batch
    (the older one-directory-per-unit layout) counts as uncommitted."""
    recs = _markers(out_root)
    return {
        uid: rec for uid, rec in recs.items()
        if "batch" in rec
        and all(recs.get(u, {}).get("batch") == rec["batch"]
                for u in rec["batch_units"])
    }


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


def clean_uncommitted(out_root: str) -> None:
    """Delete what a killed batch left: every sink directory that no
    committed batch names, and the markers of uncommitted units."""
    committed = completed_units(out_root)
    keep = {rec["batch"] for rec in committed.values()}
    sinks = _sinks_dir(out_root)
    if os.path.isdir(sinks):
        for name in os.listdir(sinks):
            path = os.path.join(sinks, name)
            if name not in keep and os.path.isdir(path):
                shutil.rmtree(path)
    for uid in set(_markers(out_root)) - set(committed):
        os.remove(marker_path(out_root, uid))
