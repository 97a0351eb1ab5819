"""Self-test of the benchmark on a tiny seeded input.

    python3 perfbench/selftest.py

Runs both workloads in both modes on a 16k-row input and checks the
result contract: the last stdout line is one JSON object with exactly
``correct``/``attempted``/``failed``/``metrics``, every metric named in
BENCHMARK.json is reported (end-to-end with ``--trace 0``, per-layer
with ``--trace 1``) with its declared unit as a finite number, and no
job fails.  It also checks BENCHMARK.json's own limits, that it declares
exactly the metric names pinned below, and that the benchmark exits
non-zero without a result in a directory holding only BENCHMARK.json
and perfbench/.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = "16000"
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# The metric names the benchmark defines, pinned here so that dropping or
# renaming one in both BENCHMARK.json and run.py still fails the test.
END_TO_END = ["setup_s", "cold_s", "wall_s", "turns_per_s", "cpu_s",
              "sink_files", "sink_bytes", "ok_frac"]
RUNGS = ["scan", "parse", "enrich", "route", "write", "aggregate"]
PER_LAYER = [
    "scan.self_s", "scan.bytes",
    "parse.self_s", "parse.exchange_bytes", "parse.native_rows",
    "parse.fallback_rows", "parse.native_frac", "parse.fallback_s",
    "parse.rfc3164_ns_per_row_core", "parse.rfc5424_ns_per_row_core",
    "enrich.self_s",
    "route.hot_set_s", "route.hot_count", "route.hot_spilled",
    "route.self_s",
    "write.self_s", "write.shuffle_bytes", "write.files", "write.task_skew",
    "aggregate.self_s", "aggregate.scan_bytes",
    "pipeline.unit_wall_max_s", "pipeline.unit_skew", "pipeline.merge_s", "pipeline.jobs",
    "pipeline.tasks", "pipeline.idle_core_frac", "pipeline.spill_bytes",
    "pipeline.gc_s", "pipeline.peak_rss_mb",
    *[f"{r}.cold_extra_s" for r in RUNGS],
    "setup.jvm_s", "setup.warmup_s", "setup.restart_s",
    "trace.ladder_frac", "trace.overhead_frac",
    "host.steal_frac", "host.other_load",
]


def check_spec(spec: dict) -> None:
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    assert [w["name"] for w in spec["workloads"]] == [
        "mixed_batch", "malformed_batch"]
    assert [m["name"] for m in spec["end_to_end"]] == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names)), "duplicate name"
    assert all(NAME_RE.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT_RE.match(m["unit"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT_RE.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert isinstance(spec["run_seconds"], int)
    assert 1 <= spec["run_seconds"] <= 60


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--rows", ROWS],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(proc, declared: list[dict]) -> None:
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    got = res["metrics"]
    assert set(got) == {m["name"] for m in declared}, (
        sorted(set(got) ^ {m["name"] for m in declared}))
    for m in declared:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (m["name"], v["unit"])
        assert isinstance(v["value"], (int, float))
        assert math.isfinite(v["value"]), m["name"]


def check_bare_dir() -> None:
    """Without the program next to it the benchmark must fail cleanly."""
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = run(bare, "mixed_batch", 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not proc.stdout.strip(), proc.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    check_bare_dir()
    print("ok   BENCHMARK.json and bare-directory failure")
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]),
                                (1, spec["per_layer"])):
            check_result(run(ROOT, w["name"], trace), declared)
            print(f"ok   {w['name']} --trace {trace}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
