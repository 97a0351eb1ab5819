"""Settings precedence of ``get_spark``: a launcher's conf (spark-submit
flags) wins over the package defaults, plain ``python`` gets the
defaults, and a key the package does not set keeps Spark's own
default (scan splits: 128m / 4m).

Each case runs a tiny probe script in its own driver process, so the
launcher's JVM is the one the probe's session uses."""

import json
import os
import subprocess
import sys

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")

PROBE = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from go_parsesyslog_spark.session import get_spark
spark = get_spark()
sc = spark.sparkContext
print("PROBE " + json.dumps({{
    "master": sc.master,
    "driver_memory": sc.getConf().get("spark.driver.memory"),
    "max_partition_bytes": spark.conf.get("spark.sql.files.maxPartitionBytes"),
    "open_cost_bytes": spark.conf.get("spark.sql.files.openCostInBytes"),
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
}}))
spark.stop()
"""


def _probe(tmp_path, launcher: list[str]) -> dict:
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    out = subprocess.run(
        [*launcher, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    line = next(l for l in out.stdout.splitlines() if l.startswith("PROBE "))
    return json.loads(line[len("PROBE "):])


def test_spark_submit_settings_win(tmp_path):
    got = _probe(tmp_path, [
        SUBMIT, "--master", "local[1]", "--driver-memory", "1g",
        "--conf", "spark.sql.files.maxPartitionBytes=128m",
        "--conf", "spark.sql.shuffle.partitions=3",
    ])
    assert got == {
        "master": "local[1]",
        "driver_memory": "1g",
        "max_partition_bytes": "128m",
        "open_cost_bytes": "4194304b",
        "shuffle_partitions": "3",
    }


def test_spark_submit_heap_is_not_misreported(tmp_path):
    """Without --driver-memory the launched JVM runs Spark's default
    heap; the session conf must not claim the package's 16g."""
    got = _probe(tmp_path, [SUBMIT, "--master", "local[1]"])
    assert got["master"] == "local[1]"
    assert got["driver_memory"] is None
    assert got["max_partition_bytes"] == "134217728b"


def test_plain_python_gets_package_defaults(tmp_path):
    cpus = str(len(os.sched_getaffinity(0)))
    got = _probe(tmp_path, [sys.executable])
    assert got == {
        "master": f"local[{cpus}]",
        "driver_memory": "16g",
        "max_partition_bytes": "134217728b",
        "open_cost_bytes": "4194304b",
        "shuffle_partitions": cpus,
    }
