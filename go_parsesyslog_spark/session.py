"""SparkSession factory.

The package defaults (the ``conf`` dict in :func:`get_spark`) are the
settings Spark does not already choose well here, among them Arrow for
the vectorized-UDF parse path, UTC session time so timestamp semantics
are deterministic across the cluster, and a local master with shuffle
partitions sized to the cores this process may run on.  Every other
key, AQE and scan split sizes included, keeps Spark's own default.

Settings have one source, Spark's own configuration.  Precedence,
highest first:

1. the explicit arguments of :func:`get_spark` (``master=``,
   ``shuffle_partitions=``, ``extra_conf``);
2. whatever the launcher set: ``spark-submit`` flags (``--master``,
   ``--driver-memory``, ``--conf k=v``) and ``spark-defaults.conf``;
3. the package defaults in :func:`get_spark`; the 16g driver heap only
   where ``get_spark`` starts the JVM itself.

Under plain ``python`` there is no launcher, so every key not passed
explicitly takes the package default: ``local[N]`` with N the cores in
the process's CPU affinity mask (what ``nproc`` prints), N shuffle
partitions and a 16g driver heap.  To use fewer cores pass
``master="local[k]"`` (``--master`` under spark-submit).
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "go_parsesyslog_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Get or create the session: explicit arguments win over the
    launcher's conf, which wins over the package defaults (module
    docstring)."""
    # Make the package importable inside executor Python workers no matter
    # where the driver process was launched from.  On a real cluster this
    # is `spark-submit --py-files`; in local mode the forked workers
    # inherit the driver env, so extending PYTHONPATH before the first UDF
    # runs is sufficient.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    # the cores this process may run on: what `nproc` prints
    cpus = len(os.sched_getaffinity(0))

    # One BLAS thread per Python worker (guide §4.2): numpy matmuls run
    # inside N concurrent forked workers — letting each spawn its own
    # OpenBLAS/OMP thread pool oversubscribes the host N× and the
    # threads convoy.  Set before the JVM starts so forked workers
    # inherit it; explicit env wins (a single-process driver-side
    # training run may legitimately want threaded BLAS).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        # Allow shuffled-hash join where the per-partition build side
        # fits (guide §3.1/§9): skips the two sorts of sort-merge; AQE
        # still falls back/handles skew.
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Large Arrow batches amortize the per-batch Python/regex setup in
        # the vectorized parse UDFs (compiled-regex cost is per batch).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.driver.memory": "16g",
        "spark.ui.enabled": "false",
        # Streaming state-store maintenance (snapshot/cleanup) runs on a
        # background pool every 60 s by default; short availableNow
        # queries finish in seconds, and the maintenance tick racing a
        # query's checkpoint teardown spewed a harmless-but-noisy Java
        # stack trace into bench output (VERDICT r3 #5).  A long
        # interval keeps short-lived batch-style streaming runs quiet;
        # long-running production streams override per-session.
        "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    # Under spark-submit the driver JVM is already running with the
    # launcher's conf; pyspark connects to it when PYSPARK_GATEWAY_PORT
    # is set (java_gateway.launch_gateway).  A package default then
    # fills only a key that conf lacks.  The heap default is dropped: the
    # running JVM's heap is the launcher's, and a 16g entry would only
    # misreport it.
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()  # noqa: SLF001
        launched = SparkConf()
        del conf["spark.driver.memory"]
        conf = {k: v for k, v in conf.items() if not launched.contains(k)}
    if master is not None:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})

    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
