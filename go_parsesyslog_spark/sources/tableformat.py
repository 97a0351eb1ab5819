"""Table-format selection: Iceberg when the runtime is present, parquet
otherwise.

The north-star input is "an Iceberg table of transcripts" and the sinks
are "fan-out Iceberg tables".  Iceberg is a *runtime dependency* — the
`iceberg-spark-runtime` jar on the session classpath — not a code-level
one, so this module probes for it once per session and routes writes/
reads accordingly:

* **Iceberg present** → partitioned Iceberg writes (atomic snapshot
  commits give the pipeline's all-or-nothing batch commit "for free" on
  top of our lineage markers, and readers get hidden-partition pruning).
* **Iceberg absent (this sandbox: no jar baked in, no network to fetch
  one)** → plain partitioned parquet with an explicitly logged reason.
  Every correctness property the tests pin (routed-row equality,
  per-sink counts, resume-without-reprocessing via lineage markers) is
  format-independent; what parquet loses vs Iceberg is snapshot
  isolation on concurrent writers and O(1) metadata listing — both
  called out in README.md.

The probe is reflection-based (`Class.forName`) so it costs nothing and
cannot crash a session that lacks the jar.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_ICEBERG_CLASS = "org.apache.iceberg.spark.SparkCatalog"
_probe_cache: dict[str, bool] = {}


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session classpath."""
    key = "default"
    if key not in _probe_cache:
        try:
            spark._jvm.java.lang.Class.forName(_ICEBERG_CLASS)  # noqa: SLF001
            _probe_cache[key] = True
        except Exception:
            _probe_cache[key] = False
            print(
                "go_parsesyslog_spark: Iceberg runtime not on classpath "
                f"({_ICEBERG_CLASS} not loadable) — falling back to "
                "partitioned parquet sinks. Add iceberg-spark-runtime to "
                "--jars/--packages to enable Iceberg tables.",
                file=sys.stderr,
            )
    return _probe_cache[key]


def parquet_footer_schema(path: str) -> StructType:
    """The schema Spark infers for the parquet file ``path``, read from
    its footer alone: no Spark job.  A file Spark wrote carries its own
    schema there (a file read makes every column nullable either way);
    otherwise the parquet types map as Spark's inference maps them,
    where a timestamp not adjusted to UTC is ``TimestampNTZType``
    (``prefer_timestamp_ntz=True``; without it ``from_arrow_schema``
    gives ``TimestampType``, which changes query semantics)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = pq.read_schema(path)
    spark_json = (schema.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata")
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


def sink_format(spark: SparkSession) -> str:
    return "iceberg" if iceberg_available(spark) else "parquet"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> str:
    """Partitioned table write in the best available format.

    Returns the format used so callers (lineage records, tests) can
    assert on it.

    The Iceberg branch follows Iceberg's documented path-based
    (HadoopTables) write contract, fixing two r2 bugs ADVICE caught in
    the never-exercised code: (a) Spark rejects an explicit
    ``partitionBy`` when saving through a DSv2 TableProvider — the
    table's OWN partition spec governs layout, so the spec is declared
    at table creation instead; (b) the V1 ``save(path)`` cannot CREATE
    a path-based table — the table is created first through the
    ``HadoopTables`` API (SparkSchemaUtil schema conversion + identity
    partition spec), then written with a plain ``save``.
    CAUTION: still unexercised end-to-end here — no iceberg jar in the
    sandbox; validate against a real iceberg-spark-runtime first."""
    fmt = sink_format(df.sparkSession)
    if fmt == "iceberg":
        _ensure_iceberg_path_table(df, path, partition_cols)
        df.write.format(fmt).mode(mode).save(path)
    else:
        (
            df.write.format(fmt)
            .mode(mode)
            .partitionBy(*partition_cols)
            .save(path)
        )
    return fmt


def _ensure_iceberg_path_table(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Create the path-based Iceberg table (HadoopTables) if missing,
    with identity partitioning on ``partition_cols``."""
    spark = df.sparkSession
    jvm = spark._jvm  # noqa: SLF001
    tables = jvm.org.apache.iceberg.hadoop.HadoopTables(
        spark._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    try:
        tables.load(path)
        return  # exists
    except Exception:
        pass
    schema = jvm.org.apache.iceberg.spark.SparkSchemaUtil.convert(
        df._jdf.schema()  # noqa: SLF001
    )
    builder = jvm.org.apache.iceberg.PartitionSpec.builderFor(schema)
    for c in partition_cols:
        builder = builder.identity(c)
    tables.create(schema, builder.build(), path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.format(sink_format(spark)).load(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Write a BUCKETED (hash-clustered) parquet table: rows land in
    ``n_buckets`` files per partition by hash of ``bucket_cols``, with
    optional within-bucket sort.

    The 100 TB payoff: two tables bucketed the same way join WITHOUT a
    shuffle — Spark's scan reports the bucketing as the join's required
    hash distribution, so a repeated big-big join (events ⋈ events,
    fact ⋈ fact history) pays the exchange ONCE at write time instead
    of on every query.  Pinned by
    tests/test_pipeline.py::test_bucketed_join_has_no_shuffle.
    Bucketed tables need the session catalog (file listings alone don't
    carry bucket metadata), hence ``saveAsTable``; ``path`` makes it an
    external table so the data lives where the caller chooses."""
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Range-clustered parquet write: ``repartitionByRange`` on the
    cluster columns then ``sortWithinPartitions`` — each output file
    covers a NARROW, non-overlapping range of the cluster key, so
    parquet footer min/max statistics let any engine (Spark, DuckDB,
    Trino) skip whole files/row-groups on a range or point filter.
    This is the write-side half of predicate pushdown: pushdown prunes
    nothing if every file spans the whole key domain.

    The layout lever that matters at 100 TB: a time- or key-range
    query over an unclustered sink reads everything; over a clustered
    sink it reads ~(selectivity x files).  Iceberg/Delta call this
    OPTIMIZE/ORDER BY or z-ordering; for a single clustering axis the
    plain range sort achieves the same file-skipping with no extra
    runtime.  Cost: one range shuffle of the data being written (with
    a sampling pass to pick balanced boundaries) — paid once at write
    time, saved on every subsequent scan.

    ``n_files`` caps the output file count (sizing lever:
    bytes / target_file_size); default keeps the session's shuffle
    parallelism."""
    out = (
        df.repartitionByRange(n_files, *cluster_cols)
        if n_files
        else df.repartitionByRange(*cluster_cols)
    )
    out.sortWithinPartitions(*cluster_cols).write.mode(
        "overwrite"
    ).parquet(path)
