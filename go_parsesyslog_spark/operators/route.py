"""Routing operator: fan-out sink assignment, plus a route-level hot set.

Route key (FIXTURES.md §5): ``(severity_class, conv_bucket)`` where
``conv_bucket = pmod(xxhash64(conv_id), n_buckets)``; rows with a
non-null ``err_code`` go to the dead-letter sink instead.

Skew is not handled here: the pipeline writes through a ``rebalance``,
and AQE (``optimizeSkewsInRebalancePartitions``, Spark 3.3+) splits any
oversized reduce partition of it from the measured map-output sizes.
The pipeline calls ``with_route_columns`` without a hot set, so its
sinks carry ``salt = 0``.  ``compute_hot_set`` and the ``hot_ids`` /
``hot_df`` salt remain as a route-level helper that only the perfbench
ladder and the tests use.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DLQ = "dlq"


# Hot sets up to this size fold into the route expression as an isin
# literal (cheapest — no join at all); larger sets take a broadcast hash
# join so plan size / codegen stay bounded and nothing is truncated.
HOT_LITERAL_CAP = 1024


def with_route_columns(
    df: DataFrame,
    n_buckets: int = 16,
    salt_buckets: int = 8,
    hot_ids: list | None = None,
    hot_df: DataFrame | None = None,
) -> DataFrame:
    """Add conv_bucket / sink_id / salt / sink_sev / sink_key columns.

    ``sink_sev``/``sink_key`` partition the fan-out sink: a row with a
    non-null ``err_code`` goes to ``('dlq', err_code)``, every other row
    to ``(severity_class, conv_bucket)``.

    ``salt`` is ``pmod(xxhash64(conv_id, turn_idx), salt_buckets)`` for
    the rows of a hot conversation and 0 for every other row.  The hot
    set comes from ``compute_hot_set``, as one of:

    ``hot_ids``: a small hot set, folded in as an isin literal.
    ``hot_df``: a DataFrame with a ``conv_id`` column — broadcast-hash-
    joined; use for hot sets above ``HOT_LITERAL_CAP`` (an isin literal
    that size bloats plan/codegen, and collecting it risks driver
    memory at true scale).

    With neither, no conversation is salted.
    """
    out = df.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )
    out = out.withColumn(
        "sink_id",
        F.when(F.col("err_code").isNotNull(), F.lit(DLQ)).otherwise(
            F.concat_ws("-", "severity_class", "conv_bucket")
        ),
    )

    is_hot = None
    if hot_df is not None:
        hot = hot_df.select("conv_id", F.lit(True).alias("_hot"))
        out = out.join(F.broadcast(hot), "conv_id", "left")
        is_hot = F.col("_hot").isNotNull()
    elif hot_ids:
        is_hot = F.col("conv_id").isin(list(hot_ids))
    salt = F.lit(0)
    if is_hot is not None:
        salt = F.when(
            is_hot,
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets)),
        ).otherwise(salt)
    out = out.withColumn("salt", salt.cast("int"))
    if "_hot" in out.columns:
        out = out.drop("_hot")
    is_dlq = F.col("err_code").isNotNull()
    return out.withColumns(
        {
            "sink_sev": F.when(is_dlq, F.lit(DLQ)).otherwise(
                F.col("severity_class")
            ),
            "sink_key": F.when(is_dlq, F.col("err_code")).otherwise(
                F.col("conv_bucket").cast("string")
            ),
        }
    )


def compute_hot_set(
    df: DataFrame,
    hot_threshold: int | None = None,
    spill_path: str | None = None,
    literal_cap: int = HOT_LITERAL_CAP,
) -> dict:
    """ONE column-pruned pre-aggregation over the raw input detecting the
    hot conversations (rows > threshold).

    ``hot_threshold`` defaults to 4× the mean rows per conversation
    (at least 64).  Returns ``{"threshold", "count", "ids", "path"}``:
    hot sets up to ``literal_cap`` come back as a plain ``ids`` list
    (fold into the route expression as an isin literal — cheapest, no
    join); larger sets are written to ``spill_path`` parquet and come
    back as ``path`` for the broadcast-join route — nothing is ever
    silently truncated, and driver memory stays bounded at 10^12-turn
    scale.  The result only decides which rows of ``with_route_columns``
    get a ``salt``."""
    conv_counts = (
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_rows"))
        # one input scan feeds both the stats agg and the hot filter:
        # without this the two driver actions below each re-scan the
        # full input to rebuild the (conv_id, _rows) aggregate.  A
        # persist (not a localCheckpoint) keeps the lineage, so a lost
        # executor's blocks are recomputed, and is released on return.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        return _hot_set(conv_counts, df.sparkSession, hot_threshold,
                        spill_path, literal_cap)
    finally:
        conv_counts.unpersist()


def _hot_set(conv_counts, spark, hot_threshold, spill_path, literal_cap):
    if hot_threshold is None:
        stats = conv_counts.agg(
            F.sum("_rows").alias("total"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        mean = int(stats["total"] or 0) / stats["n"] if stats["n"] else 1
        hot_threshold = max(64, int(4 * mean))
    hot = conv_counts.filter(F.col("_rows") > hot_threshold).select("conv_id")
    head = [r["conv_id"] for r in hot.limit(literal_cap + 1).collect()]
    if len(head) <= literal_cap:
        return {"threshold": hot_threshold, "count": len(head),
                "ids": head, "path": None}
    if spill_path is None:
        raise ValueError(
            f"hot set exceeds literal cap ({literal_cap}); pass spill_path "
            "for the broadcast-join route"
        )
    hot.coalesce(1).write.mode("overwrite").parquet(spill_path)
    n = spark.read.parquet(spill_path).count()
    return {"threshold": hot_threshold, "count": n, "ids": None,
            "path": spill_path}
