"""Aggregation operator: per-sink counts windowed by event time.

FIXTURES.md §5: ``sink_id, severity_class, window<start,end>,
turn_count`` — per-sink counts over 1-hour tumbling windows of ``ts``,
plus distinct-conversation estimates.  Catalyst executes this as
partial (map-side) + final hash aggregation; the only shuffle is on the
group key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sink_metrics(df: DataFrame, window: str = "1 hour") -> DataFrame:
    """Windowed per-sink aggregate table (includes the DLQ sinks when
    present in the input)."""
    return (
        df.groupBy(
            "sink_id", "sink_sev", "sink_key", "severity_class",
            F.window("ts", window).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
            F.sum("msg_length").alias("total_msg_bytes"),
        )
        .select(
            "sink_id",
            "sink_sev",
            "sink_key",
            "severity_class",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "turn_count",
            "approx_convs",
            "total_msg_bytes",
        )
    )


def rolling_daily_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Per-key daily activity with a trailing ``window_days``-day
    rolling count — the RANGE-frame window pattern (a ROWS frame would
    be wrong whenever days are missing: 'last 7 calendar days' must
    skip gaps, not count back 7 rows).

    Two-level shape for scale: raw rows first collapse to (key, day)
    via a map-side-combinable count — the window then runs over the
    tiny daily frame (365 rows/key/year), never the raw events.  Two
    exchanges by necessity: the agg hash-partitions on (key, day),
    which does NOT satisfy the window's partitionBy(key), so the
    window re-shuffles — but only the collapsed daily rows, ~10^4x
    smaller than the input.  ``day_num`` is integer days since
    1970-01-01, so the RANGE frame is exact integer arithmetic on both
    engines.

    Output: (key, day_num BIGINT, n_day BIGINT, n_rolling BIGINT)."""
    daily = (
        df.select(
            F.col(key_col),
            F.datediff(F.to_date(ts_col), F.lit("1970-01-01")).alias(
                "day_num"
            ),
        )
        .groupBy(key_col, "day_num")
        .agg(F.count(F.lit(1)).alias("n_day"))
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("day_num")
        .rangeBetween(-(window_days - 1), 0)
    )
    return daily.select(
        F.col(key_col),
        F.col("day_num").cast("long").alias("day_num"),
        F.col("n_day").cast("long").alias("n_day"),
        F.sum("n_day").over(w).cast("long").alias("n_rolling"),
    )


def hourly_anomalies(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    z_threshold: int = 3,
) -> DataFrame:
    """Flag hours whose event count deviates more than ``z_threshold``
    sample standard deviations from that group's hourly mean — with the
    z-test done in EXACT integer cross-multiplication, so the flag is
    bit-replayable by any engine (no float mean/stddev whose value
    depends on distributed summation order):

        |n - total/H| > z * sqrt((H*sumsq - total^2) / (H^2 (H-1)))
      ⇔ (H*n - total)^2 * (H-1) > z^2 * (H*sumsq - total^2)

    with H = number of distinct hours for the group, total = Σn,
    sumsq = Σn².  The cross-multiplied comparison runs in
    DECIMAL(38,0) (ADVICE r5: the r5 int64 form overflowed far below
    its documented bound — at H ≈ 744 hours and n ≈ 10^6 rows/hour,
    d²·(H−1) ≈ 4·10^20 > 2^63, and Spark's non-ANSI wraparound would
    silently flip flags while the BIGINT oracle errored).  In decimal
    the terms stay exact up to ~10^38: comfortably beyond H ≤ 10^5
    hours at n ≤ 10^9 rows/hour (d² (H−1) ≤ (10^5·10^9)² · 10^5 =
    10^33).  Within int64 range the decimal and int comparisons are
    identical, so engine replays are unchanged.

    Plan: hourly counts (map-side combined) → per-group totals (tiny)
    → broadcast join back → pure projection.  Output: (group, hour_ts,
    n BIGINT, is_anomaly BOOLEAN)."""
    hourly = (
        df.select(F.col(group_col), F.date_trunc("hour", ts_col).alias("hour_ts"))
        .groupBy(group_col, "hour_ts")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = hourly.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_h"),
        F.sum("n").alias("_tot"),
        F.sum(F.col("n").cast("decimal(38,0)")
              * F.col("n").cast("decimal(38,0)")).alias("_ssq"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d = dec(F.col("_h") * F.col("n") - F.col("_tot"))
    flag = (d * d * dec(F.col("_h") - 1)) > (
        dec(F.lit(z_threshold * z_threshold))
        * (dec(F.col("_h")) * F.col("_ssq")
           - dec(F.col("_tot")) * dec(F.col("_tot")))
    )
    return (
        hourly.join(F.broadcast(totals), group_col)
        .select(
            F.col(group_col),
            "hour_ts",
            F.col("n").cast("long").alias("n"),
            F.when(F.col("_h") > 1, flag).otherwise(F.lit(False))
            .alias("is_anomaly"),
        )
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group quantiles of an INTEGER column at dyadic
    probabilities (k/2^m — 0.25/0.5/0.75): Spark's exact `percentile`
    and DuckDB's `quantile_cont` share the definition q = v[i] +
    f*(v[i+1]-v[i]) with i = floor(p*(n-1)), f = frac(p*(n-1)); for
    dyadic p and integer values every term is an exact dyadic rational,
    so the doubles are BIT-IDENTICAL across engines and partitionings
    (non-dyadic p like 0.95 would not be — callers wanting those should
    round).  Exact percentile sorts per group; for corpus-scale groups
    prefer approx_percentile and drop the oracle to rows-only."""
    aggs = [
        F.expr(f"percentile({value_col}, {p})").alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"), *aggs
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_sec: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Resample an irregular per-key time series onto a fixed
    ``step_sec`` grid with forward-fill — the telemetry-alignment step
    every monitoring/feature pipeline needs (join sensors sampled at
    different rates, fill reporting gaps).

    Semantics: bucket = floor(epoch/step)*step; within a bucket the
    LAST observation wins, ordered by (ts, *order_cols) — pass a unique
    tiebreaker for a total order, or the within-bucket winner is
    nondeterministic.  The grid spans each key's own [first, last]
    bucket (no extrapolation beyond the data); empty buckets carry the
    previous value forward, and ``is_observed`` distinguishes carried
    rows.

    Scale shape: the raw input collapses FIRST to one row per
    (key, bucket) via max_by — map-side combinable, ONE shuffle of the
    big table.  Everything after runs on the collapsed frame: the
    per-key span agg, the narrow sequence-explode grid (rows ∝ output
    grid, generated distributed, never on the driver), the grid⋈obs
    equi-join, and the forward-fill window partitioned by key.  A key's
    grid length is bounded by its time span / step, never corpus size.

    Output: (key, bucket_start TIMESTAMP, value, is_observed BOOLEAN).
    """
    order_cols = order_cols or []
    # floor, not cast: cast truncates toward zero, which rounds
    # pre-1970 (negative-epoch) timestamps UP instead of down —
    # diverging from floor-division bucketing and from the DuckDB
    # oracle's `//` (ADVICE r5).  Identical for non-negative epochs.
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec).cast("long")
        * step_sec
    )
    rank = F.struct(F.col(ts_col), *[F.col(c) for c in order_cols])
    obs = (
        df.withColumn("_b", bucket)
        .groupBy(key_col, "_b")
        .agg(F.max_by(F.col(value_col), rank).alias("_v"))
    )
    span = obs.groupBy(key_col).agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    grid = span.select(
        key_col,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(step_sec))
        ).alias("_b"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, [key_col, "_b"], "left")
        .select(
            F.col(key_col),
            F.timestamp_seconds(F.col("_b")).alias("bucket_start"),
            F.last("_v", ignorenulls=True).over(w).alias(value_col),
            F.col("_v").isNotNull().alias("is_observed"),
        )
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: float = 0.25,
    p_hi: float = 0.75,
) -> DataFrame:
    """Outlier-robust per-group stats: clamp ``value_col`` to the
    group's [p_lo, p_hi] exact quantiles (winsorize), then aggregate —
    the robust-mean building block quality pipelines use where a
    handful of garbage rows would otherwise dominate a plain mean.

    Quantile probabilities should be dyadic (0.25/0.5/0.75) for
    bit-identical oracle replay — the group_quantiles contract.  Two
    passes over the fact table by necessity (quantiles must be known
    before clamping); the per-group quantile frame is tiny and
    broadcast back, so the second pass adds no shuffle of the fact —
    at 100 TB that is 2 scans + 1 small-side broadcast + the final
    map-side-combinable agg.

    Output: (group, n BIGINT, lo DOUBLE, hi DOUBLE,
    winsorized_sum DOUBLE)."""
    q = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {p_lo})").alias("_lo"),
        F.expr(f"percentile({value_col}, {p_hi})").alias("_hi"),
    )
    clamped = df.join(F.broadcast(q), group_col).withColumn(
        "_w",
        F.greatest(F.least(F.col(value_col), F.col("_hi")), F.col("_lo")),
    )
    return clamped.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("_lo").alias("lo"),
        F.first("_hi").alias("hi"),
        F.sum("_w").alias("winsorized_sum"),
    )


def rank_decile_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Distribution profile via percent_rank: bucket each row by its
    within-group rank percentile (ties share a rank, so the bucketing
    is deterministic under any partitioning) and count per bucket —
    the rank-normalized histogram feature pipelines use where raw
    value histograms are scale-sensitive.

    percent_rank = (rank-1)/(n-1) is an exact IEEE expression of two
    integers, bit-identical across engines, so floor(pr*buckets) is
    oracle-replayable with no float discipline needed.  One shuffle:
    the rank window and the (group, bucket) count share the group
    partitioning.

    Output: (group, bucket INT, n BIGINT)."""
    w = Window.partitionBy(group_col).orderBy(value_col)
    pr = F.percent_rank().over(w)
    bucket = F.least(
        F.floor(pr * buckets), F.lit(buckets - 1)
    ).cast("int")
    return (
        df.withColumn("_bk", bucket)
        .groupBy(group_col, F.col("_bk").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
