"""The parse operator: DataFrame in, DataFrame + parsed LogMsg columns out.

This is the Spark equivalent of the reference's whole ``Parser``
interface (parsesyslog.go:23-26).  The Arrow engine is ONE narrow,
shuffle-free projection over the ``text`` column (an Arrow-batched
pandas UDF returning a struct); the default native engine scans the
input ONCE, runs the group regex once, and pays a single exchange to
feed its JVM-fast and Python-exact branches from the same materialized
stage.  No state crosses rows, partitions, or batches — at 100 TB both
engines parallelize embarrassingly.

Format dispatch happens *inside* the UDF per Arrow batch (a vectorized
mask split), so mixed-format tables are parsed in a single pass — using
``F.when`` over two separate UDFs would make Spark evaluate both UDFs
for every row.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_parsesyslog_spark.operators import registry
from go_parsesyslog_spark.operators.schema import PARSED_COLUMNS, PARSED_STRUCT

AUTO = "auto"

# Output struct: `format` tag + the LogMsg fields.
PARSED_WITH_FORMAT = T.StructType(
    [T.StructField("format", T.StringType())] + list(PARSED_STRUCT.fields)
)

# Octet-framing heuristic: RFC5424 wire messages start with the LENGTH
# token (digits + space, rfc5424.go:360-368); RFC3164 lines start with
# '<'.  Only used for fmt="auto".
_FRAMED_RE = r"^[0-9]+ "


# Output columns whose Spark type is string / array / struct-ish: cells
# must be None or a proper value, NEVER a float NaN.  pandas silently
# introduces NaN into object columns via Series.where / concat dtype
# inference (an all-None column collapsing to float64 turns every None
# into nan) — and the Arrow serializer then crashes trying to iterate a
# float as the array type.  One scrub at the UDF boundary guarantees the
# contract for every engine and batch mixture.
_OBJECT_COLS = [
    "format", "host", "app", "pid", "msgid", "structured_data",
    "message", "err_code",
]


def _scrub_object_nans(out: pd.DataFrame) -> pd.DataFrame:
    for c in _OBJECT_COLS:
        if c not in out.columns:
            continue
        col = out[c]
        arr = col.to_numpy(dtype=object, copy=True)
        mask = pd.isna(arr)
        if mask.any():
            arr[mask] = None
        if mask.any() or col.dtype != object:
            out[c] = pd.Series(arr, index=out.index, dtype=object)
    return out


def _dispatch_batch(texts: pd.Series, ref_now) -> pd.DataFrame:
    texts = texts.reset_index(drop=True)
    mask = texts.fillna("").str.match(_FRAMED_RE).to_numpy()
    parts = []
    if mask.any():
        p = registry.new(registry.RFC5424)(texts[mask])
        p.index = np.where(mask)[0]
        p.insert(0, "format", "RFC5424")
        parts.append(p)
    if (~mask).any():
        p = registry.new(registry.RFC3164)(texts[~mask], ref_now=ref_now)
        p.index = np.where(~mask)[0]
        p.insert(0, "format", "RFC3164")
        parts.append(p)
    out = pd.concat(parts).sort_index() if len(parts) > 1 else parts[0]
    return _scrub_object_nans(out)


def make_parse_udf(fmt: str = AUTO, ref_now: pd.Timestamp | None = None):
    """Build the Arrow-batched parse UDF for a format ('rfc3164',
    'rfc5424', or 'auto' for per-row wire-format detection)."""
    if fmt == AUTO:
        def fn(texts: pd.Series) -> pd.DataFrame:
            return _dispatch_batch(texts, ref_now)
    elif fmt == registry.RFC3164:
        def fn(texts: pd.Series) -> pd.DataFrame:
            out = registry.new(registry.RFC3164)(texts, ref_now=ref_now)
            out.insert(0, "format", "RFC3164")
            return _scrub_object_nans(out)
    else:
        batch = registry.new(fmt)  # raises ParserTypeUnknown eagerly (A2)
        tag = fmt.upper()

        def fn(texts: pd.Series) -> pd.DataFrame:
            out = batch(texts)
            out.insert(0, "format", tag)
            return _scrub_object_nans(out)

    return F.pandas_udf(fn, PARSED_WITH_FORMAT)


def parse_logs_arrow(
    df: DataFrame,
    text_col: str = "text",
    fmt: str = AUTO,
    ref_now: pd.Timestamp | None = None,
) -> DataFrame:
    """The Arrow-batched Python engine over every row — exact reference
    semantics for arbitrary input, one narrow projection."""
    udf = make_parse_udf(fmt, ref_now)
    parsed = df.withColumn("_parsed", udf(F.col(text_col)))
    keep = [c for c in df.columns]
    return parsed.select(*keep, "_parsed.format", *[f"_parsed.{c}" for c in PARSED_COLUMNS])


def parse_logs(
    df: DataFrame,
    text_col: str = "text",
    fmt: str = AUTO,
    ref_now: pd.Timestamp | None = None,
    engine: str | None = None,
) -> DataFrame:
    """Attach the parsed LogMsg columns to ``df``.

    Equivalent of ParseString/ParseReader over every row (rfc3164.go:65-104,
    rfc5424.go:57-111).

    ``engine="native"`` (default, overridable via
    ``$SPARK_GRAFT_PARSE_ENGINE``): strictly-canonical rows are parsed
    entirely JVM-side (whole-stage codegen — see operators/native_fast
    for why this matters at high core counts); everything else takes the
    Arrow-batched exact Python parser.  ``engine="arrow"`` forces the
    Python engine for all rows.
    """
    if engine is None:
        engine = os.environ.get("SPARK_GRAFT_PARSE_ENGINE", "native")
    if engine != "native":
        return parse_logs_arrow(df, text_col, fmt, ref_now)

    from go_parsesyslog_spark.operators import native_fast as nf
    from go_parsesyslog_spark.operators.parse_rfc3164 import DEFAULT_REF_NOW

    ref = ref_now if ref_now is not None else DEFAULT_REF_NOW
    t = F.col(text_col)
    framed = F.coalesce(t.rlike(_FRAMED_RE), F.lit(False))
    want3 = fmt in (AUTO, registry.RFC3164)
    want5 = fmt in (AUTO, registry.RFC5424)
    if not (want3 or want5):
        registry.new(fmt)  # raises ParserTypeUnknown eagerly (A2)

    cheap = nf.cheap_guards(t)
    keep = list(df.columns)

    # ---- the group-array Project: ONE regex pass per row.  The anchored
    # regexp_replace rewrite either matches (→ exactly N groups joined by
    # SEP; input is SEP-free by cheap_guards) or returns the input
    # unchanged (→ size 1), so `size(groups) == N` IS the match test —
    # no separate rlike anywhere.
    #
    # The `~isnan(rand)` conjunct is ALWAYS TRUE but nondeterministic-
    # tagged: Catalyst's PushPredicateThroughNonJoin only pushes filters
    # through Projects whose fields are all deterministic, so this single
    # tag pins EVERY downstream predicate (our branch filters, user
    # filters over parsed columns) above this Project.  Without it, each
    # pushed predicate is rewritten by substituting the full group
    # expression — re-running the regex, and (when `text` is itself a
    # computed column, as in tests/bench) the whole text construction,
    # once per reference: measured 10× slower.  Trade-off: predicates on
    # passthrough partition columns won't reach the scan either — filter
    # the INPUT before parse_logs for partition pruning.
    nd = ~F.isnan(F.rand(41))
    gcols = {}
    if want3:
        gate3 = cheap & (~framed if fmt == AUTO else F.lit(True))
        gcols["_s3"] = F.when(gate3 & nd, nf.groups_str_3164(t))
    if want5:
        gate5 = cheap & (framed if fmt == AUTO else F.lit(True))
        gcols["_s5"] = F.when(gate5 & nd, nf.groups_str_5424(t))
    staged = df.withColumns(gcols)

    # ---- single-scan materialization (VERDICT r2 #4): the fast and the
    # slow branch below are two consumers of `staged`; as plain subtrees
    # each would re-scan the source and re-run the group regex (200 TB
    # of scan for a 100 TB parse).  Routing `staged` through ONE
    # hash-partition Exchange lets AQE's ReuseExchange materialize the
    # scan+regex once and feed both branches from the shuffle files.
    # The partition key is xxhash64(text): deterministic (no
    # sort-before-repartition penalty round-robin would pay for retry
    # consistency).  Caveat: heavily duplicated identical lines co-locate
    # — pre-salt upstream if your traffic is one health-check line.
    # Two things must hold for the reuse to fire (both measured to kill
    # it otherwise): (a) the branch filters must stay ABOVE the exchange
    # — the second `~isnan(rand)` no-op barrier blocks their pushdown;
    # (b) both branches must demand the SAME columns from the exchange —
    # so the AUTO discriminator `_is3` is computed in the fast branch
    # only, after the exchange (a fast-branch-only column in `staged`
    # would be pruned from the slow subtree and the two exchanges would
    # no longer canonicalize equal).
    # Cost model, measured (BENCH/BASELINE.md): the exchange trades CPU
    # (serialize + compress ~2× text bytes) for halving SOURCE reads.
    # On ≥8 cores the overhead is ~15% CPU for 2× less scan — a clear
    # win whenever storage bandwidth is the scarce resource (any real
    # 100 TB cluster).  On 1-2 cores the exchange I/O serializes on the
    # same cores that parse and costs ~2×, so tiny deployments can set
    # SPARK_GRAFT_PARSE_SINGLE_SCAN=0 to fall back to the double-scan
    # plan (source read twice, regex run twice, no exchange).
    single_scan = os.environ.get("SPARK_GRAFT_PARSE_SINGLE_SCAN", "1") != "0"
    if single_scan:
        spark = df.sparkSession
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        staged = staged.repartition(n_parts, F.xxhash64(F.col(text_col)))
        barrier_col = "_s3" if want3 else "_s5"
        nd2 = ~F.isnan(F.rand(43))
        staged = staged.withColumn(
            barrier_col,
            F.when(nd2, F.col(barrier_col)).otherwise(F.col(barrier_col)),
        )
    # the exchange ships the compact SEP-joined group STRING (≈ text
    # bytes); the split into the group array happens here, once per
    # branch, post-exchange (split is cheap; the regex is what must not
    # re-run).  CollapseProject keeps the split materialized because it
    # is non-cheap and referenced 16× by the consumer Project.
    split_cols = {}
    if want3:
        split_cols["_g3"] = nf.split_groups(F.col("_s3"))
    if want5:
        split_cols["_g5"] = nf.split_groups(F.col("_s5"))
    staged = staged.withColumns(split_cols)

    m3f = (F.size("_g3") == nf.N3) if want3 else F.lit(False)
    m5f = (
        (F.size("_g5") == nf.N5) & nf.ts_ok_groups_5424(F.col("_g5"))
        if want5
        else F.lit(False)
    )
    fast_cond = F.coalesce(m3f | m5f, F.lit(False))

    # Per-row branch discriminator, valid AFTER the fast filter: under
    # AUTO the framing gate separates the branches; fixed fmt → constant.
    # Materialized as its own post-exchange projection: the consumer
    # Project references it per output column (16×) — as an attribute
    # that is free; inlined (CollapseProject skips non-cheap exprs
    # referenced more than once) it would re-run the rlike per reference.
    fast_src = staged.filter(fast_cond)
    if fmt == AUTO:
        fast_src = fast_src.withColumn("_is3", ~framed)
        is3 = F.col("_is3")
    else:
        is3 = F.lit(fmt == registry.RFC3164)

    f3 = nf.native_3164_fields(F.col("_g3"), ref) if want3 else None
    f5 = nf.native_5424_fields(F.col("_g5")) if want5 else None

    def pick(name: str) -> Column:
        if want3 and want5:
            return F.when(is3, f3[name]).otherwise(f5[name])
        return (f3 if want3 else f5)[name]

    if want3 and want5:
        fmt_col = F.when(is3, F.lit("RFC3164")).otherwise(F.lit("RFC5424"))
    else:
        fmt_col = F.lit("RFC3164" if want3 else "RFC5424")
    fast = fast_src.select(
        *keep,
        fmt_col.alias("format"),
        *[pick(c).alias(c) for c in PARSED_COLUMNS],
    )

    # ---- slow branch (same materialized exchange, opposite mask):
    # everything the fast mask excludes takes the exact Arrow parser.
    # The Python stage is funneled into a bounded number of partitions:
    # with many concurrent jobs each fanning Arrow stages across every
    # core, the per-task Python worker forks/pipes drove measured kernel
    # time to >80% on local[32] (a fork/futex storm, not compute) and
    # wall time was 1.3-4× worse than capped.  The filter scan itself
    # stays fully parallel — only the Python stage is narrowed, and the
    # shuffle moves slow rows only (a few % of input).
    slow_rows = staged.filter(~fast_cond).select(*keep)
    total = df.sparkSession.sparkContext.defaultParallelism
    cap = int(os.environ.get("SPARK_GRAFT_PY_PARALLELISM", max(8, total // 4)))
    if total > cap:
        slow_rows = slow_rows.repartition(cap)
    slow = parse_logs_arrow(slow_rows, text_col, fmt, ref_now)
    return fast.unionByName(slow)


def sd_flat(sd_col: Column | str = "structured_data") -> Column:
    """Lossy-but-convenient map view of the structured data: keys are
    ``sd_id/param_key``; later duplicates win (the faithful nested
    Array(Struct) column keeps order and repeated keys — SURVEY §1.1.3).
    Pure Catalyst: flatten + transform + map_from_entries."""
    c = F.col(sd_col) if isinstance(sd_col, str) else sd_col
    entries = F.flatten(
        F.transform(
            c,
            lambda el: F.transform(
                el["params"],
                lambda p: F.struct(
                    F.concat_ws("/", el["sd_id"], p["key"]).alias("key"),
                    p["val"].alias("value"),
                ),
            ),
        )
    )
    return F.map_from_entries(entries)
