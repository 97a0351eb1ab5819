"""The parse operator: DataFrame in, DataFrame + parsed LogMsg columns out.

This is the Spark equivalent of the reference's whole ``Parser``
interface (parsesyslog.go:23-26).  Both engines are the SAME narrow,
shuffle-free projection over the ``text`` column.  The default native
engine runs the group regex once per row, parses the canonical rows
JVM-side, and hands the Arrow-batched exact UDF only the others (the
canonical rows cross the Arrow boundary as NULLs), picking each output
column per row.  The Arrow engine is that projection with no native
rows: the exact UDF parses every row.  No state crosses rows,
partitions, or batches — at 100 TB both engines parallelize
embarrassingly.

Format dispatch happens *inside* the UDF per Arrow batch (a vectorized
mask split), so mixed-format tables are parsed in a single pass — using
``F.when`` over two separate UDFs would make Spark evaluate both UDFs
for every row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_parsesyslog_spark.operators import native_fast as nf
from go_parsesyslog_spark.operators import registry
from go_parsesyslog_spark.operators.parse_rfc3164 import DEFAULT_REF_NOW
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
    if not mask.all() or not parts:
        p = registry.new(registry.RFC3164)(texts[~mask], ref_now=ref_now)
        p.index = np.where(~mask)[0]
        p.insert(0, "format", "RFC3164")
        parts.append(p)
    out = pd.concat(parts).sort_index() if len(parts) > 1 else parts[0]
    return _scrub_object_nans(out)


def _batch_parser(fmt: str, ref_now: pd.Timestamp | None):
    """The exact parser for one pandas batch: texts → ``format`` + the
    LogMsg columns, NaN-free object columns ('rfc3164', 'rfc5424', or
    'auto' for per-row wire-format detection)."""
    if fmt == AUTO:
        return lambda texts: _dispatch_batch(texts, ref_now)
    batch = registry.new(fmt)  # raises ParserTypeUnknown eagerly (A2)
    kw = {"ref_now": ref_now} if fmt == registry.RFC3164 else {}
    tag = fmt.upper()

    def fn(texts: pd.Series) -> pd.DataFrame:
        out = batch(texts, **kw)
        out.insert(0, "format", tag)
        return _scrub_object_nans(out)

    return fn


def make_fallback_udf(fmt: str = AUTO, ref_now: pd.Timestamp | None = None):
    """The exact parser over ``(text, fast)``: rows with ``fast`` true
    were parsed JVM-side and come back with every field NULL (their
    ``text`` arrives NULL and is never looked at); the others are parsed
    as a compact sub-batch and scattered back to their positions."""
    parse = _batch_parser(fmt, ref_now)

    def fn(texts: pd.Series, fast: pd.Series) -> pd.DataFrame:
        slow = ~fast.to_numpy(dtype=bool)
        out = parse(texts[slow].reset_index(drop=True))
        out.index = np.flatnonzero(slow)
        return _scrub_object_nans(out.reindex(pd.RangeIndex(len(texts))))

    return F.pandas_udf(fn, PARSED_WITH_FORMAT)


def parse_logs(
    df: DataFrame,
    text_col: str = "text",
    fmt: str = AUTO,
    ref_now: pd.Timestamp | None = None,
    engine: str = "native",
) -> DataFrame:
    """Attach the parsed LogMsg columns to ``df``.

    Equivalent of ParseString/ParseReader over every row (rfc3164.go:65-104,
    rfc5424.go:57-111).

    ``engine="native"`` (default): strictly-canonical rows are parsed
    entirely JVM-side (whole-stage codegen — see operators/native_fast
    for why this matters at high core counts); everything else takes the
    Arrow-batched exact Python parser, in the same narrow projection.
    ``engine="arrow"`` is that same projection with no native rows: the
    exact parser takes every row.  So does a format registered through
    :func:`registry.register`, which has no native counterpart.
    """
    want3 = engine == "native" and fmt in (AUTO, registry.RFC3164)
    want5 = engine == "native" and fmt in (AUTO, registry.RFC5424)
    ref = ref_now if ref_now is not None else DEFAULT_REF_NOW
    t = F.col(text_col)
    framed = F.coalesce(t.rlike(_FRAMED_RE), F.lit(False))
    cheap = nf.cheap_guards(t)
    keep = list(df.columns)

    # ---- the group-array Project: ONE regex pass per row.  The anchored
    # regexp_replace rewrite either matches (→ exactly N groups joined by
    # SEP; input is SEP-free by cheap_guards) or returns the input
    # unchanged (→ size 1), so the group count IS the match test
    # (nf.matched_*) — no separate rlike anywhere.  The split happens in
    # the same Project (split is cheap; the regex is what must not
    # re-run); CollapseProject keeps the array materialized because it is
    # non-cheap and referenced once per output column by the consumer
    # Project.
    #
    # The `~isnan(rand)` conjunct is ALWAYS TRUE but nondeterministic-
    # tagged: Catalyst's PushPredicateThroughNonJoin only pushes filters
    # through Projects whose fields are all deterministic, so this single
    # tag pins EVERY downstream predicate (user filters over parsed
    # columns) above this Project.  Without it, each pushed predicate is
    # rewritten by substituting the full group expression — re-running
    # the regex, and (when `text` is itself a computed column, as in
    # tests/bench) the whole text construction, once per reference:
    # measured 10× slower.  Trade-off: predicates on passthrough
    # partition columns won't reach the scan either — filter the INPUT
    # before parse_logs for partition pruning.
    nd = ~F.isnan(F.rand(41))
    gcols = {}
    if want3:
        gate3 = cheap & (~framed if fmt == AUTO else F.lit(True))
        gcols["_g3"] = nf.split_groups(
            F.when(gate3 & nd, nf.groups_str_3164(t))
        )
    if want5:
        gate5 = cheap & (framed if fmt == AUTO else F.lit(True))
        gcols["_g5"] = nf.split_groups(
            F.when(gate5 & nd, nf.groups_str_5424(t))
        )
    staged = df.withColumns(gcols)

    # Under AUTO the framing gates make the two matches exclusive, so the
    # 3164 match doubles as the per-row format discriminator — no second
    # framing rlike per output column.
    fast = F.lit(False)
    if want3 or want5:
        m3 = (F.coalesce(nf.matched_3164(F.col("_g3")), F.lit(False))
              if want3 else F.lit(False))
        m5 = (F.coalesce(nf.matched_5424(F.col("_g5")), F.lit(False))
              if want5 else F.lit(False))
        staged = staged.withColumn("_m3", m3).withColumn(
            "_fast", F.col("_m3") | m5
        )
        fast = F.col("_fast")

    # ---- the exact Python parser, in the SAME narrow projection: it
    # receives every row but only the non-canonical ones carry their text
    # (a NULL costs next to nothing to ship across the Arrow boundary),
    # plus the mask itself so a genuinely NULL/empty input still gets the
    # exact parser's err_code.  One scan, one regex pass, no exchange.
    staged = staged.withColumn(
        "_py",
        make_fallback_udf(fmt, ref_now)(F.when(~fast, t), fast),
    )

    f3 = f5 = None
    if want3:
        f3 = {"format": F.lit("RFC3164"), **nf.native_3164_fields(F.col("_g3"), ref)}
    if want5:
        f5 = {"format": F.lit("RFC5424"), **nf.native_5424_fields(F.col("_g5"))}

    def native(name: str) -> Column:
        if want3 and want5:
            return F.when(F.col("_m3"), f3[name]).otherwise(f5[name])
        if want3 or want5:
            return (f3 if want3 else f5)[name]
        return F.lit(None)  # never taken: `fast` is false on every row

    return staged.select(
        *keep,
        *[
            F.when(fast, native(c)).otherwise(F.col(f"_py.{c}")).alias(c)
            for c in ["format", *PARSED_COLUMNS]
        ],
    )


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
