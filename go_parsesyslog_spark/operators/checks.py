"""Declarative data-quality constraints, verified in ONE pass.

A 100 TB ingest cannot afford one job per assertion: every row-local
constraint below (not_null / in_set / in_range / matches / custom
predicate) compiles to a conditional count inside a SINGLE global
aggregate — one scan, map-side partials, a one-row-per-constraint
result.  The two non-row-local constraint kinds get the cheapest plan
that can answer them:

* ``unique`` — count minus count(distinct) in the same aggregate
  (Spark plans multi-distinct with one Expand, still one scan);
* ``ref_integrity`` — a LEFT ANTI join counted; pass a dimension-sized
  reference and Spark broadcasts it (AQE), so the fact table is never
  shuffled.

This is the pipeline-facing cousin of the parser's per-row error
taxonomy (errors.py): errors.py marks rows the reference grammar
rejects (go-parsesyslog returns one error per malformed message —
parsesyslog.go ParseString contract); checks.py asserts table-level
invariants the reference's single-message API cannot even express.

Constraint spec = plain dicts (engine-agnostic, trivially serialized
into run metadata / lineage records):

    {"name": "pri_range", "kind": "in_range", "col": "pri",
     "lo": 0, "hi": 191}

Output schema: (constraint STRING, violations BIGINT, n_rows BIGINT,
passed BOOLEAN) — integer-exact, oracle-replayable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _violation_pred(c: dict) -> Column:
    """Boolean Column that is true where the row VIOLATES ``c``.
    NULL handling: not_null flags NULLs; every other row-local kind
    treats NULL as a violation too (an unparseable value can't satisfy
    a domain constraint) unless ``allow_null`` is set."""
    kind = c["kind"]
    col = F.col(c["col"]) if "col" in c else None
    if kind == "not_null":
        return col.isNull()
    if kind == "in_set":
        ok = col.isin(*c["values"])
    elif kind == "in_range":
        ok = col.between(c["lo"], c["hi"])
    elif kind == "matches":
        ok = col.rlike(c["regex"])
    elif kind == "predicate":
        ok = c["expr"] if isinstance(c["expr"], Column) else F.expr(c["expr"])
    else:
        raise ValueError(f"unknown constraint kind {kind!r}")
    if c.get("allow_null"):
        if col is None:
            raise ValueError(
                f"allow_null on {c['name']!r} requires a 'col' key"
            )
        ok = ok | col.isNull()
    elif "col" in c:
        ok = ok & col.isNotNull()
    return ~F.coalesce(ok, F.lit(False))


def check_constraints(
    df: DataFrame,
    constraints: list[dict],
    reference: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Evaluate every constraint; see module docstring for the plan.
    ``reference`` maps a name to the lookup DataFrame used by
    ``ref_integrity`` constraints ({"kind": "ref_integrity", "col":
    ..., "ref": <name>, "ref_col": ...})."""
    names, aggs = [], []
    row_local = []
    specials = []
    for c in constraints:
        if c["kind"] in ("unique", "ref_integrity"):
            specials.append(c)
        else:
            row_local.append(c)

    for c in row_local:
        names.append(c["name"])
        aggs.append(
            F.count(F.when(_violation_pred(c), 1)).cast("long")
            .alias(c["name"])
        )
    for c in specials:
        if c["kind"] == "unique":
            names.append(c["name"])
            cols = c["cols"] if "cols" in c else [c["col"]]
            # count only rows whose key is fully non-NULL:
            # count(DISTINCT) skips any-NULL rows, so subtracting it
            # from a raw count would flag every NULL-keyed row as a
            # duplicate (SQL UNIQUE semantics: NULL keys never clash)
            nonnull = F.lit(True)
            for x in cols:
                nonnull = nonnull & F.col(x).isNotNull()
            aggs.append(
                (F.count(F.when(nonnull, 1))
                 - F.count_distinct(*[F.col(x) for x in cols]))
                .cast("long").alias(c["name"])
            )
    out = None
    if names:
        base = df.agg(
            F.count(F.lit(1)).cast("long").alias("__n"), *aggs
        )
        out = base.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(n).alias("constraint"),
                        F.col(n).alias("violations"),
                        F.col("__n").alias("n_rows"),
                    )
                    for n in names
                ])
            ).alias("c")
        ).select("c.constraint", "c.violations", "c.n_rows")

    # one shared total-row frame for every ref constraint (a per-
    # constraint df.agg(count) would re-scan the fact table K times):
    # every branch cross-joins the same 1-row aggregate, so Spark's
    # exchange reuse computes it once (the other branches read a
    # ReusedExchange)
    refs = [c for c in specials if c["kind"] == "ref_integrity"]
    for c in refs:
        if not reference or c["ref"] not in reference:
            raise ValueError(
                f"ref_integrity {c['name']!r} needs reference "
                f"{c['ref']!r}"
            )
    total = None
    if refs:
        total = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    for c in refs:
        ref = reference[c["ref"]].select(
            F.col(c["ref_col"]).alias(c["col"])
        ).distinct()
        orphans = (
            df.select(c["col"]).filter(F.col(c["col"]).isNotNull())
            .join(F.broadcast(ref), c["col"], "left_anti")
        )
        row = orphans.agg(
            F.lit(c["name"]).alias("constraint"),
            F.count(F.lit(1)).cast("long").alias("violations"),
        ).crossJoin(total)
        out = row if out is None else out.unionByName(row)

    if out is None:
        raise ValueError("no constraints given")
    return out.withColumn("passed", F.col("violations") == 0)


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column data profile in one pass: NULL count, exact distinct
    count, and total string length (0 for non-strings) — the
    ingest-time profiling report that sizes dictionaries, picks
    bucketing keys, and catches schema drift before a 100 TB backfill.

    One scan: every metric is an aggregate in a SINGLE agg call;
    Spark plans the N count(distinct)s with one Expand (each input row
    fans out once per column), keeping map-side partials — at 10^12
    rows this is one shuffle of partial states, never N jobs.  For
    corpora where exact distinct is too hot, swap count_distinct for
    approx_count_distinct at the call site — same plan shape minus the
    Expand.

    All-BIGINT output (float-free oracle replay):
    (column STRING, n_null BIGINT, n_distinct BIGINT, sum_len BIGINT).
    """
    from pyspark.sql.types import StringType

    str_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType,
                                                       StringType)
    }
    aggs = []
    for c in cols:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).cast("long")
            .alias(f"__null_{c}")
        )
        aggs.append(
            F.count_distinct(F.col(c)).cast("long").alias(f"__dist_{c}")
        )
        aggs.append(
            (F.sum(F.length(F.col(c))) if c in str_cols else F.lit(0))
            .cast("long").alias(f"__len_{c}")
        )
    base = df.agg(*aggs)
    return base.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"__null_{c}").alias("n_null"),
                    F.col(f"__dist_{c}").alias("n_distinct"),
                    F.coalesce(F.col(f"__len_{c}"), F.lit(0))
                    .alias("sum_len"),
                )
                for c in cols
            ])
        ).alias("p")
    ).select("p.column", "p.n_null", "p.n_distinct", "p.sum_len")
