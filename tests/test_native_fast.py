"""Differential tests: the JVM-native fast path (+ Python fallback)
must produce identical results to the all-Python exact engine on corpus
lines, generated traffic, and mutations."""

import random

import pytest
from pyspark.sql import functions as F

from go_parsesyslog_spark.corpus import (
    RFC3164_CASES,
    RFC5424_INVALID,
    RFC5424_VALID,
)
from go_parsesyslog_spark.operators.parse import parse_logs
from go_parsesyslog_spark.operators.parse_rfc3164 import DEFAULT_REF_NOW
from go_parsesyslog_spark.sources.transcripts import generate_transcripts

CMP_COLS = [
    "i", "format", "priority", "facility", "severity", "proto_version",
    "msg_ts", "host", "app", "pid", "msgid", "has_bom", "message",
    "msg_length", "err_code", "sd_json",
]


def _both(spark, lines, fmt):
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "i int, text string"
    )
    out = {}
    for engine in ("native", "arrow"):
        r = parse_logs(df, fmt=fmt, ref_now=DEFAULT_REF_NOW, engine=engine)
        r = r.withColumn("sd_json", F.to_json("structured_data"))
        out[engine] = {
            row["i"]: row for row in r.select(*CMP_COLS).collect()
        }
    return out


def _assert_equal(spark, lines, fmt):
    res = _both(spark, lines, fmt)
    assert len(res["native"]) == len(lines)
    for i in range(len(lines)):
        n, a = res["native"][i], res["arrow"][i]
        for c in CMP_COLS:
            assert n[c] == a[c], (
                f"row {i} col {c}: native={n[c]!r} arrow={a[c]!r} "
                f"line={lines[i]!r}"
            )


def test_corpus_3164_native(spark):
    _assert_equal(spark, [c[1] for c in RFC3164_CASES], "rfc3164")


def test_corpus_5424_native(spark):
    _assert_equal(spark, RFC5424_VALID + RFC5424_INVALID, "rfc5424")


def test_generated_auto_native(spark):
    df = generate_transcripts(8000, seed=77)
    _assert_equal(spark, df.text.tolist(), "auto")


@pytest.mark.parametrize("seed", [0, 1])
def test_mutations_native(spark, seed):
    rng = random.Random(seed)
    base = [c[1] for c in RFC3164_CASES if c[2]] + RFC5424_VALID
    charset = "<>[]:\"\\ -.0123456789aZ\né"
    muts = []
    for _ in range(300):
        line = rng.choice(base)
        i = rng.randrange(len(line))
        muts.append(line[:i] + rng.choice(charset) + line[i + 1:])
    _assert_equal(spark, muts, "auto")


def test_newline_terminated_frames_native(spark):
    """Octet framing counts a terminating \\n into the frame, so every
    message read from an octet file ends with one.  The native pattern
    captures that newline into the body (like the 3164 pattern always
    has) — these rows must parse natively AND byte-identically to the
    exact Python engine across every framing-outcome class."""
    from go_parsesyslog_spark.operators.native_fast import native_5424_mask

    hdr = "<165>1 2024-01-02T03:04:05Z host app proc mid [ex@1 k=\"v\"] "
    body = "hello world #42\n"
    content = hdr + body
    exact = f"{len(content)} {content}"
    lines = [
        exact,                                    # exact frame incl. \n
        f"{len(content) + 1} {content}",          # short read → premature_eof
        f"{len(content) - 4} {content}",          # truncated body
        f"{len(hdr) + 2} {hdr}x\n",               # body < 3 → early accept
        f"{len(hdr) + 1} {hdr}\n",                # bare \n body → early
        f"{len(content)} {hdr}hello\nworld\n",    # interior \n → Python path
        exact.rstrip("\n"),                       # no newline: unchanged
    ]
    _assert_equal(spark, lines, "rfc5424")
    # the canonical single-trailing-newline rows must take the JVM path
    df = spark.createDataFrame([(ln,) for ln in lines[:5]], "text string")
    n_native = df.select(
        native_5424_mask(F.col("text")).alias("ok")
    ).filter("ok").count()
    assert n_native == 5, n_native


def test_native_filter_explode_after_parse(spark):
    """Regression (round-1 crash): Catalyst pushes predicates derived
    from parsed columns (e.g. the implicit filter of explode) below the
    fast-path mask filter, evaluating field expressions on rows the mask
    excludes.  All field exprs must be TOTAL (try_element_at/try_cast)
    so this can never raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT."""
    lines = RFC5424_VALID + RFC5424_INVALID + [c[1] for c in RFC3164_CASES]
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "i int, text string"
    )
    r = parse_logs(df, fmt="auto", ref_now=DEFAULT_REF_NOW, engine="native")
    # filter on a parsed column, then explode the nested SD — both get
    # pushed/collapsed through the fast-path projections
    exploded = (
        r.filter(F.col("i") >= 0)
        .filter(F.col("err_code").isNull())
        .select("i", F.explode("structured_data").alias("sd"))
        .select("i", "sd.sd_id", F.explode("sd.params").alias("p"))
    )
    rows = exploded.collect()
    assert len(rows) > 0
    # and a direct predicate over a deep parsed field
    n = r.filter(F.col("msg_length") > 0).count()
    assert n > 0


def test_native_covers_most_canonical_traffic(spark):
    """The point of the native path: canonical rows must NOT fall through
    to Python."""
    from go_parsesyslog_spark.operators.native_fast import (
        native_3164_mask,
        native_5424_mask,
    )

    df = generate_transcripts(5000, seed=5, corpus_frac=0.0)
    sdf = spark.createDataFrame(df[["text"]], "text string")
    framed = F.col("text").rlike(r"^[0-9]+ ")
    covered = sdf.select(
        F.when(framed, native_5424_mask(F.col("text")))
        .otherwise(native_3164_mask(F.col("text")))
        .alias("ok")
    )
    frac = covered.filter("ok").count() / 5000
    assert frac > 0.95, frac


def test_native_parse_single_scan(spark, tmp_path):
    """VERDICT r2 #4: the native engine must scan its input ONCE.  The
    parse is one narrow stage: one scan, no exchange, one Arrow Python
    node fed only the non-canonical rows, and each format's group regex
    evaluated once (not re-inlined per output column)."""
    import re

    df = generate_transcripts(2000, seed=9, corpus_frac=0.1)
    path = str(tmp_path / "in")
    spark.createDataFrame(df[["text"]], "text string").write.parquet(path)
    parsed = parse_logs(spark.read.parquet(path), fmt="auto", engine="native")
    parsed.collect()  # materialize THIS plan so AQE (if any) finalizes it
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    if "AdaptiveSparkPlan" in final:
        assert "isFinalPlan=true" in final, final
    assert len(re.findall(r"\b\w*Scan\b", final)) == 1, final
    assert final.count("Exchange") == 0, final
    assert final.count("ArrowEvalPython") == 1, final
    assert final.count("RLIKE") <= 3, final.count("RLIKE")
    assert final.count("regexp_replace") <= 2, final.count("regexp_replace")



CANONICAL_3164 = "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed\n"
CANONICAL_5424 = (
    "<165>1 2024-01-02T03:04:05Z host app proc mid [ex@1 k=\"v\"] hello\n"
)


@pytest.mark.parametrize("fmt", ["auto", "rfc3164", "rfc5424"])
def test_native_degenerate_input_matches_exact(spark, fmt):
    """NULL, empty and garbage text take the exact parser inside the
    native engine's single projection and get its err_code; the
    canonical lines beside them take the JVM path.  Row for row the
    native engine equals the all-Python engine, for every format."""
    from go_parsesyslog_spark.operators.native_fast import (
        native_3164_mask,
        native_5424_mask,
    )

    frame = f"{len(CANONICAL_5424)} {CANONICAL_5424}"
    lines = [None, "", "garbage", CANONICAL_3164, frame]
    _assert_equal(spark, lines, fmt)
    canon = spark.createDataFrame([(CANONICAL_3164, frame)], "a string, b string")
    row = canon.select(native_3164_mask(F.col("a")).alias("a"),
                       native_5424_mask(F.col("b")).alias("b")).first()
    assert row["a"] and row["b"]


def test_arrow_engine_runs_no_native_parse(spark):
    """The Arrow engine is the native projection with no native rows:
    one Arrow Python node and no group regex left in the plan."""
    df = spark.createDataFrame(
        [(CANONICAL_3164,), ("garbage",)], "text string"
    )
    parsed = parse_logs(df, fmt="auto", engine="arrow")
    parsed.collect()
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "regexp_replace" not in plan, plan

