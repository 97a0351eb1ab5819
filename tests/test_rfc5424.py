"""RFC5424 conformance: corpus classification + golden field values
(rfc5424_test.go:20-50, :155-222)."""

import pandas as pd
import pytest

from go_parsesyslog_spark.operators.parse_rfc5424 import parse_rfc5424_batch
from tests.corpus import RFC5424_INVALID, RFC5424_VALID


def _parse_one(line):
    return parse_rfc5424_batch(pd.Series([line])).iloc[0]


@pytest.mark.parametrize("i", range(len(RFC5424_VALID)))
def test_valid_corpus(i):
    row = _parse_one(RFC5424_VALID[i])
    assert row.err_code is None, f"valid[{i}] → {row.err_code}"


@pytest.mark.parametrize("i", range(len(RFC5424_INVALID)))
def test_invalid_corpus(i):
    row = _parse_one(RFC5424_INVALID[i])
    assert row.err_code is not None, f"invalid[{i}] parsed clean"


def test_golden_valid0():
    """rfc5424_test.go:155-222 — full-field golden assertions."""
    row = _parse_one(RFC5424_VALID[0])
    assert row.err_code is None
    assert row.app == "app"
    assert row.host == "mymachine"
    assert row.pid == "12345"
    assert row.msgid == "ID47"
    assert row.message == "An application event log entry"
    assert row.msg_length == len("An application event log entry")
    assert row.priority == 34 and row.facility == 4 and row.severity == 2
    assert row.proto_version == 1
    sd = row.structured_data
    assert len(sd) == 1
    assert sd[0]["sd_id"] == "exampleSDID@32473"
    params = {p["key"]: p["val"] for p in sd[0]["params"]}
    assert params == {"iut": "3", "eventSource": "Application", "eventID": "1011"}


def test_bom_detected_and_kept():
    """rfc5424.go:348-357: BOM sets HasBOM but stays in the message."""
    row = _parse_one(RFC5424_VALID[1])
    assert row.err_code is None
    assert row.has_bom is True or row.has_bom == True  # noqa: E712
    assert row.message.startswith("﻿")
    assert row.msg_length == 3 + len("BOM-prefixed message")


def test_multi_sd_elements():
    row = _parse_one(RFC5424_VALID[2])
    sd = row.structured_data
    assert [e["sd_id"] for e in sd] == ["meta@123", "example@9999"]
    assert sd[1]["params"] == [
        {"key": "a", "val": "b"},
        {"key": "c", "val": "d"},
    ]


def test_escapes_kept_verbatim():
    """SD param values keep escape sequences raw (rfc5424.go:289)."""
    row = _parse_one(RFC5424_VALID[4])
    val = row.structured_data[0]["params"][0]["val"]
    assert val == 'quote: \\" backslash: \\\\ bracket: \\"]'


def test_all_nilvalue_header():
    row = _parse_one(RFC5424_VALID[3])
    assert row.err_code is None
    for f in ("msg_ts", "host", "app", "pid", "msgid"):
        v = getattr(row, f)
        assert v is None or pd.isna(v), f
    assert row.message == "hello"


def test_early_accept_short_body():
    """rfc5424.go:89-91 quirk: < 3 bytes after SD → BOM Peek fails →
    accepted with an EMPTY message (valid[5], valid[7])."""
    for i in (5, 7):
        row = _parse_one(RFC5424_VALID[i])
        assert row.err_code is None, i
        assert row.message == "", i
        assert row.msg_length == 0, i


def test_tz_offset_normalized_to_utc():
    row = _parse_one(RFC5424_VALID[6])
    assert row.msg_ts == pd.Timestamp("2022-06-01 10:00:00")


def test_fractional_seconds():
    row = _parse_one(RFC5424_VALID[2])
    assert row.msg_ts == pd.Timestamp("2003-08-24 12:14:15.000003")


def test_err_codes_first_failing_stage():
    """Error code = first failing stage in reference order."""
    expect = {
        0: "invalid_number",          # XX frame token
        2: "invalid_prio",            # '34>' missing '<'
        5: "invalid_proto_version",   # '<34> ' empty version token
        6: "invalid_proto_version",   # version 0
        7: "invalid_timestamp",       # month 13
        9: "wrong_sd_format",         # 'm-' glued NILVALUE
        15: "premature_eof",          # frame length high by one
        16: "wrong_sd_format",        # '-.' after NILVALUE
        17: "premature_eof",          # frame length high by one
    }
    for i, code in expect.items():
        row = _parse_one(RFC5424_INVALID[i])
        assert row.err_code == code, f"invalid[{i}]: {row.err_code} != {code}"


def test_truncated_but_stage_invalid_lines():
    """First-failing-stage on TRUNCATED input: each header stage is
    validated as soon as its own token is space-terminated, so a line
    that ends right after an invalid token returns that stage's error;
    premature_eof is reserved for the failing stage's token itself
    hitting EOF before its space (rfc5424.go:124-148, readUntil
    :503-532)."""
    cases = [
        ("7 <34>2 ", "invalid_proto_version"),   # version 2, terminated
        ("7 <34>2", "premature_eof"),            # version token at EOF
        ("30 <34>1 BADTS ", "invalid_timestamp"),  # ts terminated
        ("30 <34>1 BADTS", "premature_eof"),     # ts token at EOF
        ("9 <999>1 ", "invalid_prio"),           # PRI fails before version
        ("5 <34>", "premature_eof"),             # version token empty at EOF
        ("3 <3x> ", "invalid_number"),           # PRI not digits
    ]
    for text, code in cases:
        row = _parse_one(text)
        assert row.err_code == code, f"{text!r}: {row.err_code} != {code}"


def test_proto_version_stage_scoped():
    """ADVICE r2: a row that passes the version stage but fails a LATER
    stage keeps proto_version=1 (first-failing-stage sets the fields of
    every stage that succeeded); rows failing AT or BEFORE the version
    stage get NULL."""
    ts_fail = _parse_one("30 <34>1 BADTS ")
    assert ts_fail.err_code == "invalid_timestamp"
    assert ts_fail.proto_version == 1
    ver_fail = _parse_one("7 <34>2 ")
    assert ver_fail.err_code == "invalid_proto_version"
    assert ver_fail.proto_version is None or pd.isna(ver_fail.proto_version)
    pri_fail = _parse_one("9 <999>1 ")
    assert pri_fail.err_code == "invalid_prio"
    assert pri_fail.proto_version is None or pd.isna(pri_fail.proto_version)


def test_sd_section_at_eof_is_premature():
    """A bracketed SD ending exactly at EOF → post-FSM ReadByte EOF
    (rfc5424.go:341-343)."""
    row = _parse_one('45 <34>1 2025-10-21T15:30:00Z h a p m [id k="v"]')
    assert row.err_code == "premature_eof"


def test_spark_parse_rfc5424_and_sd_explode(spark):
    """End-to-end through Spark incl. nested SD type + explode."""
    from pyspark.sql import functions as F

    from go_parsesyslog_spark.operators.parse import parse_logs

    rows = [(i, t) for i, t in enumerate(RFC5424_VALID + RFC5424_INVALID)]
    df = spark.createDataFrame(rows, "i int, text string")
    out = parse_logs(df, fmt="rfc5424")
    got = {r["i"]: r for r in out.collect()}
    for i in range(len(RFC5424_VALID)):
        assert got[i]["err_code"] is None, i
    for j in range(len(RFC5424_INVALID)):
        assert got[len(RFC5424_VALID) + j]["err_code"] is not None, j
    sd_params = (
        out.filter(F.col("i") == 0)
        .select(F.explode("structured_data").alias("sd"))
        .select("sd.sd_id", F.explode("sd.params").alias("p"))
        .select("sd_id", "p.key", "p.val")
        .collect()
    )
    assert {(r["key"], r["val"]) for r in sd_params} == {
        ("iut", "3"), ("eventSource", "Application"), ("eventID", "1011")
    }


def test_spark_auto_dispatch(spark):
    """Mixed-format table parsed in one pass with per-row detection."""
    from go_parsesyslog_spark.operators.parse import parse_logs

    rows = [
        (0, "<34>Oct 20 12:34:56 myhost app[123]: hello world"),
        (1, RFC5424_VALID[0]),
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    got = {r["i"]: r for r in parse_logs(df, fmt="auto").collect()}
    assert got[0]["format"] == "RFC3164" and got[0]["err_code"] is None
    assert got[1]["format"] == "RFC5424" and got[1]["err_code"] is None
    assert got[1]["msgid"] == "ID47"


def test_sd_flat_map_view(spark):
    from go_parsesyslog_spark.operators.parse import parse_logs, sd_flat

    df = spark.createDataFrame([(RFC5424_VALID[2],)], "text string")
    out = parse_logs(df, fmt="rfc5424").select(sd_flat().alias("m")).collect()
    m = out[0]["m"]
    assert m["meta@123/foo"] == "bar"
    assert m["example@9999/a"] == "b"
    assert m["example@9999/c"] == "d"


def test_dispatch_batch_keeps_object_dtype():
    """Regression: a batch where a format's rows all die at an early
    stage leaves all-None object columns, and concatenating the two
    formats' frames lets pandas collapse such a column to float64 —
    every None becomes a float NaN, which the Arrow serializer then
    tries to iterate as a list and crashes the job.  After the UDF
    boundary scrub, all object-expected columns stay object-dtyped with
    only None/list/str cells, for every mixture of formats and
    outcomes."""
    from go_parsesyslog_spark.operators.parse import _dispatch_batch

    batches = [
        # every row invalid (frames that die at early stages)
        ["38 <>1 2025-10-21T15:30:00Z h a p m - bad"],
        ["40 <34>1 2025-13-01T00:00:00Z h a p m - bad"],
        # invalid + valid 5424
        ["38 <>1 2025-10-21T15:30:00Z h a p m - bad",
         "47 <34>1 2024-01-02T03:04:05Z h a p m - hello frame x"],
        # invalid 5424 + valid 3164 (exercises the dispatch concat)
        ["40 <34>1 2025-13-01T00:00:00Z h a p m - bad",
         "<34>Oct 11 22:14:15 h a: x"],
    ]
    for lines in batches:
        out = _dispatch_batch(pd.Series(lines), None)
        for col in ("structured_data", "message", "host", "app", "pid",
                    "msgid", "err_code"):
            assert out[col].dtype == object, (col, lines)
            for v in out[col]:
                assert v is None or isinstance(v, (list, str)), (
                    col, v, lines
                )


def test_cli_demo():
    """A20 parity: the stdin demo parses and pretty-prints (cmd/
    stdin-parser/main.go:19-65)."""
    import io
    import sys as _sys

    from go_parsesyslog_spark import cli

    old = _sys.stdin
    _sys.stdin = io.StringIO(
        "<34>Oct 11 22:14:15 mymachine su: hi\n"
    )
    try:
        rc = cli.main([])
    finally:
        _sys.stdin = old
    assert rc == 0
