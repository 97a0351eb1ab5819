"""Grok template compiler + parser (operators/grok.py).  Driver-gate
parity lives in __spark_entry__ (grok_extract, regex-free oracle);
these tests pin the compiler grammar, the Arrow extraction, and the
zero-exchange plan shape."""

import pytest
import pyspark.sql.functions as F

from go_parsesyslog_spark.operators.grok import (
    BUILTIN_PATTERNS,
    grok_compile,
    grok_parse,
)

TEMPLATE = (
    r"<%{INT:pri:int}>%{HOSTNAME:host} %{WORD:app}\[%{INT:pid:int}\]: "
    r"action=%{WORD:action} latency=%{INT:latency_ms:int}ms"
)

LINES = [
    (1, "<34>host-01 app7[123]: action=click latency=250ms"),
    (2, "<0>h x[0]: action=a latency=0ms"),
    (3, "prefix junk <99>h-o.st app[1]: action=w latency=9ms trailing"),
    (4, "no match at all"),
    (5, ""),
    (6, None),
]


def _df(spark):
    return spark.createDataFrame(LINES, "id long, text string")


# ---------------------------------------------------------------- compile


def test_compile_fields_and_types():
    rx, fields = grok_compile("%{INT:a:int} %{WORD:b} %{NUMBER:c:float}")
    assert fields == [("a", "long"), ("b", None), ("c", "double")]
    assert rx.count("(") - rx.count("(?:") == 3  # only field captures


def test_compile_unfielded_token_not_captured():
    rx, fields = grok_compile("%{INT} %{WORD:w}")
    assert fields == [("w", None)]
    import re

    m = re.search(rx, "42 hello")
    assert m.groups() == ("hello",)


def test_compile_recursive_library():
    rx, fields = grok_compile(
        "%{KV:kv}", extra_patterns={"KV": r"%{WORD}=%{INT}"}
    )
    import re

    assert re.fullmatch(rx, "a=1")
    assert fields == [("kv", None)]


def test_compile_rejects_unknown_and_dupes():
    with pytest.raises(ValueError, match="unknown grok pattern"):
        grok_compile("%{NOPE:x}")
    with pytest.raises(ValueError, match="duplicate grok field"):
        grok_compile("%{INT:x} %{INT:x}")
    with pytest.raises(ValueError, match="captures no fields"):
        grok_compile("%{INT} literal")
    with pytest.raises(ValueError, match="unknown grok cast type"):
        grok_compile("%{INT:x:decimal}")


def test_compile_recursion_bound():
    with pytest.raises(ValueError, match="recursion too deep"):
        grok_compile("%{A:a}", extra_patterns={"A": "%{A}"})


def test_literal_parens_cannot_shift_groups():
    """A bare '(' in raw template text is rewritten non-capturing so
    user alternations never displace field group indices."""
    rx, fields = grok_compile(r"(ok|err) code=%{INT:code:int}")
    import re

    m = re.search(rx, "ok code=7")
    assert m.group(1) == "7"


def test_builtins_have_no_capture_groups():
    import re

    for name, body in BUILTIN_PATTERNS.items():
        n = re.compile(f"(?:{body})").groups
        assert n == 0, f"%{{{name}}} has a capturing group"


# ---------------------------------------------------------------- parse


def test_parse_typed_fields_and_dlq(spark):
    out = {
        r["id"]: (r["pri"], r["host"], r["pid"], r["action"],
                  r["latency_ms"], r["_grok_matched"])
        for r in grok_parse(_df(spark), "text", TEMPLATE).collect()
    }
    assert out[1] == (34, "host-01", 123, "click", 250, True)
    assert out[2] == (0, "h", 0, "a", 0, True)
    # search semantics: match anywhere in the line
    assert out[3] == (99, "h-o.st", 1, "w", 9, True)
    # garbage / empty / NULL text: all-NULL fields, matched=false,
    # never a throw
    for i in (4, 5, 6):
        assert out[i] == (None, None, None, None, None, False)


def test_loglevel_and_iso8601_tokens(spark):
    df = spark.createDataFrame(
        [(1, "2025-10-21T15:30:00Z WARN retrying"),
         (2, "2025-10-21 15:30:00.123+02:00 ERROR boom")],
        "id long, text string",
    )
    t = "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:msg}"
    out = {r["id"]: (r["ts"], r["level"], r["msg"])
           for r in grok_parse(df, "text", t).collect()}
    assert out[1] == ("2025-10-21T15:30:00Z", "WARN", "retrying")
    assert out[2] == ("2025-10-21 15:30:00.123+02:00", "ERROR", "boom")


def test_parse_plan_has_no_exchange(spark):
    plan = (
        grok_parse(_df(spark), "text", TEMPLATE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


# ------------------------------------------------------- property tests
# (driver-side only — pure-Python re round-trips, no Spark session, so
# hypothesis can run hundreds of examples cheaply)

from hypothesis import given, settings
from hypothesis import strategies as st

_lit = st.text(alphabet="abcdefgh :=/", min_size=1, max_size=8)
_ints = st.integers(min_value=-10**9, max_value=10**9)
_words = st.text(alphabet="abcdefghijklmnop_0123456789", min_size=1,
                 max_size=12)


@settings(max_examples=200, deadline=None)
@given(
    lits=st.lists(_lit, min_size=3, max_size=5),
    i=_ints,
    w=_words,
)
def test_grok_template_roundtrip_property(lits, i, w):
    """For any literal scaffolding (regex-safe alphabet) around an INT
    and a WORD field, compiling the template and searching the line
    rebuilt from concrete values recovers exactly those values."""
    import re

    template = (lits[0] + "%{INT:n:int}" + lits[1] + "%{WORD:w}"
                + lits[2])
    line = lits[0] + str(i) + lits[1] + w + lits[2]
    rx, fields = grok_compile(template)
    assert [f for f, _ in fields] == ["n", "w"]
    m = re.search(rx, line)
    assert m is not None
    assert int(m.group(1)) == i
    # WORD is greedy over \w: it must recover at least a prefix and,
    # when the following literal starts with a non-word char, all of w
    assert m.group(2) == w or w.startswith(m.group(2))
    if not (lits[2][0].isalnum() or lits[2][0] == "_"):
        assert m.group(2) == w


@settings(max_examples=100, deadline=None)
@given(i=_ints, j=_ints)
def test_grok_two_int_fields_property(i, j):
    import re

    rx, _ = grok_compile("a=%{INT:a:int} b=%{INT:b:int}")
    m = re.search(rx, f"a={i} b={j}")
    assert (int(m.group(1)), int(m.group(2))) == (i, j)


def test_escaped_and_class_parens_survive():
    """Escaped \\( and character-class [(] are literal parens — the
    capture-neutralizer must leave them intact."""
    import re

    rx, _ = grok_compile(r"\(%{INT:n:int}\)")
    assert re.search(rx, "(42)").group(1) == "42"
    rx2, _ = grok_compile(r"[(]%{INT:n:int}[)]")
    assert re.search(rx2, "(7)").group(1) == "7"
    assert re.search(rx2, "?7") is None


def test_smuggled_capture_groups_fail_loudly():
    with pytest.raises(ValueError, match="capture groups"):
        grok_compile("%{HP:hp}", extra_patterns={"HP": r"(\d+)-ok"})
    with pytest.raises(ValueError, match="capture groups"):
        grok_compile(r"(?P<x>a|b)%{INT:n}")


@pytest.mark.parametrize("template,line", [
    (r"a%{INT:n:int}?", "ab"),        # optional field group
    (r"%{INT:n:int}|b", "b"),         # field on one alternation arm
])
def test_nonparticipating_group_matches(spark, template, line):
    """A row can match while a field group doesn't participate: it
    reports matched=true with a NULL typed field."""
    df = spark.createDataFrame([(1, line)], "id long, text string")
    r = grok_parse(df, "text", template).collect()[0]
    assert (r["n"], r["_grok_matched"]) == (None, True)
