"""Parser registry: a third-party batch parser registered under a new
type name is reachable through ``parse_logs`` on both engines."""

import pytest

from go_parsesyslog_spark.errors import ParserTypeUnknown
from go_parsesyslog_spark.operators import registry
from go_parsesyslog_spark.operators.parse import parse_logs
from go_parsesyslog_spark.operators.parse_rfc3164 import parse_rfc3164_batch

# the registry is process-global and the first registration wins, so
# the name is unique to this module
CUSTOM = "test_registry_custom"


def test_registered_parser_runs_on_both_engines(spark):
    registry.register(CUSTOM, lambda texts: parse_rfc3164_batch(texts))
    df = spark.createDataFrame(
        [(1, "<34>Oct 20 12:34:56 myhost app[123]: hi"), (2, "garbage"),
         (3, None)],
        "i int, text string",
    )
    native = parse_logs(df, fmt=CUSTOM).orderBy("i").collect()
    arrow = parse_logs(df, fmt=CUSTOM, engine="arrow").orderBy("i").collect()
    assert native == arrow
    assert native[0]["format"] == CUSTOM.upper()
    assert (native[0]["host"], native[0]["message"]) == ("myhost", "hi")


@pytest.mark.parametrize("engine", ["native", "arrow"])
def test_unregistered_type_raises_at_call_time(spark, engine):
    df = spark.createDataFrame([(1, "x")], "i int, text string")
    with pytest.raises(ParserTypeUnknown):
        parse_logs(df, fmt="test_registry_never_registered", engine=engine)
