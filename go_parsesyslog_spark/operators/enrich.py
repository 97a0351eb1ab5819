"""Enrichment operator: dimension lookups + name derivations.

The north-star pipeline mandates two lookups on the parsed stream —
role→facility map and tool→app-name registry (FIXTURES.md §4) — plus
the facility/severity name columns from the reference's tables
(reference ``priority.go:81-158``).

Scale notes: both dims are O(10) rows, so each lookup is a
``try_element_at`` over a literal map, the same constant-folded
in-memory table the name columns use.  No join, no broadcast job: the
whole enrich stage is one narrow projection fused into the parse stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from go_parsesyslog_spark.functions.priority import (
    facility_name,
    severity_class,
    severity_name,
)

# role → facility override + operational class (FIXTURES.md §4, 4 rows)
ROLE_FACILITY_MAP = [
    ("system", 0, "infra"),        # KERN
    ("user", 1, "interactive"),    # USER
    ("assistant", 16, "model"),    # LOCAL0
    ("tool", 3, "tooling"),        # DAEMON
]

# tool → app registry (FIXTURES.md §4, 8 rows)
TOOL_APP_REGISTRY = [
    ("bash", "gnu-bash", "shell"),
    ("search", "websearch", "io"),
    ("browser", "headless-chromium", "io"),
    ("editor", "texted", "shell"),
    ("none", "n/a", "none"),
    ("python", "cpython", "shell"),
    ("fetch", "httpfetch", "io"),
    ("db", "sqlclient", "io"),
]


def _lookup(rows: list[tuple], key: str, pos: int) -> Column:
    """``key`` → column ``pos`` of ``rows`` as a literal-map lookup:
    constant-folded, zero join; an unknown or NULL key yields NULL."""
    m = F.create_map(*[F.lit(x) for r in rows for x in (r[0], r[pos])])
    return F.try_element_at(m, F.col(key))


def enrich(df: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Attach the name columns and the two lookup dims.

    Input: output of ``parse_logs`` (must carry role/tool/severity/
    facility columns).  Output adds: facility_name, severity_name,
    severity_class, role_facility, role_class, app_name, app_tier.
    Column order is the left-join order callers rely on: ``tool`` and
    ``role`` lead, the lookups trail.  ``spark`` is unused (kept for
    callers that pass it).
    """
    cols = {
        "facility_name": facility_name(F.col("facility")),
        "severity_name": severity_name(F.col("severity")),
        "severity_class": severity_class(F.col("severity")),
    }
    if "role" in df.columns:
        cols["role_facility"] = _lookup(ROLE_FACILITY_MAP, "role", 1)
        cols["role_class"] = _lookup(ROLE_FACILITY_MAP, "role", 2)
    if "tool" in df.columns:
        cols["app_name"] = _lookup(TOOL_APP_REGISTRY, "tool", 1)
        cols["app_tier"] = _lookup(TOOL_APP_REGISTRY, "tool", 2)
    lead = [c for c in ("tool", "role") if c in df.columns]
    out = df.withColumns(cols)
    return out.select(*lead, *[c for c in out.columns if c not in lead])
