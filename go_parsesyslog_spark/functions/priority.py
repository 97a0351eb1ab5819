"""PRI arithmetic and facility/severity name tables.

Reference: ``/root/reference/priority.go``.

* ``facility = priority >> 3``   (priority.go:60-62)
* ``severity = priority & 0x07`` (priority.go:65-67, mask const :8)
* 24 facility names (priority.go:81-134, default ``UNKNOWN`` :131-133)
* 8 severity names (priority.go:137-158, default ``UNKNOWN`` :156)

All derivations here are native Catalyst expressions (whole-stage
codegen'd, no Python on the hot path).  The name lookup uses
``F.element_at`` on a literal array — a constant-folded in-memory table,
cheaper than even a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# priority.go:81-134 — canonical facility names, index = facility code.
FACILITY_NAMES = [
    "KERN", "USER", "MAIL", "DAEMON", "AUTH", "SYSLOG", "LPR", "NEWS",
    "UUCP", "CRON", "AUTHPRIV", "FTP", "NTP", "SECURITY", "CONSOLE",
    "SOLARISCRON", "LOCAL0", "LOCAL1", "LOCAL2", "LOCAL3", "LOCAL4",
    "LOCAL5", "LOCAL6", "LOCAL7",
]

# priority.go:137-158 — canonical severity names, index = severity code.
SEVERITY_NAMES = [
    "EMERGENCY", "ALERT", "CRIT", "ERROR", "WARNING", "NOTICE", "INFO",
    "DEBUG",
]

UNKNOWN = "UNKNOWN"  # priority.go:131-133, :156

# Severity → routing class for the fan-out sinks (FIXTURES.md §5):
# sev 0-2 → emergency, 3 → error, 4-5 → warn, 6-7 → info.
SEVERITY_CLASSES = ["emergency", "emergency", "emergency", "error",
                    "warn", "warn", "info", "info"]


def facility_name(facility: Column) -> Column:
    """Facility code → canonical name, ``UNKNOWN`` outside 0..23.

    priority.go:81-134.  element_at is 1-indexed; out-of-range yields
    NULL which we coalesce to UNKNOWN (matching the Go default arm).
    """
    arr = F.array(*[F.lit(x) for x in FACILITY_NAMES])
    idx = F.when((facility >= 0) & (facility <= 23), facility + 1)
    return F.coalesce(F.element_at(arr, idx), F.lit(UNKNOWN))


def severity_name(severity: Column) -> Column:
    """Severity code → canonical name, ``UNKNOWN`` outside 0..7.

    priority.go:137-158.
    """
    arr = F.array(*[F.lit(x) for x in SEVERITY_NAMES])
    idx = F.when((severity >= 0) & (severity <= 7), severity + 1)
    return F.coalesce(F.element_at(arr, idx), F.lit(UNKNOWN))


def severity_class(severity: Column) -> Column:
    """Severity code → routing class (emergency/error/warn/info)."""
    arr = F.array(*[F.lit(x) for x in SEVERITY_CLASSES])
    idx = F.when((severity >= 0) & (severity <= 7), severity + 1)
    return F.element_at(arr, idx)
