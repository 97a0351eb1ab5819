"""Grok-style pattern compiler: ``%{NAME:field:type}`` templates →
typed columns, the generic escape hatch next to the exact RFC3164/5424
parsers (parse_rfc3164.py / parse_rfc5424.py cover the reference's
wire formats; grok covers everything else a log pipeline meets —
app-specific lines, k=v payloads, access logs).

The template compiles ONCE on the driver to a single plain-parens
regex (no named groups, so the same string runs on java.util.regex,
Python ``re``, and DuckDB RE2 alike), then executes as one vectorized
pandas/Arrow batch UDF holding ONE compiled ``re`` object;
``Series.str.extract`` pulls every group in a single pass — the
north-star "compiled grok/regex patterns in batched numpy/pyarrow
operations" form.  Non-matching rows keep all-NULL fields plus
``_grok_matched=false`` (never throw — the DLQ discipline of
errors.py), and the plan keeps the scan → project shape: no exchange,
linear at any corpus size.

Built-in pattern names are original regexes for public, well-known
token classes (integers, IPs, ISO-8601 stamps...); the registry is
user-extensible via the ``extra_patterns`` argument, mirroring the
reference's parser-registry extensibility (registry.py ← parsesyslog
Register/New).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Built-in token classes.  Every group below is non-capturing — field
# capture groups are added by the compiler, so capture group i+1 is
# always field i.
BUILTIN_PATTERNS: dict[str, str] = {
    "INT": r"[+-]?\d+",
    "NONNEGINT": r"\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "HOSTNAME": r"[A-Za-z0-9][A-Za-z0-9._-]*",
    "LOGLEVEL": (
        r"(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERR(?:OR)?"
        r"|CRIT(?:ICAL)?|FATAL|ALERT|EMERG(?:ENCY)?)"
    ),
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(?:\.\d+)?"
        r"(?:Z|[+-]\d{2}:?\d{2})?"
    ),
    # RFC3164 15-byte stamp, e.g. "Oct 11 22:14:15" (parse_rfc3164.py
    # does the exact year-inference version; this is the token class)
    "SYSLOGTIMESTAMP": r"[A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"',
    "PATH": r"(?:/[\w.-]+)+/?",
}

_TOKEN_RE = re.compile(r"%\{(\w+)(?::(\w+))?(?::(\w+))?\}")
_CAST = {"int": "long", "long": "long", "float": "double",
         "double": "double", "string": None, None: None}
_MAX_DEPTH = 16


def _expand(name: str, patterns: dict[str, str], depth: int) -> str:
    if depth > _MAX_DEPTH:
        raise ValueError(f"grok pattern recursion too deep at %{{{name}}}")
    if name not in patterns:
        raise ValueError(f"unknown grok pattern %{{{name}}}")
    body = patterns[name]
    # sub-references inside a library pattern expand non-capturing
    return _TOKEN_RE.sub(
        lambda m: "(?:" + _expand(m.group(1), patterns, depth + 1) + ")",
        body,
    )


def _neutralize_parens(literal: str) -> str:
    """Rewrite bare capturing ``(`` in raw literal text to ``(?:`` so
    user alternations can't shift the field group indices — but leave
    escaped parens (``\\(``) and parens inside character classes
    (``[(]``) untouched: both are literal characters, and blindly
    rewriting them corrupts the regex (``\\(?:`` = optional paren then
    a literal colon)."""
    out = []
    in_class = False
    escaped = False
    n = len(literal)
    for i, ch in enumerate(literal):
        if escaped:
            out.append(ch)
            escaped = False
            continue
        if ch == "\\":
            out.append(ch)
            escaped = True
            continue
        if in_class:
            out.append(ch)
            if ch == "]":
                in_class = False
            continue
        if ch == "[":
            out.append(ch)
            in_class = True
            continue
        if ch == "(" and not (i + 1 < n and literal[i + 1] == "?"):
            out.append("(?:")
            continue
        out.append(ch)
    return "".join(out)


def grok_compile(
    template: str,
    extra_patterns: dict[str, str] | None = None,
) -> tuple[str, list[tuple[str, str | None]]]:
    """Compile a grok template to ``(regex, [(field, cast_type)...])``.
    The regex uses only plain/non-capturing groups (portable across
    java.util.regex / Python re / RE2); field i is capture group i+1.
    Literal text between tokens is raw regex EXCEPT that bare ``(`` is
    rewritten to ``(?:`` (escaped / character-class parens preserved)
    so user alternations can't shift the field group indices; the
    compiled group count is validated against the field count, so a
    capturing group smuggled in via ``extra_patterns`` or a ``(?P<``
    literal fails loudly at compile time instead of silently
    misaligning extracted data."""
    patterns = dict(BUILTIN_PATTERNS)
    if extra_patterns:
        patterns.update(extra_patterns)

    fields: list[tuple[str, str | None]] = []
    out: list[str] = []
    pos = 0
    for m in _TOKEN_RE.finditer(template):
        out.append(_neutralize_parens(template[pos:m.start()]))
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if typ is not None and typ not in _CAST:
            raise ValueError(f"unknown grok cast type :{typ}")
        body = _expand(name, patterns, 0)
        if field:
            fields.append((field, _CAST[typ]))
            out.append(f"({body})")
        else:
            out.append(f"(?:{body})")
        pos = m.end()
    out.append(_neutralize_parens(template[pos:]))
    regex = "".join(out)
    if not fields:
        raise ValueError("grok template captures no fields")
    seen = set()
    for f, _ in fields:
        if f in seen:
            raise ValueError(f"duplicate grok field {f!r}")
        seen.add(f)
    compiled = re.compile(regex)  # fail fast on driver, not per-executor
    if compiled.groups != len(fields):
        raise ValueError(
            f"template compiles to {compiled.groups} capture groups for "
            f"{len(fields)} fields - a library pattern or literal "
            "introduces its own capturing group; use (?:...) instead"
        )
    return regex, fields


def grok_parse(
    df: DataFrame,
    text_col: str,
    template: str,
    extra_patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Append one typed column per grok field plus ``_grok_matched``.
    Non-matching rows keep all fields NULL (DLQ-friendly, never
    throws).  One compiled re per UDF (pickled into the closure — NOT
    recompiled per batch, which would lean on the re module's evictable
    512-entry cache), one extraction pass per Arrow batch."""
    import warnings

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    regex, fields = grok_compile(template, extra_patterns)
    names = [f for f, _ in fields]
    schema = ", ".join(f"`{n}` string" for n in names) + ", `_m` boolean"
    rx = re.compile(regex)

    def _extract(s):
        groups = s.str.extract(rx, expand=True)
        groups.columns = names
        # matched must come from a search, not from group participation:
        # a template whose literal text makes a field optional or
        # alternated ("a%{INT:n}?" / "a%{INT:n}|b") can match with every
        # group NaN
        with warnings.catch_warnings():
            # pandas warns that the pattern has groups; intentional here
            warnings.simplefilter("ignore", UserWarning)
            m = s.str.contains(rx, regex=True).fillna(False).astype(bool)
        # a matched row whose uncast string group didn't participate
        # yields "" (not NULL), like SQL regexp_extract
        groups.loc[m] = groups.loc[m].fillna("")
        groups["_m"] = m
        return groups

    # real type objects, not strings: `from __future__ import
    # annotations` would stringify inline hints and break pyspark's
    # pandas-UDF eval-type inference
    _extract.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    extract = pandas_udf(f"struct<{schema}>")(_extract)

    ex = extract(F.col(text_col)).alias("_gx")
    out = df.withColumn("_gx", ex)
    for field, cast in fields:
        col = F.col(f"_gx.`{field}`")
        out = out.withColumn(field,
                             col.try_cast(cast) if cast else col)
    return (
        out.withColumn("_grok_matched", F.col("_gx.`_m`"))
        .drop("_gx")
    )
