"""JVM-native (Catalyst) fast path for canonical wire messages.

Why this exists: the JVM↔Python boundary is the expensive part of the
exact parser — every row is serialized to Arrow, parsed by pandas and
serialized back.  Parsing strictly-canonical lines entirely JVM-side
keeps that cost to the non-canonical rows (reference-corpus oddities,
malformed lines, non-ASCII frames — a few percent of real traffic).
``parse_logs`` evaluates the mask and the native fields in the same
narrow projection as the exact Arrow-batched UDF: canonical rows reach
the UDF as NULLs, which cost next to nothing to ship.  The UDF still
runs one Python worker stream per scan task; a trivial pandas UDF was
once measured collapsing above ~20 concurrent streams (5.5 s on
local[8] vs 60-220 s on local[32], a kernel futex convoy), which is not
re-measured for this shape.

Performance shape (this matters — naive Catalyst regex use re-executes
the pattern once per extracted field):

* ONE regex pass per row both decides and extracts: an anchored
  ``regexp_replace`` rewrites a matching line into its capture groups
  joined by \\x01 (a non-matching line comes back unchanged), split
  once in a dedicated Project below the field projection
  (CollapseProject keeps expensive multi-referenced expressions
  materialized).  Every bound that would need arithmetic is baked into
  the pattern itself (PRI range as an alternation, the 32-byte tag
  window as a Java lookahead, "content glued to SD without a space"
  excluded by an optional-tail group), so the group count IS the match
  test: ``matched_3164`` / ``matched_5424``, the one definition
  ``parse_logs`` and the ``native_*_mask`` helpers share.  The framing
  gate (``^\\d+ `` vs not) runs first, so each row evaluates at most
  ONE format's pattern, and every field is a cheap
  ``try_element_at``/``length`` op over the split array;
* every field expression is TOTAL (``try_element_at`` / ``try_cast`` /
  ``try_to_timestamp``): Catalyst is free to push user predicates over
  parsed columns below our projections and evaluate them on any row —
  off-domain rows yield NULL, never an ANSI crash;
* RFC5424 framing arithmetic (frame-length reconciliation, early
  accept, truncation, premature EOF, invalid length) is evaluated
  natively, so every strictly-shaped ASCII frame — valid or not — stays
  JVM-side.

tests/test_native_fast.py pins native == exact-Python on corpora,
generated traffic and random mutations.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x01"

_PRI_RANGE = r"(\d{1,2}|0\d\d|1[0-8]\d|19[01])"  # 0..191, leading 0s ok

# groups: 1 pri, 2 mon, 3 day, 4 hh, 5 mm, 6 ss, 7 host, 8 app,
# 9 '[', 10 pid, 11 msg.  The lookahead pins the tag scan's 32-byte
# window: the breaking space must come within 31 tag bytes
# (rfc3164.go:190-204).
# Possessive quantifiers (Java regex) keep matching linear — every
# quantified class is disjoint from its follower, so possessive ==
# greedy here, minus the backtracking blowup on long lines.
NATIVE_3164_RE = (
    "^<" + _PRI_RANGE + ">"
    r"(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    r" ( [1-9]|0[1-9]|[12]\d|3[01])"
    r" ([01]\d|2[0-3]):([0-5]\d):([0-5]\d|60)"
    r" ([^\n ]++)"
    r" (?=[^\n ]{1,31} )([^ :\[\]\n]++)(?:(\[)([^\]\[\n: ]*+)\])?+: "
    # \z, NOT $: Java's default $ also matches *before* a final line
    # terminator, which would silently drop a trailing byte from the
    # captured groups and break frame-length arithmetic.
    r"([^\n]*+\n?+)\z"
)
_N3 = 11
_TPL3 = SEP.join(f"${i}" for i in range(1, _N3 + 1))

# groups: 1 frame, 2 pri, 3 ts, 4 host, 5 app, 6 procid, 7 msgid,
# 8 sd, 9 sp, 10 body.  The optional (space+body) tail means content
# glued to the SD section without a space (scanner semantics the regex
# can't mirror, e.g. "-.", "[id]x") simply does not match → Python.
NATIVE_5424_RE = (
    r"^(\d{1,9}+) "
    "<" + _PRI_RANGE + ">1 "
    r"(-|\d{4}-\d{2}-\d{2}T\d{2}:[0-5]\d:[0-5]\d(?:\.\d{1,9}+)?+"
    r"(?:Z|[+-]\d{2}:\d{2})) "
    r"([^\n ]++) ([^\n ]++) ([^\n ]++) ([^\n ]++) "
    r'(-|(?:\[[A-Za-z0-9@._#/+-]++(?: [A-Za-z0-9@._#/+-]++="[^"\\\]\n]*+")*+\])++)'
    # \z, NOT $ (see NATIVE_3164_RE): with $, a framed message whose body
    # ends in \n would match with the \n silently excluded from the body
    # group, corrupting the frame-length reconciliation (e.g. an
    # exact-length frame would misclassify as premature_eof).  The body
    # group instead captures one trailing newline EXPLICITLY (same as
    # NATIVE_3164_RE): octet framing counts a terminating \n into the
    # frame, so every octet-file message ends with one — without this
    # the whole octet-framed read ran 100% on the Python fallback.
    # With the \n inside the capture, body_len and md both count it and
    # the frame reconciliation is unchanged; interior newlines still
    # fail the pattern and take the exact Python path.
    r"(?:( )([^\n]*+\n?+))?+\z"
)
_N5 = 10
_TPL5 = SEP.join(f"${i}" for i in range(1, _N5 + 1))

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

_SD_ELEM_RE = r"\[[^\]]*\]"
_SD_ID_RE = r"^\[([A-Za-z0-9@._#/+-]+)"
_SD_PARAM_RE = r' [A-Za-z0-9@._#/+-]+="[^"]*"'


def cheap_guards(text: Column) -> Column:
    """Non-regex guards shared by both formats: non-null, ASCII (char
    arithmetic == byte arithmetic), separator-free (the rewrite trick),
    bounded length (clear of the 2048-byte arena)."""
    return (
        text.isNotNull()
        & (F.length(text) == F.octet_length(text))
        & (F.length(text) < 2000)
        & ~text.contains(SEP)
    )


def matched_3164(g: Column) -> Column:
    """The 3164 match test over a group array from ``split_groups``: the
    anchored rewrite of SEP-free text yields exactly ``_N3`` groups iff
    the pattern matched (the unchanged line splits into one)."""
    return F.size(g) == _N3


def matched_5424(g: Column) -> Column:
    """The 5424 match test over a group array: ``_N5`` groups and a
    timestamp (group 3) that is NILVALUE or a calendar-valid RFC3339
    instant.  Every sub-expression is TOTAL (try_element_at /
    try_to_timestamp) so Catalyst may evaluate it on any row in any
    order without ANSI crashes — rows whose timestamp is shape-valid
    but calendar-invalid (month 13 …) go to Python, which emits
    invalid_timestamp with the right partial fields."""
    tok = F.try_element_at(g, F.lit(3))
    return (F.size(g) == _N5) & (
        (tok == "-") | F.try_to_timestamp(tok).isNotNull()
    )


def native_3164_mask(text: Column) -> Column:
    """Whether ``parse_logs`` parses this RFC3164 line natively: the
    same guards, rewrite and match test it applies."""
    return F.coalesce(
        cheap_guards(text) & matched_3164(split_groups(groups_str_3164(text))),
        F.lit(False),
    )


def native_5424_mask(text: Column) -> Column:
    """Whether ``parse_logs`` parses this RFC5424 frame natively: the
    same guards, rewrite and match test it applies."""
    return F.coalesce(
        cheap_guards(text) & matched_5424(split_groups(groups_str_5424(text))),
        F.lit(False),
    )


def groups_str_3164(text: Column) -> Column:
    """The SEP-joined capture groups of a matching line (the line itself
    unchanged otherwise); ``split_groups`` turns it into the array."""
    return F.regexp_replace(text, NATIVE_3164_RE, _TPL3)


def groups_str_5424(text: Column) -> Column:
    return F.regexp_replace(text, NATIVE_5424_RE, _TPL5)


def split_groups(s: Column) -> Column:
    return F.split(s, SEP, -1)


def native_3164_fields(g: Column, ref_now: pd.Timestamp) -> dict:
    """Parsed LogMsg columns from the 3164 group array (all rows valid
    by construction of the pattern).  Every expression here is TOTAL —
    try_element_at + try_cast return NULL off-domain instead of raising —
    so a pushed-down predicate over a parsed column can never crash on
    rows the mask excludes (Catalyst may reorder filters freely)."""
    e = lambda i: F.try_element_at(g, F.lit(i))  # noqa: E731
    pri = e(1).try_cast("int")
    mon = F.array_position(
        F.array(*[F.lit(m) for m in _MONTHS]), e(2)
    ).cast("int")
    day = F.ltrim(e(3)).try_cast("int")
    hh = e(4).try_cast("int")
    mm = e(5).try_cast("int")
    ss = e(6).try_cast("int")

    def _ts(year: int) -> Column:
        # Go time.Date normalization: day/second overflow rolls forward
        base = F.date_add(F.make_date(F.lit(year), mon, F.lit(1)), day - 1)
        return F.to_timestamp(base) + F.make_interval(
            F.lit(0), F.lit(0), F.lit(0), F.lit(0), hh, mm, ss.cast("double")
        )

    limit = F.lit(ref_now + pd.Timedelta(days=31)).cast("timestamp")
    cand = _ts(ref_now.year)
    msg_ts = F.when(cand > limit, _ts(ref_now.year - 1)).otherwise(cand)

    has_br = e(9) == "["
    msg = e(11)
    return {
        "priority": pri,
        "facility": F.shiftright(pri, 3),
        "severity": pri.bitwiseAND(F.lit(7)),
        "proto_version": F.lit(None).cast("int"),
        "msg_ts": msg_ts,
        "host": e(7),
        "app": e(8),
        "pid": F.when(has_br & (F.length(e(10)) > 0), e(10)),
        "msgid": F.lit(None).cast("string"),
        "structured_data": F.lit(None).cast(
            "array<struct<sd_id:string,params:array<struct<key:string,val:string>>>>"
        ),
        "has_bom": F.lit(None).cast("boolean"),
        "message": msg,
        "msg_length": F.octet_length(msg),
        "err_code": F.lit(None).cast("string"),
    }


def _sd_native(sd: Column) -> Column:
    elements = F.regexp_extract_all(sd, F.lit(_SD_ELEM_RE), F.lit(0))
    build = F.transform(
        elements,
        lambda el: F.struct(
            F.regexp_extract(el, _SD_ID_RE, 1).alias("sd_id"),
            F.transform(
                F.regexp_extract_all(el, F.lit(_SD_PARAM_RE), F.lit(0)),
                lambda p: F.struct(
                    F.regexp_extract(p, r"^ ([^=]+)=", 1).alias("key"),
                    F.regexp_extract(p, r'^[^"]*"(.*)"$', 1).alias("val"),
                ),
            ).alias("params"),
        ),
    )
    return F.when(sd == "-", F.lit(None)).otherwise(build)


def native_5424_fields(g: Column) -> dict:
    """Parsed LogMsg columns from the 5424 group array, including the
    framing outcome classes (rfc5424.go:89-108):

    * body < 3 bytes after SD → early accept, empty message (:89-91)
    * md == len(body)         → exact frame, message = body
    * 0 ≤ md < len(body)      → truncated read, message = body[:md]
    * md > len(body)          → premature_eof (ReadFull short, :96-99)
    * md < 0                  → invalid_length (Go would panic)
    * NILVALUE SD at EOF      → early accept (:168-173)
    * bracketed SD at EOF     → premature_eof (:341-343)
    """
    e = lambda i: F.try_element_at(g, F.lit(i))  # noqa: E731
    pri = e(2).try_cast("int")
    ts = e(3)
    body = e(10)
    body_len = F.length(body)
    has_sp = e(9) == " "
    sd_dash = e(8) == "-"
    hdr_len = (
        F.length(e(2)) + 2  # <PRI>
        + 2  # "1 "
        + F.length(e(3)) + 1
        + F.length(e(4)) + 1
        + F.length(e(5)) + 1
        + F.length(e(6)) + 1
        + F.length(e(7)) + 1
        + F.length(e(8)) + 1
    )
    md = e(1).try_cast("long") - hdr_len

    early = has_sp & (body_len < 3)
    neg = has_sp & (body_len >= 3) & (md < 0)
    short = has_sp & (body_len >= 3) & (md > body_len)
    ok_full = has_sp & (body_len >= 3) & (md >= 0) & (md <= body_len)
    nil_eof = ~has_sp & sd_dash
    brk_eof = ~has_sp & ~sd_dash

    err = (
        F.when(neg, "invalid_length")
        .when(short | brk_eof, "premature_eof")
        .otherwise(F.lit(None).cast("string"))
    )

    def _nil(c: Column) -> Column:
        return F.when(c == "-", F.lit(None)).otherwise(c)

    return {
        "priority": pri,
        "facility": F.shiftright(pri, 3),
        "severity": pri.bitwiseAND(F.lit(7)),
        "proto_version": F.lit(1).cast("int"),
        "msg_ts": F.when(ts == "-", F.lit(None)).otherwise(
            F.try_to_timestamp(ts)
        ),
        "host": _nil(e(4)),
        "app": _nil(e(5)),
        "pid": _nil(e(6)),
        "msgid": _nil(e(7)),
        # masked for err rows, like the exact parser's final err mask
        "structured_data": F.when(err.isNull(), _sd_native(e(8))),
        # SD-stage errors (brk_eof) leave has_bom NULL; post-BOM errors
        # (neg/short) leave it False — matches the exact parser's
        # stage-scoped alive mask
        "has_bom": F.when(brk_eof, F.lit(None).cast("boolean")).otherwise(
            F.lit(False)
        ),
        "message": F.when(early | nil_eof, F.lit(""))
        .when(ok_full, F.substring(body, 1, md.cast("int")))
        .otherwise(F.lit(None).cast("string")),
        "msg_length": F.when(early | nil_eof, F.lit(0))
        .when(ok_full, md)
        .otherwise(F.lit(None))
        .cast("int"),
        "err_code": err,
    }


