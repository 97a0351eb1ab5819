"""Vectorized RFC3164 (BSD-syslog) parser.

Re-expresses the byte-level pull parser of the reference
(``/root/reference/rfc3164/rfc3164.go`` + ``rfc3164/date.go``) as one
Arrow-batched pandas transformation: every stage below is a vectorized
pandas/numpy operation across the whole batch — the only per-row Python
is O(1) string slicing on two rare fallback branches.

Stage order and validity semantics replicate the reference exactly
("first failing stage wins", rfc3164.go:109-124):

1. PRI ``<NNN>``          rfc3164.go:128-141, readPriorityValue :264-292
2. TIMESTAMP (15 bytes + 1 discarded byte)  rfc3164.go:145-163, date.go
3. HOSTNAME (to next space)                 rfc3164.go:167-177
4. TAG (32-byte FSM window)                 rfc3164.go:181-242
5. message remainder (+ ``\\n`` kept)       rfc3164.go:245-261, :90-101

Faithfully replicated quirks (each pinned by the reference corpus):

* the byte after the 15-byte timestamp is *discarded without checking
  it is a space* (``reader.Discard(1)``, rfc3164.go:157-159);
* tag scan: colon bytes are consumed but later non-special bytes keep
  accumulating into the app name (``app:msg more`` → app ``appmsg``);
* a tag longer than 32 bytes is demoted to message content
  (rfc3164_test.go:32 pins the boundary);
* ``parseDoubleDigit`` caps the tens digit at '6' (date.go:157-162);
* leap second ss=60 is allowed and normalized forward (date.go:69);
* year inference: current year, roll back one year if the result is
  more than 31 days in the future (date.go:73-86) — the reference reads
  the wall clock; we take ``ref_now`` as an injected parameter so the
  pipeline is deterministic and testable;
* EOF inside the tag scan is an error, EOF in the message remainder is
  not (rfc3164.go:191-193 vs :248-251).

Caveat vs the Go byte semantics: header scanning here is performed on
unicode code points, not raw bytes (headers are ASCII in every corpus
line and in RFC-compliant traffic, where the two coincide);
``msg_length`` is the UTF-8 byte length of the message, matching
``LogMsg.Message.Len()``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from go_parsesyslog_spark.errors import (
    ERR_INVALID_PRIO,
    ERR_INVALID_TIMESTAMP,
    ERR_PREMATURE_EOF,
    ERR_WRONG_FORMAT,
)

# FIXTURES.md base timestamp — injected default "now" for year inference.
DEFAULT_REF_NOW = pd.Timestamp("2025-10-21 15:30:00")

MAX_TAG_LENGTH = 32  # rfc3164.go:37
TIMESTAMP_LENGTH = 15  # date.go:13

_MONTHS = {
    "Jan": 1, "Feb": 2, "Mar": 3, "Apr": 4, "May": 5, "Jun": 6,
    "Jul": 7, "Aug": 8, "Sep": 9, "Oct": 10, "Nov": 11, "Dec": 12,
}  # date.go:91-139 (three-byte switch)

_FILL = "\U0010ffff"  # gather sentinel — a valid but practically unused cp


def _double_digit(a: pd.Series, b: pd.Series) -> pd.Series:
    """``parseDoubleDigit`` (date.go:157-162): tens digit '0'..'6',
    units '0'..'9'; -1 on invalid."""
    ok = a.str.match(r"^[0-6]$", na=False) & b.str.match(r"^[0-9]$", na=False)
    val = pd.to_numeric(a.where(ok, "0")) * 10 + pd.to_numeric(b.where(ok, "0"))
    return val.where(ok, -1)


def _build_ts(year: pd.Series, mon: pd.Series, day, hh, mm, ss) -> pd.Series:
    """Construct timestamps with Go ``time.Date`` normalization semantics:
    out-of-range components roll forward (Feb 30 → Mar 2, sec 60 → :00 of
    the next minute)."""
    frame = pd.DataFrame({"year": year, "month": mon, "day": 1})
    base = pd.to_datetime(frame, errors="coerce")
    offset = pd.to_timedelta(
        (day - 1) * 86400 + hh * 3600 + mm * 60 + ss, unit="s"
    )
    return base + offset


def parse_rfc3164_batch(
    texts: pd.Series, ref_now: pd.Timestamp | None = None
) -> pd.DataFrame:
    """Parse one Arrow batch of RFC3164 lines → parsed-field DataFrame
    (the exact staged parser, reference-quirk complete)."""
    ref_now = ref_now if ref_now is not None else DEFAULT_REF_NOW
    s = texts.fillna("").astype(str)
    s = s.reset_index(drop=True)
    n = len(s)
    idx = s.index

    err = pd.Series([None] * n, index=idx, dtype=object)

    # ---- stage 1: PRI --------------------------------------------------
    # readPriorityValue (rfc3164.go:264-292): first byte must be '<'
    # (else ErrWrongFormat), bytes to '>' are the PRI digits; EOF before
    # '>' → ErrPrematureEOF; non-digit/empty → ErrInvalidPrio; 0..191.
    empty = s.str.len() == 0
    err[empty] = ERR_PREMATURE_EOF
    starts = s.str.startswith("<") & ~empty
    err[~starts & ~empty] = ERR_WRONG_FORMAT

    inner = s.str.extract(r"^<([^>]*)>", expand=False)
    no_gt = starts & inner.isna()
    err[no_gt] = ERR_PREMATURE_EOF

    pri_ok = starts & inner.notna()
    digits = inner.str.fullmatch(r"[0-9]+", na=False)
    err[pri_ok & ~digits] = ERR_INVALID_PRIO
    priority = pd.to_numeric(inner.where(digits), errors="coerce")
    err[pri_ok & digits & (priority > 191)] = ERR_INVALID_PRIO

    alive = err.isna()
    priority = priority.where(alive)
    facility = np.floor(priority / 8).where(alive)  # priority.go:60-62
    severity = (priority % 8).where(alive)  # priority.go:65-67

    # ---- stage 2: TIMESTAMP -------------------------------------------
    # 15 bytes + one unconditionally discarded byte (rfc3164.go:145-163).
    rest = s.str.replace(r"^<[^>]*>", "", regex=True)
    rlen = rest.str.len()
    short = alive & (rlen < TIMESTAMP_LENGTH)
    err[short] = ERR_PREMATURE_EOF
    # Discard(1) failing at EOF → errors.New("failed to discard space"),
    # a non-sentinel error; we file it under wrong_format.
    no_discard = alive & (rlen == TIMESTAMP_LENGTH)
    err[no_discard] = ERR_WRONG_FORMAT
    alive = err.isna()

    # NUL-pad so positional char getters always yield strings (NUL can
    # never satisfy any of the validity checks below).
    ts15 = rest.str.slice(0, TIMESTAMP_LENGTH).fillna("").str.pad(
        TIMESTAMP_LENGTH, side="right", fillchar="\x00"
    )
    sep_ok = (
        (ts15.str.get(3) == " ")
        & (ts15.str.get(6) == " ")
        & (ts15.str.get(9) == ":")
        & (ts15.str.get(12) == ":")
    )  # date.go:40-42
    mon = ts15.str.slice(0, 3).map(_MONTHS)
    d0, d1 = ts15.str.get(4), ts15.str.get(5)
    day_single = d0 == " "
    day = _double_digit(d0, d1)
    single_val = pd.to_numeric(d1.where(d1.str.match(r"^[0-9]$", na=False)),
                               errors="coerce").fillna(-1)
    day = day.where(~day_single, single_val)  # date.go:143-154
    hh = _double_digit(ts15.str.get(7), ts15.str.get(8))
    mm = _double_digit(ts15.str.get(10), ts15.str.get(11))
    ss = _double_digit(ts15.str.get(13), ts15.str.get(14))
    ts_ok = (
        sep_ok
        & mon.notna()
        & (day >= 1)
        & (day <= 31)
        & (hh >= 0)
        & (hh <= 23)
        & (mm >= 0)
        & (mm <= 59)
        & (ss >= 0)
        & (ss <= 60)  # leap second allowed, date.go:69
    )
    err[alive & ~ts_ok] = ERR_INVALID_TIMESTAMP
    alive = err.isna()

    mon_f = mon.fillna(1)
    day_f = day.clip(lower=1)
    hh_f, mm_f, ss_f = hh.clip(lower=0), mm.clip(lower=0), ss.clip(lower=0)
    cand = _build_ts(pd.Series(ref_now.year, index=idx), mon_f, day_f, hh_f, mm_f, ss_f)
    rollback = cand > (ref_now + pd.Timedelta(days=31))  # date.go:81-84
    prev = _build_ts(pd.Series(ref_now.year - 1, index=idx), mon_f, day_f, hh_f, mm_f, ss_f)
    msg_ts = cand.where(~rollback, prev).where(alive & ts_ok).astype(
        "datetime64[us]"
    )

    # ---- stage 3: HOSTNAME (ReadSlice(' '), rfc3164.go:167-177) --------
    after_ts = rest.str.slice(TIMESTAMP_LENGTH + 1)
    host_sp = after_ts.str.find(" ")
    err[alive & (host_sp < 0)] = ERR_PREMATURE_EOF
    alive = err.isna()
    host = after_ts.str.extract(r"^([^ ]*) ", expand=False).where(alive)
    rem = after_ts.str.replace(r"^[^ ]* ", "", regex=True)

    # ---- stage 4: TAG — 32-byte window FSM (rfc3164.go:181-242) --------
    # Vectorized across rows: iterate the ≤32 character *positions*,
    # updating per-row state with numpy boolean ops.
    win = rem.str.slice(0, MAX_TAG_LENGTH).fillna("")
    rem_len = pd.to_numeric(rem.str.len(), errors="coerce").fillna(0).astype(int).to_numpy()
    padded = win.str.pad(MAX_TAG_LENGTH, side="right", fillchar="\x00")
    arr = np.frombuffer(
        "".join(padded.tolist()).encode("utf-32-le"), dtype="<u4"
    ).reshape(n, MAX_TAG_LENGTH)

    scanning = alive.to_numpy().copy()
    eof_in_tag = np.zeros(n, dtype=bool)
    reol = np.zeros(n, dtype=bool)
    buf_end = np.zeros(n, dtype=np.int64)
    has_colon = np.zeros(n, dtype=bool)
    in_pid = np.zeros(n, dtype=bool)
    app_mask = np.zeros((n, MAX_TAG_LENGTH), dtype=bool)
    pid_mask = np.zeros((n, MAX_TAG_LENGTH), dtype=bool)

    for c in range(MAX_TAG_LENGTH):
        if not scanning.any():
            break
        hit_eof = scanning & (rem_len == c)  # ReadByte → io.EOF → error
        eof_in_tag |= hit_eof
        scanning &= ~hit_eof
        cur = scanning.copy()
        ch = arr[:, c]
        nl = cur & (ch == 10)  # newline breaks BEFORE buffering (:195-198)
        reol |= nl
        scanning &= ~nl
        wrote = cur & ~nl
        buf_end[wrote] = c + 1
        sp = wrote & (ch == 32)  # space buffered, then break (:202-204)
        scanning &= ~sp
        t = wrote & ~sp
        col = t & (ch == 58)  # colon buffered, not appended (:205-208)
        has_colon |= col
        t = t & ~col
        lb = t & (ch == 91) & ~in_pid  # '[' opens pid (:209-212)
        rb = t & (ch == 93) & in_pid  # ']' closes pid (:213-216)
        t = t & ~lb & ~rb
        app_mask[:, c] = t & ~in_pid
        pid_mask[:, c] = t & in_pid
        in_pid = (in_pid | lb) & ~rb

    err[pd.Series(eof_in_tag, index=idx)] = ERR_PREMATURE_EOF
    alive = err.isna()
    alive_np = alive.to_numpy()

    def _gather(mask: np.ndarray) -> pd.Series:
        codes = np.where(mask, arr, ord(_FILL)).astype("<u4")
        blob = codes.tobytes().decode("utf-32-le")
        w = MAX_TAG_LENGTH
        ser = pd.Series([blob[i * w:(i + 1) * w] for i in range(n)], index=idx)
        return ser.str.replace(_FILL, "", regex=False)

    app_all = _gather(app_mask)
    pid_all = _gather(pid_mask)
    # valid tag requires a colon AND non-empty app (rfc3164.go:226)
    valid_tag = pd.Series(has_colon, index=idx) & (app_all.str.len() > 0) & alive
    app = app_all.where(valid_tag)
    pid = pid_all.where(valid_tag & (pid_all.str.len() > 0))

    # ---- stage 5: message assembly --------------------------------------
    # readMessageContent (rfc3164.go:245-261) + trailing ReadSlice('\n')
    # (rfc3164.go:90-101).  Newline is KEPT in the message.
    reol_s = pd.Series(reol, index=idx)
    pos = buf_end + reol.astype(np.int64)  # chars consumed from `rem`
    message = pd.Series([""] * n, index=idx, dtype=object)

    # Fast path (~all rows): no newline inside the tag window.  The
    # remaining message is rem[pos:] cut at the first '\n' inclusive;
    # for an invalid tag the scanned bytes are prepended (rfc3164.go:
    # 234-239), i.e. the message is simply rem[0:] cut at '\n'.
    fast = alive_np & ~reol
    tail_start = np.where(valid_tag.to_numpy(), pos, 0)
    tail = pd.Series([""] * n, index=idx, dtype=object)
    for p in np.unique(tail_start[fast]):
        m = pd.Series(fast & (tail_start == p), index=idx)
        tail[m] = rem[m].str.slice(int(p))
    cut = tail.str.extract(r"(?s)^(.*?\n|.*)$", expand=False).fillna("")
    message[pd.Series(fast, index=idx)] = cut[pd.Series(fast, index=idx)]

    # Slow path (rare): newline hit inside the tag window — the message
    # window continues PAST that newline for up to 32-buf_end more chars
    # (readMessageContent is still invoked, rfc3164.go:231/:241).
    slow = alive_np & reol
    if slow.any():
        rem_list = rem.tolist()
        vt = valid_tag.to_numpy()
        msg_np = message.to_numpy(dtype=object, copy=True)
        for i in np.where(slow)[0]:
            r = rem_list[i]
            head = "" if vt[i] else r[: buf_end[i]]
            k = MAX_TAG_LENGTH - buf_end[i]
            seg = r[pos[i]: pos[i] + k]
            j = seg.find("\n")
            msg_np[i] = head + (seg[: j + 1] if j >= 0 else seg)
        message = pd.Series(msg_np, index=idx, dtype=object)

    message = message.where(alive, None)
    msg_length = message.str.encode("utf-8").str.len()

    out = pd.DataFrame(
        {
            "priority": priority.astype("Int32"),
            "facility": facility.astype("Int32"),
            "severity": severity.astype("Int32"),
            "proto_version": pd.Series([None] * n, index=idx, dtype="Int32"),
            "msg_ts": msg_ts,
            "host": host,
            "app": app,
            "pid": pid,
            "msgid": pd.Series([None] * n, index=idx, dtype=object),
            "structured_data": pd.Series([None] * n, index=idx, dtype=object),
            "has_bom": pd.Series([None] * n, index=idx, dtype="boolean"),
            "message": message,
            "msg_length": msg_length.astype("Int32"),
            "err_code": err,
        }
    )
    return out
