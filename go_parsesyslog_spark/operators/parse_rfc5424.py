"""Vectorized RFC5424 (IETF-syslog, octet-framed) parser.

Re-expresses the arena-buffered pull parser of the reference
(``/root/reference/rfc5424/rfc5424.go``) as one Arrow-batched pandas
transformation.  Header tokenization, PRI/VERSION/TIMESTAMP validation,
frame-length reconciliation and byte accounting are fully vectorized;
the STRUCTURED-DATA section — the one genuinely stateful, escape-aware
piece (rfc5424.go:155-344) — is parsed by a linear per-message scan that
runs only for rows whose SD section is present (starts with ``[``),
exactly as SURVEY.md §2 A16 prescribes.

Stage order ("first failing stage wins", rfc5424.go:65-111):

1. LENGTH octet-count prefix            rfc5424.go:360-368
2. PRI ``<NNN>``                        rfc5424.go:372-396
3. VERSION (must equal 1)               rfc5424.go:400-412
4. TIMESTAMP (RFC3339 or NILVALUE)      rfc5424.go:417-433
5. HOSTNAME / APP-NAME / PROCID / MSGID rfc5424.go:437-497
6. STRUCTURED-DATA (NILVALUE or FSM)    rfc5424.go:155-344
7. BOM peek                             rfc5424.go:348-357
8. MSG body = exactly (frame length − consumed) bytes, rfc5424.go:94-108

Faithfully replicated quirks (each pinned by the reference corpus):

* a message whose remaining body is shorter than 3 bytes after the SD
  section is accepted *early* with an empty message — the BOM ``Peek(3)``
  fails and ``ParseReader`` returns success (rfc5424.go:89-91), skipping
  the length reconciliation (corpus valid[5], valid[7]);
* NILVALUE SD at end-of-input (``… -``) is accepted the same way
  (rfc5424.go:168-173);
* a bracketed SD section ending exactly at EOF is *invalid*
  (premature_eof): the post-FSM ReadByte fails (rfc5424.go:341-343);
* SD param values keep their escape sequences verbatim (``\\"`` is two
  characters in the value, rfc5424.go:289);
* the escaped-``]`` check accepts a ``]`` inside a value if *either* of
  the two preceding bytes is a backslash (rfc5424.go:267-274);
* header bytes accumulate in a 2048-byte arena; overflow →
  ``wrong_format`` (rfc5424.go:49, readByte :534-549);
* all byte counting (frame length, body slice, msg_length) is performed
  on UTF-8 bytes, not code points, matching the Go ``io.ReadFull`` framing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from go_parsesyslog_spark.errors import (
    ERR_INVALID_LENGTH,
    ERR_INVALID_NUMBER,
    ERR_INVALID_PRIO,
    ERR_INVALID_PROTO_VERSION,
    ERR_INVALID_TIMESTAMP,
    ERR_PREMATURE_EOF,
    ERR_WRONG_FORMAT,
    ERR_WRONG_SD_FORMAT,
)

ARENA_CAP = 2048  # rfc5424.go:49

# Strict RFC3339 shape (Go time.RFC3339 layout): 'T' separator mandatory,
# 'Z' or ±HH:MM offset mandatory, optional fractional seconds.
_RFC3339_RE = (
    r"\d{4}-\d{2}-\d{2}T\d{2}:[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]\d{2}:\d{2})"
)

_BOM = "﻿"


def _parse_sd(t: str):
    """Parse the STRUCTURED-DATA section at the head of ``t`` (which is
    known to start with ``[``).

    Returns ``(elements, consumed_chars, err_code)``.  Semantics are a
    behavioral port of the reference's quote-aware bracket scan
    (rfc5424.go:197-244) followed by its byte FSM (rfc5424.go:259-338),
    including its quirky escape rules — see module docstring.
    """
    # --- bracket scan: find the end of the SD section -------------------
    in_quotes = False
    depth = 1
    i = 1
    n = len(t)
    ended_eof = False
    while True:
        if i >= n:
            sd = t  # EOF: process everything read so far (rfc5424.go:205-208)
            ended_eof = True
            break
        c = t[i]
        i += 1
        if c == '"':
            in_quotes = not in_quotes
        if not in_quotes:
            if c == " " and depth == 0:
                sd = t[: i - 1]  # terminating space excluded (:220-229)
                break
            if c == "[":
                depth += 1
                continue
            if c == "]":
                depth -= 1
                continue
        if depth < 0:  # closing bracket without opener (:241-243)
            return None, 0, ERR_WRONG_SD_FORMAT

    if len(sd) < 2 or sd[0] != "[" or sd[-1] != "]":
        return None, 0, ERR_WRONG_SD_FORMAT  # malformed block (:250-257)

    # --- element/param FSM ----------------------------------------------
    sds: list[dict] = []
    cur_id: str | None = None
    cur_params: list[dict] = []
    key: str | None = None
    start = 1
    inside_value = False
    m = sd
    ln = len(m)
    for i in range(1, ln):
        b = m[i]
        if b == "]" and inside_value:
            # unescaped ']' in a value is malformed; accepted if either of
            # the two preceding bytes is '\' (rfc5424.go:267-274)
            if m[i - 1] != "\\" and m[i - 2] != "\\":
                return None, 0, ERR_WRONG_SD_FORMAT
        if b == '"':
            if inside_value:
                if m[i - 1] == "\\":  # escaped quote stays in value (:280-282)
                    continue
                if not key:  # params need a name (:285-287)
                    return None, 0, ERR_WRONG_SD_FORMAT
                cur_params.append({"key": key, "val": m[start:i]})
                key = None
                inside_value = False
                start = i + 1
            else:
                inside_value = True
                start = i + 1
            continue
        if not inside_value:
            if b == "=":
                key = m[start:i]
                start = i + 1
                continue
            if b == " " or b == "]":
                if b == "]":
                    if cur_id is None:
                        cur_id = m[start:i]
                    sds.append({"sd_id": cur_id, "params": cur_params})
                    cur_id, cur_params = None, []
                    start = i + 1
                    if start < ln and m[start] == "[":
                        start += 1
                        continue
                    break
                if cur_id is not None and len(cur_params) == 0:
                    return None, 0, ERR_WRONG_SD_FORMAT  # (:326-328)
                if cur_id is None:
                    cur_id = m[start:i]
                    start = i + 1
                    continue
                start = i + 1
                continue

    if ended_eof:
        # final ReadByte after the FSM hits EOF (rfc5424.go:341-343)
        return None, 0, ERR_PREMATURE_EOF
    return sds, len(sd) + 1, None  # +1 = the re-read terminating space


def parse_rfc5424_batch(texts: pd.Series) -> pd.DataFrame:
    """Parse one Arrow batch of octet-framed RFC5424 messages (the exact
    staged parser, reference-quirk complete)."""
    s = texts.fillna("").astype(str).reset_index(drop=True)
    n = len(s)
    idx = s.index
    err = pd.Series([None] * n, index=idx, dtype=object)

    # ---- stage 1: LENGTH prefix (rfc5424.go:360-368) --------------------
    sp0 = s.str.find(" ")
    err[sp0 < 0] = ERR_PREMATURE_EOF  # readUntil EOF
    frame_tok = s.str.extract(r"^([^ ]*) ", expand=False)
    tok_digits = frame_tok.str.fullmatch(r"[0-9]+", na=False)
    alive = err.isna()
    err[alive & ~tok_digits] = ERR_INVALID_NUMBER  # ParseUintBytes, common.go:9-21
    want = pd.to_numeric(frame_tok.where(tok_digits), errors="coerce")
    arena = pd.to_numeric(frame_tok.str.len(), errors="coerce").fillna(0)
    alive = err.isna()
    err[alive & (arena > ARENA_CAP)] = ERR_WRONG_FORMAT
    alive = err.isna()

    rest = s.str.replace(r"^[^ ]* ", "", regex=True)

    # ---- stage 2: PRI (readUntil '>', rfc5424.go:372-396) ---------------
    gt = rest.str.find(">")
    err[alive & (gt < 0)] = ERR_PREMATURE_EOF
    alive = err.isna()
    arena = arena + (gt + 1).clip(lower=0)
    err[alive & (arena > ARENA_CAP)] = ERR_WRONG_FORMAT
    alive = err.isna()
    # val[0] must be '<' (rfc5424.go:380-382)
    err[alive & ~rest.str.startswith("<")] = ERR_INVALID_PRIO
    alive = err.isna()
    inner = rest.str.extract(r"^<([^>]*)>", expand=False)
    inner_digits = inner.str.fullmatch(r"[0-9]+", na=False)
    err[alive & ~inner_digits] = ERR_INVALID_NUMBER  # wrapped ParseUintBytes err
    priority = pd.to_numeric(inner.where(inner_digits), errors="coerce")
    alive = err.isna()
    err[alive & (priority > 191)] = ERR_INVALID_PRIO
    alive = err.isna()
    priority = priority.where(alive)
    facility = np.floor(priority / 8).where(alive)
    severity = (priority % 8).where(alive)

    h = rest.str.replace(r"^<[^>]*>", "", regex=True)

    # ---- stages 3-5: six space-delimited header tokens -------------------
    # Tokenized INCREMENTALLY, validating each stage as soon as its token
    # is space-terminated — the reference's first-failing-stage rule.  A
    # truncated line with an invalid earlier token must return that
    # stage's error, not premature_eof ('7 <34>2 ' → invalid_proto_
    # version; '30 <34>1 BADTS ' → invalid_timestamp); premature_eof is
    # emitted only when the FAILING stage's own token hits EOF before its
    # space (readUntil, rfc5424.go:503-532).  Arena accounting is also
    # per token: overflow while reading token i → wrong_format before
    # token i's EOF/validity is considered (readByte, :534-549).
    toks6: list[pd.Series] = []
    terms6: list[pd.Series] = []
    cur = h
    for _ in range(6):
        first = cur.str.extract(r"^([^ ]*) ", expand=False)
        term = first.notna()
        toks6.append(first.where(term, cur))
        terms6.append(term)
        cur = cur.str.replace(r"^[^ ]* ", "", regex=True).where(term, "")
    remainder = cur
    ver_tok, ts_tok, host_tok, app_tok, pid_tok, msgid_tok = toks6

    arena_run = arena
    for i, (tok, term) in enumerate(zip(toks6, terms6)):
        tlen = pd.to_numeric(tok.str.len(), errors="coerce").fillna(0)
        err[alive & ((arena_run + tlen) > ARENA_CAP)] = ERR_WRONG_FORMAT
        alive = err.isna()
        err[alive & ~term] = ERR_PREMATURE_EOF
        alive = err.isna()
        arena_run = arena_run + tlen

        if i == 0:
            # VERSION must parse and equal 1 (rfc5424.go:400-412)
            ver_ok = ver_tok.str.fullmatch(r"[0-9]+", na=False)
            ver_val = pd.to_numeric(ver_tok.where(ver_ok), errors="coerce")
            err[alive & ~(ver_ok & (ver_val == 1))] = ERR_INVALID_PROTO_VERSION
            alive = err.isna()
            # stage-scoped snapshot (ADVICE r2): proto_version belongs to
            # THIS stage — a row failing a later stage (e.g. bad
            # timestamp) still parsed version 1, and the first-failing-
            # stage convention keeps fields from succeeded stages set
            alive_after_version = alive.copy()
        elif i == 1:
            # TIMESTAMP: NILVALUE/empty → unset; else strict RFC3339
            # (:417-433)
            ts_nil = (ts_tok == "-") | (ts_tok == "")
            ts_shape = ts_tok.str.fullmatch(_RFC3339_RE, na=False)
            msg_ts = pd.to_datetime(
                ts_tok.where(alive & ts_shape), errors="coerce", utc=True,
                format="ISO8601",
            ).dt.tz_convert(None).astype("datetime64[us]")
            # pandas ns-range overflow (years > 2262): Go time.Parse
            # accepts these — recover the rare shape-valid-but-NaT stamps
            # per row at Spark's native µs precision
            oob = (alive & ts_shape & ~ts_nil & msg_ts.isna()).to_numpy()
            if oob.any():
                import datetime as _dt

                vals = msg_ts.to_numpy().copy()
                tvals = ts_tok.to_numpy(dtype=object)
                for j in np.where(oob)[0]:
                    try:
                        d = _dt.datetime.fromisoformat(
                            str(tvals[j]).replace("Z", "+00:00")
                        )
                        vals[j] = np.datetime64(
                            d.astimezone(_dt.timezone.utc).replace(tzinfo=None),
                            "us",
                        )
                    except (ValueError, OverflowError, OSError):
                        pass
                msg_ts = pd.Series(vals, index=idx)
            bad_ts = alive & ~ts_nil & (~ts_shape | msg_ts.isna())
            err[bad_ts] = ERR_INVALID_TIMESTAMP
            alive = err.isna()

    proto_version = (
        pd.Series(1, index=idx).where(alive_after_version).astype("Int32")
    )
    msg_ts = msg_ts.where(alive & ~ts_nil)
    tok_lens = sum(
        pd.to_numeric(t.str.len(), errors="coerce").fillna(0) for t in toks6
    )

    def _nilable(tok: pd.Series) -> pd.Series:
        # NILVALUE '-' or empty token → NULL (:443-446 et al.)
        return tok.where(alive & (tok != "-") & (tok != ""))

    host = _nilable(host_tok)
    app = _nilable(app_tok)
    pid = _nilable(pid_tok)
    msgid = _nilable(msgid_tok)

    # consumed chars after the frame prefix, up to the start of the SD
    # section: PRI bytes + each of 6 tokens + its space separator.
    hdr_chars = (gt + 1).clip(lower=0) + tok_lens + 6

    # ---- stage 6: STRUCTURED-DATA ----------------------------------------
    remainder = remainder.fillna("")
    structured_data = pd.Series([None] * n, index=idx, dtype=object)
    sd_consumed = pd.Series(0, index=idx)
    early_accept = pd.Series(False, index=idx)

    r0 = remainder.str.get(0)
    err[alive & (remainder.str.len() == 0)] = ERR_PREMATURE_EOF  # SD ReadByte EOF
    alive = err.isna()

    is_dash = alive & (r0 == "-")
    # "-" at EOF → SD nil, then BOM peek fails → accepted early (:168-173, :89-91)
    dash_eof = is_dash & (remainder.str.len() == 1)
    early_accept |= dash_eof
    dash_cont = is_dash & ~dash_eof
    bad_nil = dash_cont & (remainder.str.get(1) != " ")
    err[bad_nil] = ERR_WRONG_SD_FORMAT  # "-x" (:176-181)
    alive = err.isna()
    sd_consumed[dash_cont & alive] = 2

    is_brkt = alive & (r0 == "[")
    bad_start = alive & ~is_dash & ~is_brkt & ~early_accept
    err[bad_start] = ERR_WRONG_SD_FORMAT  # must be NILVALUE or '[' (:192-194)
    alive = err.isna()

    # per-row sections below accumulate into plain numpy object arrays —
    # pandas .iloc setitem is ~80µs/call and dominates batch time otherwise
    err_np = err.to_numpy(dtype=object, copy=True)
    sd_np = np.full(n, None, dtype=object)
    sdc_np = sd_consumed.to_numpy(copy=True)

    if is_brkt.any():
        rem_list = remainder.tolist()
        for i in np.where(is_brkt.to_numpy())[0]:
            sds, consumed, sd_err = _parse_sd(rem_list[i])
            if sd_err is not None:
                err_np[i] = sd_err
            else:
                sd_np[i] = sds
                sdc_np[i] = consumed
    err = pd.Series(err_np, index=idx, dtype=object)
    structured_data = pd.Series(sd_np, index=idx, dtype=object)
    sd_consumed = pd.Series(sdc_np, index=idx)
    alive = err.isna()

    # ---- stages 7-8: BOM + framed body ------------------------------------
    # Byte accounting: r.len counts UTF-8 bytes consumed after the frame
    # prefix.  body starts sd_consumed chars into `remainder`.
    body_np = np.full(n, "", dtype=object)
    ok_rows = (alive & ~early_accept).to_numpy()
    if ok_rows.any():
        rem_list = remainder.tolist()
        for i in np.where(ok_rows)[0]:
            body_np[i] = rem_list[i][sdc_np[i]:]
    body = pd.Series(body_np, index=idx, dtype=object)

    after_frame_bytes = pd.to_numeric(rest.str.encode("utf-8").str.len(), errors="coerce").fillna(0)
    body_bytes_len = pd.to_numeric(body.str.encode("utf-8").str.len(), errors="coerce").fillna(0)
    r_len = after_frame_bytes - body_bytes_len  # bytes consumed pre-body

    # Peek(3) fails when fewer than 3 bytes remain → early accept with an
    # empty message, skipping reconciliation (rfc5424.go:89-91, :348-357)
    early_accept |= alive & ~early_accept & (body_bytes_len < 3)
    has_bom = (body.str.startswith(_BOM) & alive & ~early_accept).where(alive)

    md_len = (want - r_len).where(alive)
    neg = alive & ~early_accept & (md_len < 0)
    err[neg] = ERR_INVALID_LENGTH
    short = alive & ~early_accept & (body_bytes_len < md_len)
    err[short] = ERR_PREMATURE_EOF  # io.ReadFull UnexpectedEOF (:96-99)
    alive = err.isna()

    message_np = np.full(n, None, dtype=object)
    msglen_np = np.full(n, None, dtype=object)
    ea = (alive & early_accept).to_numpy()
    message_np[ea] = ""
    msglen_np[ea] = 0
    full = (alive & ~early_accept).to_numpy()
    if full.any():
        body_list = body.tolist()
        md = md_len.fillna(0).astype(int).to_numpy()
        bl = body_bytes_len.to_numpy()
        for i in np.where(full)[0]:
            if md[i] == bl[i]:  # frame exactly consumes the body (hot path)
                message_np[i] = body_list[i]
            else:
                raw = body_list[i].encode("utf-8")[: md[i]]
                message_np[i] = raw.decode("utf-8", errors="replace")
            msglen_np[i] = md[i]
    message = pd.Series(message_np, index=idx, dtype=object)
    msg_length = pd.Series(msglen_np, index=idx, dtype=object)

    out = pd.DataFrame(
        {
            "priority": priority.astype("Int32"),
            "facility": facility.astype("Int32"),
            "severity": severity.astype("Int32"),
            "proto_version": proto_version,
            "msg_ts": msg_ts,
            "host": host,
            "app": app,
            "pid": pid,
            "msgid": msgid,
            # mask err rows with numpy (Series.where(cond, None) can
            # silently degrade an all-null object column to float NaN,
            # which Arrow then rejects for the list type)
            "structured_data": pd.Series(
                np.where(err.isna().to_numpy(), sd_np, None),
                index=idx, dtype=object,
            ),
            "has_bom": has_bom.astype("boolean"),
            "message": pd.Series(
                np.where(err.isna().to_numpy(),
                         message.to_numpy(dtype=object), None),
                index=idx, dtype=object,
            ),
            "msg_length": pd.to_numeric(msg_length).astype("Int32"),
            "err_code": err,
        }
    )
    return out
