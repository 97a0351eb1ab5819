"""Deterministic synthetic transcript-table generator (FIXTURES.md §1).

Schema per BASELINE.json ``input_hint``:
``conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp`` — one row = one turn = one wire-format syslog message in
``text``.

Deterministic by construction: everything derives from the row index
and the seed; timestamps derive from a fixed base (never wall clock).
Mix: ~60% RFC3164 lines, ~30% octet-framed RFC5424, ~10% reference
corpus lines injected verbatim (including all invalid lines → DLQ).

Skew knob: the first ``hot_frac`` of conversations own ``hot_share`` of
all rows (default 1% of convs → 30% of rows) to exercise skew in the
fan-out write.

The generator is vectorized pandas/numpy and writes plain parquet (the
Iceberg runtime jars are not in this container; the layout and write
API are Iceberg-shaped — partitioned dirs + atomic per-chunk commits in
the pipeline layer).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BASE_TS = pd.Timestamp("2025-10-21 15:30:00")  # FIXTURES.md §1
REF_NOW = BASE_TS  # year-inference anchor for RFC3164 lines

ROLES = np.array(["system", "user", "assistant", "tool"])
TOOLS = np.array(["bash", "search", "browser", "editor", "none",
                  "python", "fetch", "db"])
_HOSTS = np.array([f"host-{i:02d}" for i in range(50)])
_APPS = np.array([f"app{i}" for i in range(12)])
_MONTH_DAYS = [f"Oct {d:2d}" for d in range(1, 21)]  # within 31d of REF_NOW


def _corpus_lines() -> list[str]:
    from go_parsesyslog_spark.corpus import (
        RFC3164_CASES,
        RFC5424_INVALID,
        RFC5424_VALID,
    )

    return (
        [c[1] for c in RFC3164_CASES] + RFC5424_VALID + RFC5424_INVALID
    )


def generate_transcripts(
    n_rows: int,
    seed: int = 42,
    n_convs: int | None = None,
    hot_frac: float = 0.01,
    hot_share: float = 0.30,
    corpus_frac: float = 0.10,
) -> pd.DataFrame:
    """Build the transcript table as a pandas DataFrame."""
    rng = np.random.default_rng(seed)
    n_convs = n_convs or max(10, n_rows // 20)
    n_hot = max(1, int(n_convs * hot_frac))

    i = np.arange(n_rows, dtype=np.int64)

    # --- conversation assignment with skew ------------------------------
    is_hot_row = rng.random(n_rows) < hot_share
    conv_num = np.where(
        is_hot_row,
        rng.integers(0, n_hot, n_rows),
        n_hot + rng.integers(0, max(1, n_convs - n_hot), n_rows),
    )
    conv_id = pd.Series(conv_num).map(lambda k: f"conv-{k:08d}")

    role = pd.Series(ROLES[rng.integers(0, len(ROLES), n_rows)])
    tool = pd.Series(TOOLS[rng.integers(0, len(TOOLS), n_rows)])
    # event times bounded to a 2-week window so windowed-aggregate
    # cardinality stays O(windows × sinks) at any row count
    ts = BASE_TS - pd.to_timedelta((n_rows - i) * 3 % 1_209_600, unit="s")

    # --- wire-format text -------------------------------------------------
    pri = (i * 37) % 192
    host = pd.Series(_HOSTS[(i * 13) % len(_HOSTS)])
    appn = pd.Series(_APPS[(i * 7) % len(_APPS)])
    pidv = (i % 32000).astype(str)
    day = pd.Series([_MONTH_DAYS[int(x)] for x in (i % len(_MONTH_DAYS))])
    hh = (i % 14).astype(np.int64)  # keep < REF_NOW hour margin
    mi = (i * 11) % 60
    ss = (i * 29) % 60
    hms = (
        pd.Series(hh).map("{:02d}".format)
        + ":" + pd.Series(mi).map("{:02d}".format)
        + ":" + pd.Series(ss).map("{:02d}".format)
    )
    payload = (
        "turn " + pd.Series(i).astype(str) + " of " + conv_id
        + " status=ok latency=" + pd.Series((i * 17) % 900).astype(str) + "ms"
    )

    line3164 = (
        "<" + pd.Series(pri).astype(str) + ">" + day + " " + hms + " "
        + host + " " + appn + "[" + pidv + "]: " + payload
    )

    iso = (
        "2025-10-" + pd.Series(1 + (i % 20)).map("{:02d}".format)
        + "T" + hms + "Z"
    )
    content5424 = (
        "<" + pd.Series(pri).astype(str) + ">1 " + iso + " " + host + " "
        + appn + " " + pidv + " ID" + pd.Series(i % 97).astype(str)
        + ' [graft@1 seq="' + pd.Series(i).astype(str) + '" tool="'
        + tool + '"] ' + payload
    )
    blen = content5424.str.encode("utf-8").str.len().astype(str)
    line5424 = blen + " " + content5424

    corpus = _corpus_lines()
    bucket = i % 100
    use_corpus = bucket < int(corpus_frac * 100)
    use_5424 = (bucket >= int(corpus_frac * 100)) & (bucket < int(corpus_frac * 100) + 30)
    corpus_pick = pd.Series([corpus[int(x)] for x in (i % len(corpus))])
    text = line3164.where(~use_5424, line5424).where(~use_corpus, corpus_pick)

    df = pd.DataFrame(
        {
            "conv_id": conv_id,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )
    # dense, unique, stable turn index within each conversation
    df["turn_idx"] = df.groupby("conv_id").cumcount().astype(np.int32)
    return df[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


def write_transcripts_parquet(
    path: str,
    n_rows: int,
    seed: int = 42,
    chunk_rows: int = 500_000,
    **kwargs,
) -> int:
    """Write the transcript table to parquet in deterministic chunks
    (bounded memory for large n_rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    os.makedirs(path, exist_ok=True)
    written = 0
    part = 0
    while written < n_rows:
        take = min(chunk_rows, n_rows - written)
        # chunk-local determinism: seed offset by part index
        pdf = generate_transcripts(take, seed=seed + part * 1_000_003, **kwargs)
        pdf["conv_id"] = pdf["conv_id"].str.replace(
            "conv-", f"conv-{part:03d}-", regex=False
        )
        # Spark's parquet reader rejects TIMESTAMP(NANOS) — write µs.
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
        written += take
        part += 1
    return written
