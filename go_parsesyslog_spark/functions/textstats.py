"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

Everything except language ID is pure Catalyst column expressions
(codegen'd, zero Python).  Language ID is a character-n-gram/stopword
heuristic as a vectorized pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tiny per-language marker sets (function words + diacritics) — a
# deterministic n-gram heuristic in the fastText spirit, not a model.
_LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to ", " is ", " in "],
    "de": [" der ", " die ", " und ", " ist ", " nicht ", "ä", "ö", "ü", "ß"],
    "fr": [" le ", " la ", " et ", " est ", " les ", " une ", "é", "è", "ç"],
    "es": [" el ", " la ", " que ", " los ", " es ", " una ", "ñ", "¿", "¡"],
    "zh": [],  # handled by the CJK codepoint-range rule below
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: words, numbers, and punctuation runs
    counted separately (a cheap BPE proxy: GPT-style pre-tokenizer
    regex, counted not materialized)."""
    return F.size(
        F.regexp_extract_all(
            text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
        )
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach length / punctuation / stopword-ratio quality features."""
    t = F.col(text_col)
    toks = token_count(t)
    stop_hits = F.size(
        F.regexp_extract_all(t, F.lit(r"\b(the|a|and|of|to|is|in)\b"), F.lit(0))
    )
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    digits = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    return df.withColumns(
        {
            "n_tokens": toks.cast("long"),
            "n_chars_measured": F.length(t).cast("long"),
            "mean_token_len": F.round(
                F.length(F.regexp_replace(t, r"\s+", ""))
                / F.greatest(toks, F.lit(1)),
                4,
            ),
            "stopword_ratio": F.round(
                stop_hits / F.greatest(toks, F.lit(1)), 4
            ),
            "punct_ratio": F.round(
                punct / F.greatest(F.length(t), F.lit(1)), 4
            ),
            "digit_ratio": F.round(
                digits / F.greatest(F.length(t), F.lit(1)), 4
            ),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-1 quality score + keep/drop flag (heuristics in the
    C4/Gopher-rules spirit, deterministic)."""
    out = quality_features(df, text_col)
    score = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .when(F.col("mean_token_len") < 2, 0.2)
        .when(F.col("punct_ratio") > 0.3, 0.3)
        .when(F.col("digit_ratio") > 0.5, 0.3)
        .otherwise(
            F.least(
                F.lit(1.0),
                F.lit(0.5)
                + F.col("stopword_ratio") * 2
                + F.least(F.col("n_tokens") / 1000, F.lit(0.2)),
            )
        )
    )
    return out.withColumn("quality_score", F.round(score, 4)).withColumn(
        "quality_keep", F.col("quality_score") >= 0.5
    )


def language_id_udf():
    """Vectorized pandas UDF: text → predicted lang code
    {en,de,fr,es,zh,unknown} via marker-hit counting + CJK ratio."""

    @F.pandas_udf(T.StringType())
    def lang_udf(texts: pd.Series) -> pd.Series:
        t = texts.fillna("").str.lower()
        padded = " " + t + " "
        n = len(t)
        scores = np.zeros((n, 4), dtype=np.int64)
        langs = ["en", "de", "fr", "es"]
        for j, lang in enumerate(langs):
            for marker in _LANG_MARKERS[lang]:
                scores[:, j] += padded.str.count(marker, flags=0).to_numpy()
        # CJK: fraction of codepoints in the unified ideograph block
        cjk = t.str.count(r"[一-鿿]").to_numpy()
        total = t.str.len().clip(lower=1).to_numpy()
        best = scores.argmax(axis=1)
        best_score = scores.max(axis=1)
        out = np.where(
            cjk / total > 0.05,
            "zh",
            np.where(best_score > 0, np.array(langs, dtype=object)[best],
                     "unknown"),
        )
        return pd.Series(out.astype(object))

    return lang_udf


def with_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", language_id_udf()(F.col(text_col)))
