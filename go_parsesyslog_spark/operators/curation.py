"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup/similarity: benchmark decontamination, token-budgeted shard
packing, and stratified (per-stratum rate) sampling.

All three are pure Catalyst column expressions / DataFrame ops — no
Python in the hot path — and each is driver-gated with a DuckDB oracle
(__spark_entry__.py).  Reference parity note: the reference
(go-parsesyslog) has no corpus operators; these extend the graft's
training-pipeline surface per the build brief (SURVEY.md §2 Table B
"beyond-reference ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _char_ngrams(text_col: str, n: int):
    """array of all distinct character n-grams of a column (JVM-side:
    sequence → transform → substring; same shape ngram_jaccard uses)."""
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {n - 1}, 1)), "
        f"i -> substring({text_col}, i, {n})))"
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one character ``n``-gram with any benchmark/eval document
    (the GPT-3-style 13-gram overlap rule, chars standing in for
    tokens).  Returns (id, n_contaminated_grams) for flagged docs only —
    anti-join against this to decontaminate.

    Scale shape: the benchmark gram set is ``array_distinct``-ed per doc
    then globally distinct (eval sets are small — thousands of docs —
    so it broadcasts).  The corpus side
    explodes to (id, gram) rows ONCE and the join is a narrow hash
    probe per gram; aggregation back to the doc is a map-side-combinable
    count on the id key.  No text ever crosses the shuffle — only grams
    that actually hit."""
    bench_grams = F.broadcast(
        benchmark.select(
            F.explode(_char_ngrams(text_col, n)).alias("gram")
        ).distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), F.explode(_char_ngrams(text_col, n)).alias("gram")
    )
    return (
        doc_grams.join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_grams"))
    )


def pack_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_capacity: int = 1_000_000,
    bucket_width: int = 1_000_000,
) -> DataFrame:
    """Token-budgeted shard assignment: documents in ``id_col`` order are
    packed into consecutive shards of ``shard_capacity`` tokens —
    ``shard_idx = floor(exclusive_running_token_sum / capacity)`` (the
    deterministic greedy packing a pretraining data loader consumes).

    The running sum is a DISTRIBUTED two-phase prefix sum, not a global
    window: a single ``sum() OVER (ORDER BY id)`` puts the entire corpus
    through ONE partition (the classic 100 TB window killer).  Instead:

      1. each doc lands in an id-range bucket (``floor(id /
         bucket_width)`` — order-preserving by construction);
      2. per-bucket token totals aggregate map-side → a tiny
         (n_buckets)-row frame whose exclusive cumsum IS safe to window
         (one row per bucket: 10¹² docs / 10⁶ width → 10⁶ rows);
      3. bucket offsets broadcast-join back; the per-doc cumsum windows
         only WITHIN its bucket (partitionBy bucket → parallel), plus
         the bucket offset.

    Output: (id, tokens, shard_idx).  Identical to the single-window
    SQL formulation (the DuckDB oracle) for any bucket_width."""
    toks = docs.select(
        F.col(id_col), F.col(tokens_col).cast("long").alias("_tok"),
        F.floor(F.col(id_col) / bucket_width).alias("_bkt"),
    )
    w_b = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        toks.groupBy("_bkt").agg(F.sum("_tok").alias("_bsum"))
        .withColumn("_off", F.sum("_bsum").over(w_b) - F.col("_bsum"))
        .select("_bkt", "_off")
    )
    w_in = (
        Window.partitionBy("_bkt").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    excl = F.sum("_tok").over(w_in) - F.col("_tok") + F.col("_off")
    return (
        toks.join(F.broadcast(offsets), "_bkt")
        .withColumn("shard_idx", F.floor(excl / shard_capacity))
        .select(
            F.col(id_col),
            F.col("_tok").alias(tokens_col),
            F.col("shard_idx").cast("long").alias("shard_idx"),
        )
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    rate_denominator: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the mixing-weights
    operator of a training-data pipeline (e.g. keep 100% of books, 10%
    of CommonCrawl).  A row survives iff its md5-prefix bucket (of the
    row ID — engine-agnostic arithmetic, the train_val_split trick, so
    DuckDB replays it bit-for-bit) falls under its stratum's rate.
    Strata absent from ``fractions`` get ``default_fraction``.

    Pure projection + filter: no shuffle, no RNG (stable across runs,
    partitionings, and engines), trivially pushed past into the scan."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("long") % rate_denominator
    )
    rate = F.lit(int(default_fraction * rate_denominator))
    for k, v in sorted(fractions.items()):
        rate = F.when(
            F.col(strata_col) == k, F.lit(int(v * rate_denominator))
        ).otherwise(rate)
    return df.filter(bucket < rate)


def upsample_sources(
    docs: DataFrame,
    factors: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    rate_denominator: int = 10_000,
) -> DataFrame:
    """Fractional per-stratum upsampling — the epoch-mixing operator
    (e.g. repeat books 2.5x, CommonCrawl 1x): every row emits
    ``floor(f)`` copies plus one more iff its md5-prefix bucket falls
    under ``frac(f)`` — the same engine-agnostic arithmetic as
    stratified_sample, so the EXACT copy multiset is deterministic
    across runs, partitionings, and engines (no RNG).  Strata absent
    from ``factors`` keep factor 1.0.

    Output = input columns + ``copy_idx`` (0-based).  Narrow plan:
    one sequence+explode per row, no shuffle; output size =
    Σ f_s·|stratum| by construction."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("long") % rate_denominator
    )
    whole = F.lit(1)
    frac = F.lit(0)
    for k, v in sorted(factors.items()):
        if v < 0:
            raise ValueError(f"negative factor for {k!r}: {v}")
        whole = F.when(F.col(strata_col) == k, F.lit(int(v))).otherwise(whole)
        frac = F.when(
            F.col(strata_col) == k,
            F.lit(int(round((v - int(v)) * rate_denominator))),
        ).otherwise(frac)
    n_copies = whole + F.when(bucket < frac, 1).otherwise(0)
    # sequence(0, -1) would DESCEND ([0, -1]) — a factor of 0 (drop the
    # stratum) must yield an empty array, not two phantom copies
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return docs.withColumn("copy_idx", F.explode(copies))


def deterministic_shuffle(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order assignment: every row gets
    (shard_idx, pos_in_shard) from the md5 of its id — a reproducible
    'shuffle' that is identical across runs, cluster sizes, and
    engines, unlike orderBy(rand()).

    Scale shape: NO global sort.  The md5 prefix picks the shard
    (uniform by construction); the position is a row_number window
    PARTITIONED by shard, ordered by (full hash, id) — n_shards
    parallel sorts of |corpus|/n_shards rows each, not one corpus-wide
    range sort.  Reading shards in index order then rows in position
    order replays one fixed global permutation."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.md5(F.col(id_col).cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    )
    w = Window.partitionBy("shard_idx").orderBy("_h", id_col)
    return (
        docs.withColumn("_h", h)
        .withColumn("shard_idx", shard)
        .withColumn(
            "pos_in_shard", (F.row_number().over(w) - 1).cast("long")
        )
        .drop("_h")
    )


def chunk_documents(
    docs: DataFrame,
    size: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-size character chunks — the context-window
    packing step of a training pipeline (size=window, stride<size gives
    overlap).  Chunk starts are 1-based positions 1, 1+stride, ... up
    to length(text) inclusive (so a doc always yields >=1 chunk and the
    tail is never dropped); each chunk is substring(text, start, size),
    length-capped at end of doc.

    Emits (id, chunk_idx, chunk_start, chunk_len, chunk_md5) — a
    digest, not the chunk text, so output stays proportional to chunk
    COUNT.  Purely narrow (sequence -> posexplode -> substring, no
    exchange): each input partition expands locally, the shape that
    scales linearly to 10^12 docs.  DuckDB replays it with a lateral
    generate_series over the same arithmetic."""
    starts = F.sequence(F.lit(1), F.greatest(F.length(text_col), F.lit(1)),
                        F.lit(stride))
    chunk = F.substring(F.col(text_col), F.col("_start"), size)
    return (
        docs.select(F.col(id_col), F.col(text_col),
                    F.explode(starts).alias("_start"))
        .select(
            F.col(id_col),
            ((F.col("_start") - 1) / stride).cast("long").alias("chunk_idx"),
            F.col("_start").cast("long").alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


def contrastive_negatives(
    df: DataFrame,
    group_col: str,
    label_col: str,
    positive_value,
    k: int,
    id_col: str,
) -> DataFrame:
    """Deterministic hard-negative sampling for contrastive training
    pairs: for every group that contains at least one positive row
    (``label_col == positive_value``), emit the ``k`` non-positive rows
    with the smallest ``md5(group || ':' || id)`` — a seeded "random"
    draw that is identical across runs, partitionings, and engines
    (the md5-bucket discipline train_val_split already uses; never
    ``orderBy(rand())``, which reshuffles every run).

    Plan: ONE shuffle on the group key — the positive-presence flag is
    a window max over the same partitioning the ranking window needs,
    so Catalyst plans both windows back-to-back on a single exchange,
    and Spark's rank-limit pushdown (WindowGroupLimit, plan-pinned in
    tests) truncates each group to k rows before the ranking window
    materializes.  Residual hot-group cost: the presence flag forces
    whole-group residency, so one pathologically hot group pays a
    single-task spillable sort (O(g log g) CPU, no memory blowup) —
    the same hot-conversation profile route.py salts; salt upstream if
    one group owns a double-digit share of the corpus.

    Output: (group, neg_id BIGINT, draw_rank INT) — ``draw_rank`` is
    the 1-based position in the md5 order, so downstream can take any
    prefix without resampling."""
    w = Window.partitionBy(group_col)
    draw = F.md5(F.concat_ws(":", F.col(group_col), F.col(id_col)))
    wrank = Window.partitionBy(group_col).orderBy(draw, F.col(id_col))
    has_pos = F.max(
        F.when(F.col(label_col) == positive_value, 1).otherwise(0)
    ).over(w)
    return (
        df.withColumn("_has_pos", has_pos)
        .filter((F.col("_has_pos") == 1)
                & (F.col(label_col) != positive_value))
        .withColumn("draw_rank", F.row_number().over(wrank))
        .filter(F.col("draw_rank") <= k)
        .select(
            F.col(group_col),
            F.col(id_col).cast("long").alias("neg_id"),
            F.col("draw_rank").cast("int").alias("draw_rank"),
        )
    )
