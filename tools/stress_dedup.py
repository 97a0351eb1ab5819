"""Mega-bucket stress evidence: the 100 TB failure mode, reproduced.

Synthesizes a template-heavy corpus (three boilerplate clusters of
identical docs far above ``dedup.BUCKET_PAIR_CAP``, plus unique filler) and
drives the dedup family through the paths that only engage at scale:

* ``lsh_bucket_stats`` — confirms mega buckets exist (membership ≫ cap);
* ``minhash_lsh_jaccard_pairs`` — chain fallback + salted sub-groups
  (per-group residency ≤ CHAIN_GROUP_ROWS arrays, VERDICT r3 #3);
* ``dedup_clusters`` — star alternation over the resulting path graphs
  (diameter = cluster size, the case that silently broke r3's
  min-label propagation at max_iters=30);
* ``simhash_near_dup_pairs`` with ``bucket_member_cap`` — chain-mode
  verify on identical-fingerprint buckets.

Checks are hard asserts (connectivity, canonical labels, pair counts),
not just timings.  Writes one JSON line; run:
    python tools/stress_dedup.py [n_per_cluster] [n_unique]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_cluster = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_unique = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000

    from pyspark.sql import functions as F

    from go_parsesyslog_spark.operators.dedup import (
        dedup_clusters,
        lsh_bucket_stats,
        minhash_lsh_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from go_parsesyslog_spark.session import get_spark

    spark = get_spark(app_name="gps_stress")
    out: dict = {"n_cluster": n_cluster, "n_clusters": 3,
                 "n_unique": n_unique}

    templates = [
        "the server restarted because of a watchdog timeout in module alpha",
        "user session expired after thirty minutes of idle time period",
        "payment processing completed successfully for order with reference",
    ]
    # three boilerplate clusters of IDENTICAL docs (ids interleaved so
    # sorted-id chains span the whole id range) + unique filler docs
    base = spark.range(3 * n_cluster).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in templates]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("text"),
    )
    filler = spark.range(3 * n_cluster, 3 * n_cluster + n_unique).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique document number "), F.col("id").cast("string"),
            F.lit(" with entirely distinct content words "),
            F.md5(F.col("id").cast("string")),
        ).alias("text"),
    )
    docs = base.unionByName(filler).repartition(64).localCheckpoint()

    t0 = time.time()
    stats = (
        lsh_bucket_stats(docs)
        .agg(F.max("n_docs").alias("mx"),
             F.sum((F.col("n_docs") > 4096).cast("long")).alias("n_mega"))
        .collect()[0]
    )
    out["bucket_stats_s"] = round(time.time() - t0, 1)
    out["max_bucket"] = int(stats["mx"])
    out["mega_buckets"] = int(stats["n_mega"])
    assert stats["mx"] >= n_cluster, "expected mega buckets"

    t0 = time.time()
    pairs = minhash_lsh_jaccard_pairs(docs, threshold=(9, 10))
    pairs = pairs.localCheckpoint()
    n_pairs = pairs.count()
    out["verified_pairs"] = n_pairs
    out["jaccard_pairs_s"] = round(time.time() - t0, 1)
    # chain mode: each cluster contributes exactly (n_cluster-1) sorted-
    # adjacent edges (identical docs, J=1), dedup'd across bands
    assert n_pairs == 3 * (n_cluster - 1), n_pairs

    t0 = time.time()
    clusters = dedup_clusters(docs, pairs).localCheckpoint()
    out["clusters_s"] = round(time.time() - t0, 1)
    canon = (
        clusters.groupBy("canonical_id").count()
        .orderBy(F.desc("count")).limit(5).collect()
    )
    out["top_clusters"] = [(int(r["canonical_id"]), int(r["count"]))
                           for r in canon]
    # every boilerplate doc must label to its cluster min (0, 1, 2 —
    # ids interleave mod 3); singleton fillers label themselves
    assert {(c, n) for c, n in out["top_clusters"][:3]} == {
        (0, n_cluster), (1, n_cluster), (2, n_cluster)
    }, out["top_clusters"]
    n_singletons = clusters.filter(
        F.col("doc_id") == F.col("canonical_id")
    ).count()
    assert n_singletons == n_unique + 3, n_singletons

    t0 = time.time()
    sh = simhash_near_dup_pairs(docs, bucket_member_cap=4096).count()
    out["simhash_capped_pairs"] = int(sh)
    out["simhash_s"] = round(time.time() - t0, 1)
    assert sh >= 3 * (n_cluster - 1), sh

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
