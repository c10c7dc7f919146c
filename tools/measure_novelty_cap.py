"""Measured capped-vs-uncapped table for dedup_ngram_novelty's
``max_doc_freq`` lever — the SCALE.md §novelty-cap rows.

Protocol mirrors tools/measure_bigram_floor.py: warmed local[32]
session, min over RUNS per variant, artifact sizes counted once, on
BOTH the natural sf1 heavy tier and the planted hapax-tail tier the
floor tool writes (natural + 50k doc-unique-token 'webtail' docs —
run tools/measure_bigram_floor.py first if .benchdata/sf1_tail is
missing).

Usage: python tools/measure_novelty_cap.py [heavy_dir] [tail_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

RUNS = 3
CAPS = (None, 1000, 10)


def measure(spark, label, sf_dir):
    from pyspark.sql import functions as F

    from acled_spark.queries.dedup import dedup_ngram_novelty, shingles_spark
    from acled_spark.tables import load

    docs = load(spark, sf_dir, "documents", spread=True)
    print(f"\n==== tier: {label} ({docs.count()} docs) ====")
    df_per_gram = (
        docs.select(F.explode(shingles_spark(F.col("text"))).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("df"))
        .localCheckpoint()
    )
    sizes = {
        cap: (
            df_per_gram.filter(F.col("df") <= cap).count()
            if cap is not None
            else df_per_gram.count()
        )
        for cap in CAPS
    }
    base_ids = None
    for cap in CAPS:
        best, rows = float("inf"), None
        for _ in range(RUNS):
            t0 = time.time()
            rows = dedup_ngram_novelty(spark, sf_dir, max_doc_freq=cap).collect()
            best = min(best, time.time() - t0)
        ids = [r["doc_id"] for r in rows]
        if cap is None:
            base_ids = ids
        overlap = len(set(ids) & set(base_ids))
        print(
            f"max_doc_freq={cap}: {best:.2f}s"
            f"  first_seen_rows={sizes[cap]}"
            f" ({sizes[cap] / sizes[None]:.2%})"
            f"  overlap@20_vs_uncapped={overlap}"
        )


def main() -> int:
    from pyspark.sql import SparkSession

    heavy = sys.argv[1] if len(sys.argv) > 1 else ".benchdata/sf1"
    tail = sys.argv[2] if len(sys.argv) > 2 else ".benchdata/sf1_tail"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("measure-novelty-cap")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    measure(spark, "natural sf1", heavy)
    measure(spark, "planted hapax tail", tail)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
