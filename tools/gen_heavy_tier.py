"""Generate the sf1.0 heavy-tier bench slice of documents/embeddings
(VERDICT r3 #6): 10x the sf0.1 corpus, deterministically derived from
it (seeded, reproducible) into .benchdata/sf1 — NOT driver testdata,
never an oracle input; its only job is a second measured point for the
scale arguments in SCALE.md where fixed job overhead no longer
dominates.

Derivation (copy k = 0..9 of every row):
- documents: doc_id' = doc_id + k*100_000_000; k=0 keeps the original
  text, k>0 swaps in a deterministic variant token — so every document
  gains 9 near-duplicates (jaccard ~0.9+), the shape of a pre-dedup
  web crawl, which is exactly the workload the dedup family exists for.
- embeddings: vec_id' likewise; k>0 embeddings get a small
  deterministic per-dimension perturbation (seeded by vec_id', dim) so
  the ANN corpus grows 10x with realistic near-neighbor structure.
Remaining tables are symlinked from sf0.1 so every loader resolves.

Usage: python tools/gen_heavy_tier.py [out_dir]   (default .benchdata/sf1)
"""

from __future__ import annotations

import os
import sys

# runnable as `python tools/gen_heavy_tier.py` from the repo root:
# python puts tools/ (the script dir) on sys.path, not the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COPIES = 10
ID_STRIDE = 100_000_000
SF01 = "/root/testdata/sf0.1"


def main(out_dir: str = ".benchdata/sf1") -> None:
    from pyspark.sql import functions as F

    from acled_spark.session import get_spark
    from acled_spark.tables import load

    spark = get_spark(app_name="gen-heavy-tier")
    os.makedirs(out_dir, exist_ok=True)

    k = F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("k")

    docs = load(spark, SF01, "documents", spread=True).select("*", k)
    # k>0: replace the last word with a per-copy variant token — one
    # shingle's worth of difference, everything else shared
    mutated = F.when(F.col("k") == 0, F.col("text")).otherwise(
        F.concat(
            F.regexp_replace(F.col("text"), r"\s+\S+$", ""),
            F.concat(F.lit(" variant"), F.col("k").cast("string")),
        )
    )
    (
        docs.select(
            (F.col("doc_id") + F.col("k").cast("long") * ID_STRIDE).alias("doc_id"),
            mutated.alias("text"),
            "lang",
            "source",
            F.length(mutated).cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )

    emb = load(spark, SF01, "embeddings").select("*", k)
    # deterministic per-dim perturbation ~N(0, 0.02) via hashed uniforms
    # (Box-Muller-free: sum of two centered uniforms is close enough for
    # jitter); identical for a given (vec_id, k, dim) on every run
    def jitter(x, i):
        u1 = (
            F.pmod(F.xxhash64(F.col("vec_id"), F.col("k"), i), F.lit(10_000)).cast(
                "double"
            )
            / 10_000.0
        )
        u2 = (
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.col("k"), i, F.lit(1)), F.lit(10_000)
            ).cast("double")
            / 10_000.0
        )
        return (x.cast("double") + (u1 + u2 - 1.0) * F.lit(0.04)).cast("float")

    perturbed = F.when(F.col("k") == 0, F.col("embedding")).otherwise(
        F.transform(F.col("embedding"), jitter)
    )
    (
        emb.select(
            (F.col("vec_id") + F.col("k").cast("long") * ID_STRIDE).alias("vec_id"),
            perturbed.alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )

    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ):
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF01, f"{t}.parquet"), dst)
    print(f"wrote {out_dir}: documents x{COPIES}, embeddings x{COPIES}")


if __name__ == "__main__":
    main(*sys.argv[1:])
