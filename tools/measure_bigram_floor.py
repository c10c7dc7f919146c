"""Measured floored-vs-unfloored tables for the two round-11 text
operators' frequency floors (VERDICT r11 #1) — the SCALE.md
§bigram-floor rows.

Two levers, same shape (drop low-support grams/terms before the
join/grid stage), measured in ONE session:

- ``text_bigram_logprob(min_count=...)``: KenLM-style prune of the
  bigram LM table.  Reported per variant: wall-clock (min over RUNS),
  LM rows surviving the floor, and top-20 stability vs the unpruned
  model (top-1 doc, overlap@20, max |delta avg_nll|).
- ``drift_vocab_js(support_floor=...)``: support floor on the shared
  vocabulary.  Reported per variant: wall-clock, support size, and
  per-source jsd deltas / drift-flag flips vs floor=1.

Protocol follows tools/measure_max_block.py: one warmed local[32]
session, min over RUNS runs per variant, artifact sizes counted once.

Tier note: the NATURAL heavy tier is generated from a ~40-word
template vocabulary (tools/gen_heavy_tier.py), so its bigram table has
NO hapax tail at 50k docs — every gram repeats thousands of times and
the floor is a measured no-op there (first rows below).  Real crawls
are the opposite (hapax-majority, Zipf), so — exactly like
measure_max_block's planted-skew tier — this tool PLANTS the tail:
the natural corpus plus one fresh 'webtail' source of TAIL_DOCS docs
whose tokens are doc-unique md5-derived hex words (deterministic, no
RNG).  Every planted bigram is hapax; the floor must cut the LM/
support artifact back to ~natural size while leaving the natural
documents' scores and drift verdicts intact.

Usage: python tools/measure_bigram_floor.py [heavy_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

RUNS = 3
BIGRAM_FLOORS = (1, 2, 5)
JS_FLOORS = (1, 5, 20)
TAIL_DOCS = 50_000     # planted hapax-tail docs (one per natural doc)
TAIL_TOKENS = 30       # tokens per planted doc, all doc-unique
TAIL_STRIDE = 10_000_000_000  # planted doc_id offset, clear of the tier's ids


def plant_tail(spark, heavy_dir: str, out_dir: str) -> str:
    """Write natural documents + a doc-unique-token 'webtail' source."""
    from pyspark.sql import functions as F

    from acled_spark.tables import load

    natural = load(spark, heavy_dir, "documents", spread=True)
    # token j of planted doc i = md5(i:j) hex — unique across the corpus
    # with overwhelming probability, so every planted bigram is hapax
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(TAIL_TOKENS)),
        lambda j: F.md5(F.concat_ws(":", F.col("id").cast("string"), j)),
    )
    text = F.array_join(toks, " ")
    tail = spark.range(TAIL_DOCS).select(
        (F.col("id") + TAIL_STRIDE).alias("doc_id"),
        text.alias("text"),
        F.lit("xx").alias("lang"),
        F.lit("webtail").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )
    (
        natural.unionByName(tail)
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    return out_dir


def measure_tier(spark, label: str, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from acled_spark.queries.text import (
        WS,
        drift_vocab_js,
        text_bigram_logprob,
        ws_trim,
    )
    from acled_spark.tables import load

    docs = load(spark, sf_dir, "documents", spread=True)
    print(f"\n==== tier: {label} ({docs.count()} docs) ====")

    # LM-table size per floor, counted once (the artifact the floor cuts)
    arr = F.split(F.lower(ws_trim(F.col("text"))), f"{WS}+")
    bg = (
        docs.filter(F.length(ws_trim(F.col("text"))) > 0)
        .select(arr.alias("arr"))
        .filter(F.size("arr") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(arr, 1, size(arr) - 1)").alias("w1"),
                    F.expr("slice(arr, 2, size(arr) - 1)").alias("w2"),
                )
            ).alias("b")
        )
        .groupBy("b.w1", "b.w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint()
    )
    lm_rows = {fl: bg.filter(F.col("c12") >= fl).count() for fl in BIGRAM_FLOORS}

    print("-- text_bigram_logprob(min_count) --")
    base_rows = None
    for fl in BIGRAM_FLOORS:
        best, rows = float("inf"), None
        for _ in range(RUNS):
            t0 = time.time()
            rows = text_bigram_logprob(spark, sf_dir, min_count=fl).collect()
            best = min(best, time.time() - t0)
        if fl == BIGRAM_FLOORS[0]:
            base_rows = rows
        base_ids = [r["doc_id"] for r in base_rows]
        ids = [r["doc_id"] for r in rows]
        overlap = len(set(base_ids) & set(ids))
        n_tail = sum(1 for d in ids if d >= TAIL_STRIDE)
        nll = {r["doc_id"]: r["avg_nll"] for r in rows}
        base_nll = {r["doc_id"]: r["avg_nll"] for r in base_rows}
        deltas = [abs(nll[d] - base_nll[d]) for d in set(base_ids) & set(ids)]
        print(
            f"min_count={fl}: {best:.2f}s  lm_rows={lm_rows[fl]}"
            f" ({lm_rows[fl] / lm_rows[1]:.2%} of unpruned)"
            f"  top1={'SAME' if ids[0] == base_ids[0] else 'MOVED'}"
            f"  overlap@20={overlap}  tail_in_top20={n_tail}"
            f"  max|d_nll|={max(deltas) if deltas else 0.0:.4f}"
        )

    print("-- drift_vocab_js(support_floor) --")
    tok = docs.filter(F.length(ws_trim(F.col("text"))) > 0).select(
        F.explode(F.split(F.lower(ws_trim(F.col("text"))), f"{WS}+")).alias("w")
    )
    wc = tok.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint()
    sup_rows = {fl: wc.filter(F.col("c") >= fl).count() for fl in JS_FLOORS}
    base = None
    for fl in JS_FLOORS:
        best, rows = float("inf"), None
        for _ in range(RUNS):
            t0 = time.time()
            rows = drift_vocab_js(spark, sf_dir, support_floor=fl).collect()
            best = min(best, time.time() - t0)
        if fl == JS_FLOORS[0]:
            base = {r["source"]: r for r in rows}
        cur = {r["source"]: r for r in rows}
        nat = [s for s in base if s != "webtail"]
        dj = [abs(cur[s]["jsd"] - base[s]["jsd"]) for s in nat]
        flips = sum(1 for s in nat if cur[s]["drifted"] != base[s]["drifted"])
        wt = cur.get("webtail")
        wt_s = (
            f"  webtail: jsd={wt['jsd']} drifted={wt['drifted']}"
            if wt is not None
            else ""
        )
        print(
            f"support_floor={fl}: {best:.2f}s  support={sup_rows[fl]}"
            f" ({sup_rows[fl] / sup_rows[1]:.2%} of full vocab)"
            f"  natural max|d_jsd|={max(dj):.4f}  natural_flag_flips={flips}"
            f"{wt_s}"
        )


def main() -> int:
    from pyspark.sql import SparkSession

    heavy = sys.argv[1] if len(sys.argv) > 1 else ".benchdata/sf1"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("measure-bigram-floor")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    measure_tier(spark, "natural sf1 (no hapax tail — floor is a no-op)", heavy)
    planted = plant_tail(spark, heavy, os.path.join(os.path.dirname(heavy), "sf1_tail"))
    measure_tier(spark, "planted hapax tail (natural + 50k webtail docs)", planted)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
