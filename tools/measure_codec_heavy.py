"""Measure unbounded codec throughput at the bench tier vs the heavy
tier (SCALE.md §codec-heavy).

The registered mm_decode_* queries LIMIT their doc set — that bounds
the DRIVER check, not the operator.  This tool times the UNBOUNDED
face: one mapInPandas pass over EVERY document, per codec
(BMP / PNG / JPEG), encoding a fixed-geometry image from the doc's
text and decoding it back — the narrow-map shape the 100-TB argument
rests on.  Fixed image size means per-doc work is constant, so
wall-clock should scale ~linearly with corpus size and the signal is
the sf1/sf0.1 ratio (10x docs).

Usage: python tools/measure_codec_heavy.py [--passes 3]
Heavy tier is generated by tools/gen_heavy_tier.py into
.benchdata/sf1 if missing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

W, H = 16, 12  # fixed geometry: per-doc decode work is corpus-independent


def run_codec(spark, sf_dir: str, codec: str) -> tuple[int, float]:
    """(n_docs, wall_s) for one encode+decode pass over all documents."""
    from pyspark.sql import functions as F

    from acled_spark.tables import load

    docs = (
        load(spark, sf_dir, "documents", spread=True)
        .filter(
            F.col("text").isNotNull()
            & (F.octet_length(F.encode(F.col("text"), "UTF-8")) > 0)
        )
        .select("doc_id", "text")
        # measurement scaffolding, not operator shape: sf0.1 documents
        # is ONE parquet file (1 scan task) while sf1 is ten, so the
        # raw ratio conflates decode cost with scan parallelism —
        # equalize task count so the ratio isolates per-doc work
        .repartition(64)
    )

    def run(batches):
        import pandas as pd

        from acled_spark.jpeg import encode_jpeg
        from acled_spark.multimodal import (
            decode_image_pixels,
            encode_bmp,
            encode_png,
        )

        need = W * H * 3
        for pdf in batches:
            n, tot = 0, 0
            for text in pdf["text"]:
                tb = text.encode("utf-8")
                pix = (tb * (need // len(tb) + 1))[:need]
                if codec == "bmp":
                    payload = encode_bmp(pix, W, H)
                elif codec == "png":
                    payload = encode_png(pix, W, H, filter_type=4)
                else:
                    payload = encode_jpeg(pix, W, H, quality=95)
                _, _, dec = decode_image_pixels(payload)
                n += 1
                tot += len(dec)
            yield pd.DataFrame({"n": [n], "total_bytes": [tot]})

    t0 = time.time()
    rows = docs.mapInPandas(run, "n long, total_bytes long").collect()
    wall = time.time() - t0
    n = sum(r["n"] for r in rows)
    assert all(r["total_bytes"] == r["n"] * W * H * 3 for r in rows)
    return n, wall


def main() -> None:
    passes = 3
    if "--passes" in sys.argv:
        passes = int(sys.argv[sys.argv.index("--passes") + 1])

    heavy = ".benchdata/sf1"
    if not os.path.isdir(heavy):
        print("generating heavy tier ...", flush=True)
        import tools.gen_heavy_tier as g

        g.main(heavy)

    from acled_spark.session import get_spark

    spark = get_spark(app_name="codec-heavy")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[tuple[str, str], tuple[int, float]] = {}
    for tier, sf in (("sf0.1", "/root/testdata/sf0.1"), ("sf1.0", heavy)):
        for codec in ("bmp", "png", "jpeg"):
            best = None
            n = 0
            for _ in range(passes):
                n, wall = run_codec(spark, sf, codec)
                best = wall if best is None else min(best, wall)
            results[(tier, codec)] = (n, best)
            print(
                f"{tier} {codec}: {n} docs in {best:.2f}s "
                f"(min of {passes}) = {n / best:,.0f} docs/s",
                flush=True,
            )
    for codec in ("bmp", "png", "jpeg"):
        n0, t0 = results[("sf0.1", codec)]
        n1, t1 = results[("sf1.0", codec)]
        print(
            f"{codec}: {n1 / n0:.1f}x docs -> {t1 / t0:.2f}x wall "
            f"({n0 / t0:,.0f} -> {n1 / t1:,.0f} docs/s)"
        )


if __name__ == "__main__":
    main()
