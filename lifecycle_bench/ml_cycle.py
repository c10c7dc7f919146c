"""The ML lifecycle (SURVEY §3.2) at a minimal budget, for traced runs.

Reads the silver table an ``ingest_daily`` pass wrote and holds out its
last day.  Features: out-of-fold target encoding of admin2, admin3,
actor1 and actor2; ``label_encode_fit``/``label_encode_transform`` of
interaction and admin1 (through ``build_feature_pipeline`` the GBT fit
fails on interaction's 81 classes, over maxBins 32); and
``add_distance_from_center``.  Then ``ml.train.train_regressor`` at
``CANDIDATES`` x ``FOLDS`` and ``ml.score.score`` + ``error_analysis`` on
the held-out day.  A traced ``ingest_daily`` run makes one such cycle
after its timed phase, so the ``ml.*`` layers are measured; it is not
part of any untraced run.
"""

from __future__ import annotations

import itertools
import math

from pyspark.ml import Pipeline
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import functions as F

from acled_spark.ml import features as FE
from acled_spark.ml.score import error_analysis, score
from acled_spark.ml.train import sample_param_combos, train_regressor
from acled_spark.schema import PARTITION_COL, PRIMARY_KEY

CANDIDATES, FOLDS = 1, 2
ENCODE_FOLDS = 3
TARGET = "fatalities"
TE_COLS = ("admin2", "admin3", "actor1", "actor2")
LE_COLS = ("interaction", "admin1")


def param_seed() -> int:
    """The first seed whose single candidate is the search space's
    cheapest fit (20 trees of depth 3): the same for every run."""
    for s in itertools.count():
        combo = sample_param_combos(1, s)[0]
        if combo["maxIter"] == 20 and combo["maxDepth"] == 3:
            return s


PARAMS = {
    "candidates": CANDIDATES, "folds": FOLDS, "param_seed": param_seed(),
    "target_encoded": list(TE_COLS), "label_encoded": list(LE_COLS),
    "held_out": "the last day in silver",
}


FEATURE_COLS = (
    [f"{c}_target_encoded" for c in TE_COLS]
    + [f"{c}_label_encoded" for c in LE_COLS]
    + ["distance_from_center", "latitude", "longitude"]
)


def features(silver):
    """(train, held-out) frames with every feature column, materialized."""
    last = silver.agg(F.max(PARTITION_COL)).collect()[0][0]
    df = silver.withColumn(
        "fold", F.pmod(F.xxhash64(PRIMARY_KEY), F.lit(ENCODE_FOLDS)).cast("int")
    ).withColumn(TARGET, F.col(TARGET).cast("double"))
    train = df.filter(F.col(PARTITION_COL) < F.lit(last))
    hold = df.filter(F.col(PARTITION_COL) == F.lit(last))
    for c in TE_COLS:
        hold = FE.TargetEncoder(c, TARGET).fit(train).transform(hold)
        train = FE.out_of_fold_target_encode(train, c, TARGET, "fold", n_folds=ENCODE_FOLDS)
    for c in LE_COLS:
        mapping = FE.label_encode_fit(train, c)
        train = FE.label_encode_transform(train, c, mapping)
        hold = FE.label_encode_transform(hold, c, mapping)
    train, center = FE.add_distance_from_center(train, "longitude", "latitude")
    hold, _ = FE.add_distance_from_center(hold, "longitude", "latitude", center)
    return train.localCheckpoint(), hold.localCheckpoint()


def run(spark, tracer, silver_path: str) -> tuple[dict[str, float], list[str]]:
    """One features -> train -> score cycle: its metrics and any problems."""
    problems: list[str] = []
    fits = 0
    real_fit = GBTRegressor._fit

    def counted_fit(self, dataset):
        nonlocal fits
        fits += 1
        return real_fit(self, dataset)

    with tracer.span("ml.features") as fs:
        train, hold = features(spark.read.parquet(silver_path))
    GBTRegressor._fit = counted_fit
    try:
        with tracer.span("ml.train") as ts:
            assembler = VectorAssembler(
                inputCols=FEATURE_COLS, outputCol="features", handleInvalid="skip"
            )
            model = train_regressor(
                train, Pipeline(stages=[assembler]), TARGET, n_candidates=CANDIDATES,
                n_folds=FOLDS, seed=PARAMS["param_seed"], parallelism=1,
            )
    finally:
        GBTRegressor._fit = real_fit
    n_in = hold.count()
    with tracer.span("ml.score") as ss:
        summary = error_analysis(score(model.model, hold, TARGET), "admin1")
    if summary["n"] != n_in:
        problems.append(f"ml: scored {summary['n']} rows of {n_in}")
    numbers = [summary[k] for k in ("rmse", "mae", "bias")] + list(model.metrics["test"].values())
    if not all(x is not None and math.isfinite(x) for x in numbers):
        problems.append(f"ml: non-finite metrics {numbers}")
    if fits != CANDIDATES * FOLDS + 1:
        problems.append(f"ml: {fits} fits, expected {CANDIDATES * FOLDS + 1}")
    return {
        "ml.train.fits": fits,
        "ml.train_s": fs.dur + ts.dur,
        "ml.score_rows_per_s": n_in / ss.dur,
    }, problems
