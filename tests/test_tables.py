"""tables.load: no table spreads unless the caller asks, and a spread
is gated by the source's size."""

from __future__ import annotations

import os
import re

from acled_spark.tables import TABLE_NAMES, load
from tests.conftest import SF_DIR

MAX_SPLIT = "spark.sql.files.maxPartitionBytes"


def _round_robins(df) -> list[int]:
    """Partition counts of the plan's round-robin exchanges."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [int(n) for n in re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)]


def test_default_load_never_spreads(spark):
    for name in TABLE_NAMES:
        assert _round_robins(load(spark, SF_DIR, name)) == [], name


def test_spread_on_a_small_source_fills_the_cores(spark):
    cores = spark.sparkContext.defaultParallelism
    for name in ("documents", "events"):
        df = load(spark, SF_DIR, name, spread=True)
        assert _round_robins(df) == [cores], name


def test_spread_is_off_when_natural_splits_fill_the_cores(spark):
    size = os.path.getsize(os.path.join(SF_DIR, "documents.parquet"))
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(MAX_SPLIT, None)
    spark.conf.set(MAX_SPLIT, str(max(1, size // cores)))
    try:
        assert _round_robins(load(spark, SF_DIR, "documents", spread=True)) == []
    finally:
        if prev is None:
            spark.conf.unset(MAX_SPLIT)
        else:
            spark.conf.set(MAX_SPLIT, prev)
