"""End-to-end pipeline orchestration — the reference's daily job as one
callable (SURVEY §3.1 lifecycle: fetch → bronze → validate → silver →
validate), plus the scheduled reporting entry (§3.3).

This is the "switch from the reference" surface: where the reference
wires Dagster assets, a user here calls :func:`run_day` (or
:func:`acled_spark.scheduler.sensor_tick` for sensor-driven operation,
or the Structured Streaming path in acled_spark.streaming for
continuous operation).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acled_spark.bronze import typed_cast, write_bronze
from acled_spark.checks import (
    CheckResult,
    load_suites,
    partition_date_match,
    run_checks,
)
from acled_spark.schema import PARTITION_COL, PRIMARY_KEY
from acled_spark.silver import upsert_partitioned
from acled_spark.source import PageFetcher, ingest_day


@dataclass
class DayRunResult:
    day: date
    rows: int
    bronze_checks: list[CheckResult] = field(default_factory=list)
    silver_checks: list[CheckResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(
            c.passed for c in self.bronze_checks + self.silver_checks
        )


def run_day(
    spark: SparkSession,
    fetcher: PageFetcher,
    day: date,
    bronze_path: str,
    silver_path: str,
    page_limit: int = 5000,
    raise_on_blocking: bool = True,
) -> DayRunResult:
    """One daily partition through the full lifecycle (SURVEY §3.1).

    1. paginated fetch -> raw frame (empty day raises, ref base_assets.py:61-63)
    2. typed cast (null-on-error)
    3. bronze validation suite (blocking failures halt, like Dagster's
       blocking asset checks)
    4. partitioned bronze write (replay-safe dynamic overwrite)
    5. keyed silver upsert (the ON CONFLICT contract)
    6. silver validation suite on the day's slice
    """
    raw = ingest_day(spark, fetcher, day, limit=page_limit)
    return _land_day(
        spark, typed_cast(raw), day, silver_path, raise_on_blocking, bronze_path
    )


def promote_day(
    spark: SparkSession,
    day: date,
    bronze_path: str,
    silver_path: str,
    raise_on_blocking: bool = True,
) -> DayRunResult:
    """Steps 3-6 of :func:`run_day` for a day ALREADY materialized in
    bronze: validate the bronze slice, upsert it into silver, validate
    the silver slice — no network fetch and no bronze rewrite.

    This is the bronze→silver catch-up path: a bronze-only backfill
    followed by an ``ingest --silver`` of the same range must not
    re-download every day from the API when the rows already sit in the
    bronze table.
    """
    typed = _day_slice(spark, bronze_path, day)
    return _land_day(spark, typed, day, silver_path, raise_on_blocking)


def _day_slice(spark: SparkSession, path: str, day: date) -> DataFrame:
    return spark.read.parquet(path).filter(
        F.col(PARTITION_COL) == F.lit(day.isoformat()).cast("date")
    )


def _land_day(
    spark: SparkSession,
    typed: DataFrame,
    day: date,
    silver_path: str,
    raise_on_blocking: bool,
    bronze_path: str | None = None,
) -> DayRunResult:
    """Steps 3-6 of :func:`run_day` over one day's typed rows; step 4
    (the bronze write) only when ``bronze_path`` is given."""
    suites = load_suites()
    # the blocking per-day check can't live in the static YAML suite
    # (it parameterizes on THIS run's day): without it a stray
    # wrong-day row would ride dynamic partition overwrite and REPLACE
    # that other day's entire directory (ref acled_checks.py:189-246)
    bronze_suite = list(suites["acled_bronze"]) + [
        partition_date_match(PARTITION_COL, day)
    ]
    bronze_results = run_checks(
        typed, bronze_suite, raise_on_blocking=raise_on_blocking
    )
    if bronze_path is not None:
        write_bronze(typed, bronze_path, mode="overwrite")
    upsert_partitioned(
        spark,
        typed,
        silver_path,
        key=PRIMARY_KEY,
        partition_col=PARTITION_COL,
    )
    silver_results = run_checks(
        _day_slice(spark, silver_path, day),
        suites["acled_silver"],
        raise_on_blocking=raise_on_blocking,
    )
    return DayRunResult(
        day=day,
        rows=typed.count(),
        bronze_checks=bronze_results,
        silver_checks=silver_results,
    )
