"""The one-call daily pipeline API: full lifecycle, blocking semantics,
replay safety."""

from __future__ import annotations

import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from acled_spark.checks import ValidationError
from acled_spark.pipeline import promote_day, run_day
from tests.test_acled_pipeline import make_fetcher


@pytest.mark.slow  # ~19 s run_day e2e (VERDICT r14 #1)
def test_run_day_full_lifecycle(spark, tmp_path):
    bronze = os.path.join(str(tmp_path), "bronze")
    silver = os.path.join(str(tmp_path), "silver")
    fetcher = make_fetcher(rows_per_day=150, page_cap=50)

    res = run_day(spark, fetcher, date(2025, 3, 1), bronze, silver, page_limit=50)
    assert res.rows == 150 and res.passed
    assert {c.name for c in res.bronze_checks} >= {
        "non_empty", "pk_unique[event_id_cnty]"
    }
    assert {c.name for c in res.silver_checks} >= {"row_count_bounds"}
    assert any(c.name.startswith("completeness[") for c in res.silver_checks)
    assert spark.read.parquet(silver).count() == 150

    # replay the same day: idempotent end-to-end
    res2 = run_day(spark, fetcher, date(2025, 3, 1), bronze, silver, page_limit=50)
    assert res2.passed
    assert spark.read.parquet(silver).count() == 150

    # second day accumulates
    run_day(spark, fetcher, date(2025, 3, 2), bronze, silver, page_limit=50)
    out = spark.read.parquet(silver)
    assert out.count() == 300
    assert out.select("event_id_cnty").distinct().count() == 300


def test_run_day_empty_fetch_raises(spark, tmp_path):
    def empty_fetcher(day, page, limit, params):
        return []

    with pytest.raises(ValueError, match="no data returned"):
        run_day(
            spark, empty_fetcher, date(2025, 3, 1),
            os.path.join(str(tmp_path), "b"), os.path.join(str(tmp_path), "s"),
        )


def test_run_day_blocking_check_halts(spark, tmp_path):
    # oversized partition violates the silver row-count bound (1..10000)
    fetcher = make_fetcher(rows_per_day=10_050, page_cap=5000)
    with pytest.raises(ValidationError, match="row_count_bounds"):
        run_day(
            spark, fetcher, date(2025, 3, 1),
            os.path.join(str(tmp_path), "b"), os.path.join(str(tmp_path), "s"),
            page_limit=5000,
        )


def _silver_digest(spark, path: str) -> tuple[int, int]:
    """(rows, order-free content hash) of a silver table."""
    df = spark.read.parquet(path)
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def test_promote_day_matches_run_day(spark, tmp_path):
    """A bronze-only backfill promoted to silver lands what run_day
    writes for the same fetcher and day, and a second promote is a
    no-op on silver."""
    from acled_spark.scheduler import run_backfill

    day = date(2025, 3, 1)
    fetcher = make_fetcher(rows_per_day=30, page_cap=50)
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    assert run_backfill(spark, fetcher, bronze, [day], limit=50) == [day]

    res = promote_day(spark, day, bronze, silver)
    assert res.rows == 30 and res.passed
    assert "partition_date_match[event_date]" in {c.name for c in res.bronze_checks}
    promoted = _silver_digest(spark, silver)

    ref_silver = str(tmp_path / "ref_silver")
    ref_bronze = str(tmp_path / "ref_bronze")
    run_day(spark, fetcher, day, ref_bronze, ref_silver, page_limit=50)
    assert promoted[0] == 30
    assert promoted == _silver_digest(spark, ref_silver)

    assert promote_day(spark, day, bronze, silver).passed
    assert _silver_digest(spark, silver) == promoted


def test_cli_sql_subcommand(spark, capsys):
    """Ad-hoc SQL against the registered views — the raw-SQL reporting
    migration path (uses the session fixture's JVM via get_spark's
    getOrCreate, so no second context spins up)."""
    from acled_spark.__main__ import main

    rc = main(
        ["sql",
         "SELECT lang, count(*) AS docs FROM documents GROUP BY lang ORDER BY lang",
         "--sf-dir", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "lang" in out and "docs" in out and "| en " in out.replace("|en", "| en ")
