"""``ingest_daily``: the paper's daily job (SURVEY §3.1) over new and replayed days.

One pass runs ``NEW_DAYS`` new days through ``pipeline.run_day``, then
replays ``REPLAYS`` of them — the first byte-identical, the others with
corrected rows — and after each replay retracts ``RETRACT_KEYS`` keys of
that day with ``silver.delete_keys``.  Passes repeat until the run's
seconds are spent; a traced run makes exactly one pass so its job and
task counts repeat.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from datetime import date, timedelta

from pyspark.sql import functions as F

import acled_gen
import proc
import storage
from acled_spark import pipeline, silver
from acled_spark.schema import PARTITION_COL, PRIMARY_KEY

ROWS_PER_DAY = 2000  # under the silver suite's blocking row_count_bounds hi=10000
NEW_DAYS = 2
REPLAYS = 2
RETRACT_KEYS = 5
PAGE_LIMIT = 500  # 4 pages per day
DAY0 = date(2024, 3, 1)
WARMUP_DAY = date(2023, 12, 31)
LAYERS = (
    "source", "bronze.cast", "checks.bronze", "bronze.write",
    "silver.upsert", "checks.silver", "pipeline.other", "silver.delete",
)
PARAMS = {
    "rows_per_day": ROWS_PER_DAY, "new_days_per_pass": NEW_DAYS,
    "replays_per_pass": REPLAYS, "retract_keys_per_replay": RETRACT_KEYS,
    "page_limit": PAGE_LIMIT,
}


def _checks_name(args, kwargs, parent) -> str:
    # run_day validates twice: the bronze suite first, the silver slice second
    if parent is None:
        return "checks.bronze"
    n = parent.attrs["checks_calls"] = parent.attrs.get("checks_calls", 0) + 1
    return "checks.bronze" if n == 1 else "checks.silver"


def trace_layers(tracer) -> None:
    """Rebind the stages ``run_day`` calls to traced wrappers."""
    for attr, layer in (
        ("ingest_day", "source"), ("typed_cast", "bronze.cast"),
        ("write_bronze", "bronze.write"), ("upsert_partitioned", "silver.upsert"),
    ):
        tracer.patch(pipeline, attr, lambda a, k, p, layer=layer: layer)
    tracer.patch(pipeline, "run_checks", _checks_name)


def silver_digest(spark, path: str) -> tuple[int, int]:
    """(rows, order-free content hash) of the silver table."""
    df = spark.read.parquet(path)
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], int(row["h"] or 0)


class IngestDaily:
    params = PARAMS

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rng = random.Random(seed)
        self.source = acled_gen.PagedSource()
        self.bronze = os.path.join(work, "bronze")
        self.silver = os.path.join(work, "silver")
        self.lat = {"new": [], "replay": [], "retract": []}
        self.pass_walls: list[float] = []
        self.pass_cpu: list[float] = []
        self.cpu = 0.0  # CPU seconds of the current pass's ops
        self.amp = {"new": [], "replay": [], "retract": []}
        self.expected: dict[str, tuple[str, str]] = {}  # live key -> (fatalities, notes)
        self.retracted: set[str] = set()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.rows_landed = 0
        self.passes = 0

    # -- set-up -------------------------------------------------------------
    def warm_up(self) -> None:
        """One throwaway day: session-wide JIT, code generation and the
        Python workers are paid here, not in the timed phase."""
        root = os.path.join(self.work, "warmup")
        self.source.serve(WARMUP_DAY, acled_gen.day_rows(self.seed, WARMUP_DAY, ROWS_PER_DAY))
        pipeline.run_day(
            self.spark, self.source, WARMUP_DAY, os.path.join(root, "bronze"),
            os.path.join(root, "silver"), page_limit=PAGE_LIMIT,
        )
        shutil.rmtree(root)

    def _pass_days(self, p: int) -> list[tuple[date, list[dict], list[dict]]]:
        out = []
        for i in range(NEW_DAYS):
            day = DAY0 + timedelta(days=p * NEW_DAYS + i)
            rows = acled_gen.day_rows(self.seed, day, ROWS_PER_DAY)
            out.append((day, rows, acled_gen.corrected_rows(self.seed, rows)))
        return out

    def build_fixture(self) -> None:
        """Empty tables and the pages of the first pass (later passes
        generate theirs before their clock starts)."""
        for path in (self.bronze, self.silver):
            shutil.rmtree(path, ignore_errors=True)
        self.days = self._pass_days(0)

    # -- timed phase ----------------------------------------------------------
    def _tombstones(self, day: date, rows: list[dict]):
        keys = self.rng.sample([r["event_id_cnty"] for r in rows], RETRACT_KEYS)
        return keys, self.spark.createDataFrame(
            [(k, day) for k in keys], f"{PRIMARY_KEY} string, {PARTITION_COL} date"
        )

    def _day_bytes(self, day: date) -> int:
        return storage.dir_bytes(os.path.join(self.bronze, f"{PARTITION_COL}={day.isoformat()}"))

    def _run_day(self, kind: str, day: date, rows: list[dict]) -> None:
        self.source.serve(day, rows)
        before = storage.snapshot(self.silver)
        self.attempted += 1
        c0, t0 = proc.tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            with self.tracer.span("pipeline.other", day=day.isoformat(), kind=kind):
                res = pipeline.run_day(
                    self.spark, self.source, day, self.bronze, self.silver,
                    page_limit=PAGE_LIMIT,
                )
        except Exception as exc:  # counted, and the run goes on
            self._problem(f"run_day {day} ({kind}) raised {exc!r:.200}")
            return
        self.lat[kind].append(time.perf_counter() - t0)
        self.cpu += proc.tree_cpu_s(os.getpid()) - c0
        self.amp[kind].append(storage.written_bytes(before, self.silver) / max(self._day_bytes(day), 1))
        if not res.passed or res.rows != len(rows):
            bad = [c.name for c in res.bronze_checks + res.silver_checks if not c.passed]
            self._problem(f"run_day {day} ({kind}): rows={res.rows} failed checks={bad}")
        for r in rows:
            if r["event_id_cnty"] not in self.retracted:
                self.expected[r["event_id_cnty"]] = (r["fatalities"], r["notes"])
        if kind == "new":
            self.rows_landed += res.rows

    def _retract(self, day: date, rows: list[dict]) -> None:
        keys, tomb = self._tombstones(day, rows)
        before = storage.snapshot(self.silver)
        day_bytes = storage.dir_bytes(os.path.join(self.silver, f"{PARTITION_COL}={day.isoformat()}"))
        self.attempted += 1
        c0, t0 = proc.tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            with self.tracer.span("silver.delete", day=day.isoformat()):
                n = silver.delete_keys(self.spark, self.silver, tomb, PRIMARY_KEY, PARTITION_COL)
        except Exception as exc:
            self._problem(f"delete_keys {day} raised {exc!r:.200}")
            return
        self.lat["retract"].append(time.perf_counter() - t0)
        self.cpu += proc.tree_cpu_s(os.getpid()) - c0
        self.amp["retract"].append(storage.written_bytes(before, self.silver) / max(day_bytes, 1))
        if n != len(keys):
            self._problem(f"delete_keys {day}: deleted {n}, expected {len(keys)}")
        for k in keys:
            self.expected.pop(k, None)
            self.retracted.add(k)

    def one_pass(self, p: int) -> None:
        todo = self.days if p == 0 else self._pass_days(p)
        self.cpu = 0.0
        t0 = time.perf_counter()
        for day, rows, _ in todo:
            self._run_day("new", day, rows)
        for j, (day, rows, fixed) in enumerate(todo[:REPLAYS]):
            if j == 0:  # byte-identical replay: silver must not change
                t_pause = time.perf_counter()
                digest = silver_digest(self.spark, self.silver)
                t0 += time.perf_counter() - t_pause
                self._run_day("replay", day, rows)
                t_pause = time.perf_counter()
                if silver_digest(self.spark, self.silver) != digest:
                    self._problem(f"identical replay of {day} changed the silver digest")
                t0 += time.perf_counter() - t_pause
            else:
                self._run_day("replay", day, fixed)
            self._retract(day, rows)
        self.pass_walls.append(time.perf_counter() - t0)
        self.pass_cpu.append(self.cpu)
        self.passes += 1

    # -- verification (untimed) -------------------------------------------------
    def _problem(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def verify(self) -> None:
        df = self.spark.read.parquet(self.silver)
        got = {
            r[0]: (str(r[1]), r[2])
            for r in df.select(PRIMARY_KEY, "fatalities", "notes").collect()
        }
        n_rows = df.count()
        written = self.passes * NEW_DAYS * ROWS_PER_DAY
        if n_rows != len(got) or len(got) != written - len(self.retracted):
            self._problem(
                f"silver holds {n_rows} rows / {len(got)} keys; expected "
                f"{written} written - {len(self.retracted)} retracted"
            )
        if self.retracted & got.keys():
            self._problem(f"{len(self.retracted & got.keys())} retracted keys still live")
        wrong = sum(1 for k, v in self.expected.items() if got.get(k) != v)
        if wrong:
            self._problem(f"{wrong} live keys differ from their latest source row")
        bronze_rows = self.spark.read.parquet(self.bronze).count()
        if bronze_rows != written:
            self._problem(f"bronze holds {bronze_rows} rows, expected {written}")

    # -- metrics -------------------------------------------------------------------
    def details(self) -> dict[str, tuple[float, str]]:
        new = self.lat["new"]
        tail = percentile_tail(new)
        phase = sum(self.pass_walls)
        return {
            "day_new_p50_s": (statistics.median(new), "s"),
            "day_new_tail_s": (tail[0], f"s@p{tail[1]}/n={len(new)}"),
            "day_replay_p50_s": (statistics.median(self.lat["replay"]), "s"),
            "retract_p50_s": (statistics.median(self.lat["retract"]), "s"),
            "ingest_rows_per_s": (self.rows_landed / phase, "rows/s"),
        }

    def end_to_end(self) -> dict[str, float]:
        return {
            "pass_wall_s": statistics.median(self.pass_walls),
            "pass_cpu_s": statistics.median(self.pass_cpu),
        }

    def storage_metrics(self) -> dict[str, float]:
        b, s = storage.tree_stats(self.bronze), storage.tree_stats(self.silver)
        return {
            "bronze.bytes": b[0], "bronze.files": b[1],
            "silver.bytes": s[0], "silver.files": s[1],
            **{f"silver.write_amp.{k}": statistics.mean(v) for k, v in self.amp.items() if v},
        }


def percentile_tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples above it, and
    that percentile; with fewer than 11 samples, the maximum (p100)."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        k = int(n * p / 100)
        if n - k - 1 >= 10:
            return xs[k], p
    return xs[-1], 100
