"""Self-test of the lifecycle benchmark's tracing.

A fixed sleep injected into one traced layer (the silver upsert, rebound
in-process; no program file changes) must land in that layer's
``self_s`` — not in its parent's — in the op latencies and the pass wall
time, but not in the pass CPU time.  Runs a shortened
``ingest_daily`` three times in one Spark session: once to warm the
session, then without and with the sleep.  Run from the repository root:

    python3 -m pytest lifecycle_bench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import ingest  # noqa: E402
import run  # noqa: E402
from acled_spark import pipeline  # noqa: E402
from tracer import Tracer  # noqa: E402

SLEEP = 5.0


def _measure(spark, work: str, sleep: float, monkeypatch):
    if sleep:
        real = pipeline.upsert_partitioned

        def slow_upsert(*args, **kwargs):
            time.sleep(sleep)
            return real(*args, **kwargs)

        monkeypatch.setattr(pipeline, "upsert_partitioned", slow_upsert)
    tracer = Tracer(spark.sparkContext)
    r = run.run_workload("ingest_daily", spark, tracer, seed=3, seconds=0, work=work)
    timed = tracer.descendants(r["timed_span"].id)
    spans = [sp for sp in tracer.spans if sp.id in timed]
    return run.layer_metrics("ingest_daily", tracer, r, 0.0), r["workload"], spans


def test_injected_sleep_lands_in_its_layer_and_wall_time(tmp_path, monkeypatch):
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(key, raising=False)  # restored after the test
    run._environment(str(tmp_path))
    monkeypatch.setattr(ingest, "ROWS_PER_DAY", 300)
    monkeypatch.setattr(ingest, "NEW_DAYS", 2)
    monkeypatch.setattr(ingest, "REPLAYS", 1)
    spark = run.start_session(trace=True)
    try:
        _measure(spark, str(tmp_path / "warm"), 0.0, monkeypatch)
        with monkeypatch.context() as m:
            base_l, base, _ = _measure(spark, str(tmp_path / "a"), 0.0, m)
        with monkeypatch.context() as m:
            slow_l, slow, spans = _measure(spark, str(tmp_path / "b"), SLEEP, m)
    finally:
        run.stop_session(spark)

    assert base.failed == slow.failed == 0
    # within the slow run: the sleep sits in every upsert span's own time,
    # not in its parent's, and inside every op latency and the pass wall
    upserts = [sp for sp in spans if sp.name == "silver.upsert"]
    days = [sp for sp in spans if sp.name == "pipeline.other"]
    assert len(upserts) == len(days) == 3  # 2 new days + 1 replay
    assert all(sp.self_s >= SLEEP for sp in upserts)
    assert all(sp.self_s < SLEEP for sp in days), [sp.self_s for sp in days]
    assert min(slow.lat["new"] + slow.lat["replay"]) >= SLEEP
    assert slow.end_to_end()["pass_wall_s"] >= 3 * SLEEP
    # against the run without the sleep.  Runs on a shared host differ by
    # seconds (a 3 s sleep per upsert once added 3.6 s, once 11.4 s), so
    # these bounds are loose; job counts do not depend on the sleep.
    assert slow_l["silver.upsert.jobs"] == base_l["silver.upsert.jobs"]
    added = slow_l["silver.upsert.self_s"] - base_l["silver.upsert.self_s"]
    assert added >= 3 * SLEEP / 2, added
    base_e, slow_e = base.end_to_end(), slow.end_to_end()
    wall = slow_e["pass_wall_s"] - base_e["pass_wall_s"]
    assert wall >= 3 * SLEEP / 2, wall
    cpu = slow_e["pass_cpu_s"] - base_e["pass_cpu_s"]  # sleeping uses no CPU
    assert abs(cpu) < 3 * SLEEP / 2, cpu
