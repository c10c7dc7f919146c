#!/usr/bin/env python3
"""Lifecycle benchmark for acled-spark: the paper's daily ingest and its
report queries, timed end to end and, in a traced run, layer by layer.

Run from the root of an acled-spark checkout:

    python3 lifecycle_bench/run.py --workload ingest_daily --seed 1 --seconds 20 --trace 0

One caller drives the program in a closed loop on ``local[N]`` (N =
``SPARK_GRAFT_CPUS``, default the CPUs this process may use).  Inputs
come from ``--seed``; outputs are checked outside the timed regions.
Human-readable lines (every metric by name, with its unit) go first; the
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  A full record of the run
(parameters, host facts, spans) is written under ``.lifecycle_bench/``
in the checkout.  ``--workload all`` runs every workload in turn, each in
a process and Spark session of its own, and prints their results with the
metric names prefixed by the workload.  A traced ``ingest_daily`` run also
makes one minimal ML cycle (``ml_cycle.py``) on the silver table it wrote.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".lifecycle_bench")
WORKLOADS = ("ingest_daily", "report_queries")
SETUP_REPEATS = 3
ML_LAYERS = ("ml.features", "ml.train", "ml.score")


def _environment(work: str) -> None:
    """Keep every file Spark, the JVMs and DuckDB write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def host_facts() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def start_session(trace: bool):
    from acled_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        # a fixed-size heap: without it peak RSS followed the JVM's
        # heap-growth decisions and spread 17% between runs
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.sql.warehouse.dir": os.path.join(os.environ["SPARK_LOCAL_DIRS"], "warehouse"),
    }
    if trace:
        # jobs are counted once, at the end of the run: keep all of them,
        # not the default last 1000
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark(app_name="lifecycle-bench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(
    name: str, spark, tracer, seed: int, seconds: float, work: str, with_ml: bool = False
) -> dict:
    import ingest
    import report_mix

    cls = {"ingest_daily": ingest.IngestDaily, "report_queries": report_mix.ReportQueries}[name]
    wl = cls(spark, tracer, os.path.join(work, name), seed)
    if tracer.enabled and name == "ingest_daily":
        ingest.trace_layers(tracer)
    fixture_s = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        with tracer.span("setup.fixture"):
            wl.build_fixture()
        fixture_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tracer.span("setup.warm_up"):
        wl.warm_up()
    warm_up_s = time.perf_counter() - t

    t0 = time.perf_counter()
    with tracer.span("timed") as timed:
        p = 0
        while p == 0 or (not tracer.enabled and time.perf_counter() - t0 < seconds):
            wl.one_pass(p)
            p += 1
    phase_s = time.perf_counter() - t0
    tracer.unpatch()
    t = time.perf_counter()
    wl.verify()
    verify_s = time.perf_counter() - t
    ml, ml_span = {}, None
    if with_ml and tracer.enabled and name == "ingest_daily":
        import ml_cycle

        wl.attempted += 1
        wl.params = {**wl.params, "ml": ml_cycle.PARAMS}
        with tracer.span("ml") as ml_span:
            try:
                ml, problems = ml_cycle.run(spark, tracer, wl.silver)
            except Exception as exc:
                problems = [f"ml cycle raised {exc!r:.200}"]
        if problems:  # one op, so at most one failure
            wl._problem("; ".join(problems))
    tracer.count_jobs()
    return {
        "workload": wl, "warm_up_s": warm_up_s, "fixture_s": fixture_s,
        "phase_s": phase_s, "timed_span": timed, "ml": ml, "ml_span": ml_span,
        "verify_s": verify_s,
    }


def layer_metrics(name: str, tracer, r: dict, session_s: float) -> dict[str, float]:
    """Every per-layer metric; layers the workload does not run read 0."""
    import ingest
    import report_mix

    timed = r["timed_span"]
    layers = tracer.layers(under=timed.id)
    out: dict[str, float] = {}
    for layer in ingest.LAYERS:
        agg = layers.get(layer, {})
        for k in ("calls", "self_s", "jobs", "tasks", "failed"):
            out[f"{layer}.{k}"] = agg.get(k, 0)
    for layer in report_mix.module_layers() + ["report"]:
        agg = layers.get(layer, {})
        for k in ("calls", "self_s", "jobs", "tasks") if layer == "report" else ("self_s", "jobs", "tasks"):
            out[f"{layer}.{k}"] = agg.get(k, 0)
    days = out["pipeline.other.calls"]
    out["checks.jobs_per_day"] = (out["checks.bronze.jobs"] + out["checks.silver.jobs"]) / days if days else 0.0
    out["silver.upsert.jobs_per_day"] = out["silver.upsert.jobs"] / days if days else 0.0
    st = r["workload"].storage_metrics()
    for k in ("bronze.bytes", "bronze.files", "silver.bytes", "silver.files",
              "silver.write_amp.new", "silver.write_amp.replay", "silver.write_amp.retract"):
        out[k] = st.get(k, 0)
    ml_layers = tracer.layers(under=r["ml_span"].id) if r["ml_span"] is not None else {}
    for layer in ML_LAYERS:
        agg = ml_layers.get(layer, {})
        for k in ("calls", "self_s", "jobs", "tasks"):
            out[f"{layer}.{k}"] = agg.get(k, 0)
    for k in ("ml.train.fits", "ml.train_s", "ml.score_rows_per_s"):
        out[k] = r["ml"].get(k, 0)
    out["session.self_s"] = session_s
    top = sum(s.dur for s in tracer.spans if s.parent == timed.id)
    out["trace.unattributed_s"] = timed.dur - top
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    # the traced pass; minus the untraced pass_wall_s of the same seed,
    # it is the tracing overhead
    out["trace.phase_wall_s"] = timed.dur
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "acled_spark", "__init__.py")):
        print("lifecycle_bench: run from the root of an acled-spark checkout "
              "(no acled_spark/ package here)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path[:0] = [ROOT, HERE]
    import proc
    from tracer import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    steal0 = proc.cpu_steal_s()
    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = start_session(bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    jvm_pid = getattr(tracer.sc._gateway, "proc", None)
    jvm_pid = jvm_pid.pid if jvm_pid is not None else None

    name = args.workload
    try:
        r = run_workload(name, spark, tracer, args.seed, args.seconds, work, with_ml=True)
    finally:
        peak = proc.vm_hwm_mb(os.getpid()) + (proc.vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
        stop_session(spark)
    wl = r["workload"]
    failed = min(wl.failed, wl.attempted)
    setup_s = session_s + r["warm_up_s"] + statistics.median(r["fixture_s"])
    e2e = {"setup_s": setup_s, **wl.end_to_end(), "peak_rss_mb": peak}

    print(f"== {name}: {wl.passes} pass(es), {wl.attempted} ops attempted, "
          f"{wl.failed} failed (failed_ops_frac={wl.failed / max(wl.attempted, 1):.4f})")
    for p in wl.problems:
        print(f"   PROBLEM {p}")
    units = {"setup_s": "s", "pass_wall_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
    for k, v in e2e.items():
        print(f"   {k} = {v:.6f} {units[k]}")
    for k, (v, unit) in wl.details().items():
        print(f"   {k} = {v:.6f} {unit}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    record = {
        "args": vars(args), "host": host_facts(), "cpu_steal_s": proc.cpu_steal_s() - steal0,
        "params": wl.params, "end_to_end": e2e, "details": wl.details(),
        "problems": wl.problems, "passes": wl.passes, "phase_s": r["phase_s"],
        "fixture_s": r["fixture_s"], "warm_up_s": r["warm_up_s"], "session_s": session_s,
        "latencies": wl.lat, "verify_s": r["verify_s"],
    }
    if tracer.enabled:
        lm = layer_metrics(name, tracer, r, session_s)
        for k, v in lm.items():
            print(f"   {k} = {v}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in lm.items()}
        # with stage counts, which the metrics leave out
        record["layers"] = tracer.layers(under=r["timed_span"].id)
        if r["ml_span"] is not None:
            record["layers"].update(tracer.layers(under=r["ml_span"].id))
    record["spans"] = tracer.to_records()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": wl.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Each workload in a process of its own; one combined result line.

    A fresh process per workload keeps its set-up, cold pass and peak RSS
    the same as in a single-workload run."""
    attempted = failed = 0
    metrics: dict = {}
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = p.stdout.rstrip("\n").split("\n")
        print("\n".join(lines[:-1]), flush=True)
        if p.returncode != 0:
            print(f"lifecycle_bench: {name} exited with {p.returncode}", file=sys.stderr)
            return p.returncode
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(".bytes"):
        return "bytes"
    if "write_amp" in name or name.endswith("per_day"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
