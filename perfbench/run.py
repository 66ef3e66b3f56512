#!/usr/bin/env python3
"""The repo benchmark: one workload, one run, every metric by name.

    python3 perfbench/run.py --workload curation|api --seed N --seconds S --trace 0|1

Run from anywhere; the benchmark works inside the checkout it lives in and
writes only under ``.perfbench/`` there.  It generates its inputs from
``--seed``, sets up several times (``setup_s`` is the median), runs the
timed closed loop for at least ``--seconds`` in whole rounds, checks every
output, and prints a ``name value unit`` line per metric followed by one
JSON line.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` is a separate traced run that reports the
per-layer metrics and writes its spans to ``.perfbench/out/``.

``--size tiny`` shrinks the inputs (for the benchmark's own tests).
Environment: ``SPARK_GRAFT_DRIVER_MEM`` (driver heap, default a quarter of
physical RAM, at most 4g).  Spark runs as ``local[<cores available>]``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 5
DEADLINE_S = 170  # a run must end within 180 s


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99/p95/p90 that leaves at least
    ten samples beyond it; with fewer than 100 samples, p90 (nearest rank)."""
    xs = sorted(values)
    n = len(xs)
    for p in (99, 95, 90):
        if n - math.ceil(p / 100 * n) >= 10:
            break
    return p, xs[max(0, math.ceil(p / 100 * n) - 1)]


def _median_by(results, key) -> dict[str, float]:
    groups: dict[str, list[float]] = {}
    for r in results:
        groups.setdefault(key(r), []).append(r.seconds)
    return {k: statistics.median(v) for k, v in groups.items()}


def _env(work: str) -> int:
    """Point every scratch path of Spark, the JVM and Python workers into
    ``work`` and size the session to the box; returns the core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(4, int(ram_gb // 4)))}g")
    tempfile.tempdir = tmp
    return cores


def _start_spark(work: str, cores: int):
    from r_e_hive__spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # keep every job/stage/execution in the status store for the run
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
            # JVM scratch inside the checkout; no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _storage_after_gc(spark, status) -> tuple[int, float]:
    """Executor storage once garbage collection has settled: Python and JVM
    GC until three readings in a row agree (the ContextCleaner unpersists
    asynchronously)."""
    readings: list = []
    for _ in range(12):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.3)
        readings.append(status.storage())
        if len(readings) >= 3 and readings[-1] == readings[-2] == readings[-3]:
            break
    return readings[-1]


def calibration_probe(spark) -> float:
    """bench.py's environment probe: sum over a 200M-row range."""
    t = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t


def end_to_end(results, setups, timed_wall, storage_mb) -> dict[str, float]:
    from tools.bench_common import geomean

    secs = [r.seconds for r in results]
    return {
        "setup_s": statistics.median(setups),
        "op_p50_s": statistics.median(secs),
        "ops_per_s": len(results) / timed_wall,
        "geomean_s": geomean(_median_by(results, lambda r: r.name)),
        "pinned_storage_mb": storage_mb,
    }


def per_layer(results, tracer, extra: dict) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics from a traced run, and the per-operation records
    they were computed from."""
    from perfbench.spark_probe import union_length
    from perfbench.datagen import ENDPOINTS
    from perfbench.workloads import CURATION_OPS

    n = len(results)
    rows: list[dict] = []
    for r in results:
        rd = tracer.readings[r.op]
        clip = [(max(s, r.start), min(e, r.end)) for s, e in rd.job_intervals]
        clip = [(s, e) for s, e in clip if e > s]
        build_end = r.start + r.build_s
        in_build = [(s, min(e, build_end)) for s, e in clip if s < build_end]
        (b0, b1), (a0, a1) = tracer.storage_before[r.op], tracer.storage_after[r.op]
        plan = next((s for s in tracer.spans if s.op == r.op and s.name == "catalyst.plan"), None)
        rows.append(dict(
            op=r.op, name=r.name, kind=r.kind, seconds=r.seconds, build_s=r.build_s,
            ok=r.ok, rows_out=r.rows_out,
            plan_s=(plan.end - plan.start) if plan else 0.0,
            build_jobs=len(in_build),
            self_queries_s=max(0.0, r.build_s - union_length(in_build)),
            spark_jobs_s=union_length(clip),
            driver_s=max(0.0, r.seconds - union_length(clip)),
            jobs=rd.jobs, stages=rd.stages, tasks=rd.tasks, failed_tasks=rd.failed_tasks,
            task_s=rd.task_s, gc_s=rd.gc_s, shuffle_read_mb=rd.shuffle_read_mb,
            shuffle_write_mb=rd.shuffle_write_mb, spill_mb=rd.spill_mb,
            rows_scanned=rd.rows_scanned, python_worker_start_s=rd.python_worker_start_s,
            python_exec_s=rd.python_exec_s, python_arrow_mb=rd.python_arrow_mb,
            persistent_rdds_delta=a0 - b0, storage_mb_delta=a1 - b1, **rd.plan,
        ))

    def mean(key):
        return sum(x[key] for x in rows) / n

    m = dict(extra)
    m.update({
        "op_tail_s": tail([r.seconds for r in results])[1],
        "queries.build_s": mean("build_s"),
        "queries.build_jobs": mean("build_jobs"),
        "catalyst.plan_s": mean("plan_s"),
        "spark.driver_s": mean("driver_s"),
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.failed_tasks": mean("failed_tasks"),
        "spark.task_s": mean("task_s"),
        "spark.gc_s": mean("gc_s"),
        "spark.shuffle_read_mb": mean("shuffle_read_mb"),
        "spark.shuffle_write_mb": mean("shuffle_write_mb"),
        "spark.spill_mb": mean("spill_mb"),
        "spark.rows_scanned_per_row_out":
            sum(x["rows_scanned"] for x in rows) / max(1, sum(x["rows_out"] for x in rows)),
        "python.worker_start_s": mean("python_worker_start_s"),
        "python.exec_s": mean("python_exec_s"),
        "python.arrow_mb": mean("python_arrow_mb"),
        "plan.exchanges": mean("exchanges"),
        "plan.reused_exchanges": mean("reused_exchanges"),
        "plan.inmemory_scans": mean("inmemory_scans"),
        "plan.checkpoint_scans": mean("checkpoint_scans"),
        "plan.python_nodes": mean("python_nodes"),
        "plan.smj": mean("smj"),
        "plan.bhj": mean("bhj"),
        "storage.persistent_rdds": mean("persistent_rdds_delta"),
        "storage.mb": mean("storage_mb_delta"),
        "self.queries_s": mean("self_queries_s"),
        "self.spark_jobs_s": mean("spark_jobs_s"),
        "trace.overhead_s": tracer.overhead_s / n,
        "failed_ratio": sum(1 for x in rows if not x["ok"]) / n,
    })
    reads = [r for r in results if r.kind == "read"]
    m["api.tasks_per_read"] = (
        sum(x["tasks"] for x in rows if x["kind"] == "read") / len(reads) if reads else 0.0)
    for kind, key in (("read", "api.read"), ("write", "api.write"), ("redeem", "api.redeem")):
        xs = [r.seconds for r in results if r.kind == kind]
        m[f"{key}_p50_s"] = statistics.median(xs) if xs else 0.0
        if kind == "read":
            m["api.read_tail_s"] = tail(xs)[1] if xs else 0.0
    by_name = _median_by(results, lambda r: r.name)
    for name in CURATION_OPS:
        m[f"operators.{name}_s"] = by_name.get(name, 0.0)
    for name in ENDPOINTS:
        m[f"api.{name}_s"] = by_name.get(name, 0.0)
    return m, rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "r_e_hive__spark")) or not os.path.isfile(spec_path):
        print(f"perfbench: no r_e_hive__spark package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    def on_deadline(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    cores = _env(work)

    from perfbench import workloads
    from perfbench.spark_probe import SparkStatus, Tracer

    t_run = time.perf_counter()
    wl = workloads.make(args.workload, work, args.seed, args.size)
    wl.generate()
    phases = {"generate": time.perf_counter() - t_run}

    t = time.perf_counter()
    spark = _start_spark(work, cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    try:
        status = SparkStatus(spark)
        phases["session"] = session_start_s
        t = time.perf_counter()
        setups = []
        for i in range(SETUP_REPS):
            # a GC fence, so no set-up pays for the garbage of the one before
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            setups.append(wl.setup_once(spark))
            if i == 0:
                wl.warm_up(spark)
        phases["setup"] = time.perf_counter() - t
        rdds_setup, mb_setup = _storage_after_gc(spark, status)
        tracer = Tracer(spark) if args.trace else None
        t = time.perf_counter()
        results = wl.timed(spark, args.seconds, tracer)
        timed_wall = phases["timed"] = time.perf_counter() - t
        rdds_after, mb_after = _storage_after_gc(spark, status)
        t = time.perf_counter()
        wl.check(spark, results)
        phases["check"] = time.perf_counter() - t
        calib_s = calibration_probe(spark)
        jobs_total = status.job_count()
    finally:
        signal.alarm(0)
        t = time.perf_counter()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t
    phases["total"] = time.perf_counter() - t_run

    failed = sum(1 for r in results if not r.ok)
    correct = failed == 0 and not wl.failures
    if args.trace:
        metrics, rows = per_layer(results, tracer, {
            "session.start_s": session_start_s,
            "catalog.load_s": statistics.median(setups) if args.workload == "curation" else 0.0,
            "catalog.cached_mb": mb_setup,
            "box.cores": float(cores),
            "box.calibration_s": calib_s,
        })
        wanted = spec["per_layer"]
        t0 = min(s.start for s in tracer.spans) if tracer.spans else 0.0
        with open(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "cores": cores,
                "calibration_s": calib_s, "spark_jobs": jobs_total,
                "spans": [dict(name=s.name, op=s.op, start=s.start - t0, end=s.end - t0,
                               parent=s.parent) for s in tracer.spans],
                "ops": rows,
            }, f, indent=1)
    else:
        metrics = end_to_end(results, setups, timed_wall, mb_after - mb_setup)
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not computed: {missing}")

    secs = [r.seconds for r in results]
    pct, _ = tail(secs)
    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={cores} driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    print(f"perfbench: calibration range_sum_200m_s={calib_s} spark_jobs={jobs_total}")
    print("perfbench: phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()))
    print(f"perfbench: ops={len(results)} tail=p{pct} of {len(secs)} samples "
          f"storage setup={mb_setup} MB/{rdds_setup} rdds after={mb_after} MB/{rdds_after} rdds")
    print("perfbench: op_seconds " + " ".join(f"{r.name}={r.seconds:.3f}" for r in results))
    for why in wl.failures:
        print(f"perfbench: FAILED {why}")
    print(f"perfbench: failed_ratio {failed / len(results)} ratio")
    for m in wanted:
        print(f"perfbench: {m['name']} {metrics[m['name']]} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": len(results),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
