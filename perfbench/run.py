#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the inputs for ``--seed``, starts
the Spark session cold (``setup_s``), prepares the workload, repeats its
operation for ``--seconds``, checks the outputs, and prints
one JSON object as the last line of standard output: the end-to-end
metrics with ``--trace 0``, or the per-layer metrics of a traced run with
``--trace 1``. A line before it (``perfbench-detail``) carries the
workload's own named metrics, the session settings and the host load.
Without the program's package next to ``perfbench/`` it exits with code 2
and prints no result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / "perfbench" / "_out"
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="inspig_etl_spark end-to-end benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_session(work: Path) -> dict:
    """Session settings for this host, passed through the environment the
    program's session factory reads (set before it is imported)."""
    ncpu = len(os.sched_getaffinity(0))
    cpus = str(min(ncpu, 4))
    settings = {
        "SPARK_GRAFT_CPUS": cpus,
        # One shuffle partition per core: the inputs are a few MB, and the
        # factory's default of 32 is meant to be overridden per deployment.
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # Console progress bars only; no effect on execution.
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(settings)
    return {**settings, "nproc": ncpu}


def source_key(seconds: float) -> str:
    """Hash of the program's and the benchmark's sources and ``--seconds``:
    an untraced result is compared only with a traced run of the same code
    and measuring window."""
    h = hashlib.sha256(repr(seconds).encode())
    for top in ("inspig_etl_spark", "perfbench"):
        for f in sorted((ROOT / top).rglob("*.py")):
            if "_out" not in f.parts:
                h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import inspig_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = OUT / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path) -> int:
    settings = pin_session(work)
    from perfbench import checks, datagen
    from perfbench.measure import (
        JobCounter, cpu_seconds, jvm_times_s, peak_rss_mb, percentile, retained_mb,
    )
    from perfbench.workloads import WORKLOADS, Ctx

    phases = {}  # wall time of each part of the run, for sizing the benchmark
    mark = [T_START]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    phase("start")
    sf_dir = str(work / "data")
    datagen.generate(sf_dir, args.seed)
    phase("gen")

    # Load every program module the workloads call, so the tracer can wrap
    # each function wherever it is bound.
    from inspig_etl_spark import api, catalog, runner  # noqa: F401
    from inspig_etl_spark.pipelines import on_demand, weekly  # noqa: F401
    from inspig_etl_spark.queries import weather_pipeline, weekly_report  # noqa: F401
    from inspig_etl_spark.sources import sinks  # noqa: F401
    from inspig_etl_spark.streaming import incremental  # noqa: F401

    workload = WORKLOADS[args.workload]()
    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        if args.workload == "llm_curation":
            from inspig_etl_spark import queries

            queries._load()
        tracer = Tracer()
        tracer.install()
        workload.tracer = tracer

    # setup_s: a cold session start (the JVM launch and the SparkContext,
    # as runner.main and the API server each do once per process) plus one
    # warm-up operation: count the workload's input tables through the
    # catalog. Another cold start would cost as much again (about 11 s on
    # a 4-core host), so a run takes one sample.
    from inspig_etl_spark import session

    phase("imports")
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    for name in workload.tables:
        catalog.table(spark, sf_dir, name).count()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    phase("setup")

    con = checks.connect(sf_dir)
    ctx = Ctx(spark=spark, sf_dir=sf_dir, work=str(work), seed=args.seed, con=con)
    counter = None
    if tracer:
        from perfbench.layers import install_hooks

        counter = JobCounter(spark)
        install_hooks(tracer, counter)
    samples, op_stats = [], []
    errors: list[str] = []
    op_wall_s = 0.0  # wall time inside the measured operations
    try:
        workload.prepare(ctx)
        if tracer:
            counter.take()
        phase("prepare")
        jvm0 = jvm_times_s(spark)
        start = time.perf_counter()
        while True:
            if tracer:
                tracer.op = len(samples)
            cpu0 = cpu_seconds()
            t_op = time.perf_counter()
            samples.append(workload.op(ctx))
            op_wall_s += time.perf_counter() - t_op
            samples[-1].cpu_s = cpu_seconds() - cpu0
            if tracer:
                tracer.op = None
                op_stats.append({**counter.take(), "useful_rows": workload.useful_rows(ctx)})
            if time.perf_counter() - start >= args.seconds:
                break
        measured_s = time.perf_counter() - start
        jvm1 = jvm_times_s(spark)
        if tracer:
            tracer.uninstall()
        phase("measure")
        retained = retained_mb(spark)
        errors = workload.check(ctx)
        rss = peak_rss_mb()
        details = workload.details(samples)
        phase("check")
    finally:
        workload.close()
        con.close()
        spark.stop()
        stop_jvm()
    phase("teardown")
    phases["total"] = time.perf_counter() - T_START

    attempted = sum(s.attempted for s in samples)
    errors = [e for s in samples for e in s.errors] + errors
    failed = min(attempted, len(errors))
    latencies = [s.latency_s for s in samples]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(samples),
        "latencies_s": latencies,
        "cpu_p50_s": percentile([s.cpu_s for s in samples], 50),
        # JVM time spent collecting and compiling while measuring.
        **{f"measured_{k}": jvm1[k] - jvm0[k] for k in jvm0},
        "measured_s": measured_s,
        "phases_s": phases,
        "ops_failed_ratio": failed / attempted,
        "errors": errors[:10],
        **details,
        "settings": settings,
        "loadavg": os.getloadavg(),
    }
    plain = OUT / f"e2e-{args.workload}-{args.seed}-{source_key(args.seconds)}.json"
    if tracer:
        from perfbench.layers import layer_metrics

        untraced = json.loads(plain.read_text())["latency_p50_s"] if plain.exists() else None
        detail["trace_overhead_basis"] = "untraced run" if untraced is not None else "hook time"
        metrics = layer_metrics(tracer, samples, op_stats, op_wall_s, untraced)
        tracer.dump(str(OUT / f"trace-{args.workload}-{args.seed}.json"),
                    {"detail": detail, "op_stats": op_stats})
    else:
        plain.write_text(json.dumps({"latency_p50_s": percentile(latencies, 50)}))
        metrics = {
            "latency_p50_s": {"value": percentile(latencies, 50), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MiB"},
            "retained_mb": {"value": retained, "unit": "MiB"},
        }
    # The result line carries exactly the metrics BENCHMARK.json lists for
    # this mode; the others (e.g. curation spans on other workloads' list)
    # go to the detail line.
    listed = {m["name"] for m in BENCH["per_layer" if tracer else "end_to_end"]}
    detail["other_metrics"] = {k: v for k, v in metrics.items() if k not in listed}
    metrics = {k: v for k, v in metrics.items() if k in listed}
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
