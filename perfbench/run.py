#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {catalog,medallion} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root (any directory works; the engine is
found next to this directory). It

1. starts ``local[min(4, nproc)]`` Spark with driver memory and DuckDB
   limits derived from the host, and puts the repository root on the
   Python workers' ``PYTHONPATH``;
2. sets up three times (fresh inputs each time) and reports the median;
3. for ``catalog``, collects every query once and checks it against its
   DuckDB oracle (this is also the warm-up);
4. measures whole passes until ``--seconds`` have passed
   (``--trace 0``), or one untraced and then traced passes
   (``--trace 1``);
5. for ``medallion``, checks the last run's DQ counts and gold tables
   against DuckDB.

Everything it writes goes under ``.perfbench_work/`` in the repository
root and is removed at exit, except the traced run's spans
(``.perfbench_work/spans-<workload>.json``). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The lines before it are a readable report: the
host, every metric with its unit and sample count, and the verdict. The
layers and the end-to-end metric each should move are in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MAX_CPUS = 4


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def host_settings() -> dict[str, object]:
    """Engine settings derived from this host, never from a bench box."""
    ram_mb = host_ram_bytes() // 2**20
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    return {
        "cpus": cpus,
        "ram_mb": ram_mb,
        # a quarter of RAM, at most 2 GiB (ample at these sizes): the
        # driver JVM is the only executor in local mode
        "driver_mem": f"{min(2048, ram_mb // 4)}m",
        "duckdb_memory": f"{min(2048, ram_mb // 8)}MB",
        "duckdb_threads": cpus,
    }


TAIL_PCT = 90


def percentile(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def measure(wl, seconds: float) -> tuple[list[float], list]:
    """Whole passes until ``seconds`` have passed (at least one)."""
    passes, ops = [], []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        t = time.perf_counter()
        ops += wl.run_pass()
        passes.append(time.perf_counter() - t)
    return passes, ops


def end_to_end(wl, setup_s: float, passes: list[float], ops: list) -> dict:
    times = [op.seconds for op in ops]
    wall = statistics.median(passes)
    return {
        "setup_s": (setup_s, "s", SETUP_REPS),
        "wall_s": (wall, "s", len(passes)),
        "op_p50_s": (statistics.median(times), "s", len(times)),
        "op_tail_s": (percentile(times, TAIL_PCT), "s", len(times)),
        "rows_per_s": (wl.input_rows / wall, "rows/s", len(passes)),
    }, {"op_tail_pct": TAIL_PCT,
        "op_tail_beyond": sum(t > percentile(times, TAIL_PCT) for t in times)}


def per_layer(tracer, counters: list[dict], manifest: list[dict], untraced: list[float],
              gc_s: float, heap_mb: float, legacy: dict[str, float]) -> dict:
    """Per traced pass (mean over traced passes): spans, counters, the
    untraced run's pipeline manifest, and each layer's self time."""
    from workloads import ACTION_SPANS

    n = len(counters)

    def c(key: str) -> float:
        return sum(x.get(key, 0.0) for x in counters) / n

    def measured(s: dict) -> bool:
        return not s["op"].endswith("#verify")

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in tracer.spans
                   if s["name"] == name and measured(s)) / n

    selfs: dict[str, float] = {}
    for name, sec in tracer.self_times(measured).items():
        layer = name.split(".")[0]
        selfs[layer] = selfs.get(layer, 0.0) + sec / n
    bronze = c("sources.bronze_bytes")
    step = {m["step"]: m["sec"] for m in manifest}
    m = {
        "queries.build_s": (span_s("queries.build"), "s"),
        "queries.build_cpu_s": (c("queries.build_cpu_s"), "s"),
        "queries.eager_jobs": (c("queries.eager_jobs"), "count"),
        "catalyst.analysis_s": (c("catalyst.analysis_s"), "s"),
        "catalyst.optimization_s": (c("catalyst.optimization_s"), "s"),
        "catalyst.planning_s": (c("catalyst.planning_s"), "s"),
        "catalyst.plan_nodes": (c("plan.plan_nodes"), "count"),
        "exec.exec_s": (sum(span_s(a) for a in ACTION_SPANS), "s"),
        "exec.jobs": (c("exec.jobs"), "count"),
        "exec.stages": (c("exec.stages"), "count"),
        "exec.tasks": (c("exec.tasks"), "count"),
        "exec.failed_tasks": (c("exec.failed_tasks"), "count"),
        "exec.shuffle_write_bytes": (c("exec.shuffle_write_bytes"), "B"),
        "exec.shuffle_read_bytes": (c("exec.shuffle_read_bytes"), "B"),
        "exec.spill_bytes": (c("exec.spill_bytes"), "B"),
        "exec.scans": (c("plan.scans"), "count"),
        "exec.scans_per_table": (c("plan.scans") / max(1.0, c("plan.tables")), "ratio"),
        "exec.cache_scans": (c("plan.cache_scans"), "count"),
        "python.eval_nodes": (c("plan.python_nodes"), "count"),
        "python.rows_received": (c("plan.python_rows_received"), "count"),
        "python.bytes_sent": (c("plan.python_bytes_sent"), "B"),
        "python.bytes_received": (c("plan.python_bytes_received"), "B"),
        "sources.scan_rows": (c("plan.scan_rows"), "count"),
        "sources.scan_bytes": (c("plan.scan_bytes"), "B"),
        "sources.write_s": (span_s("sources.write"), "s"),
        "sources.files_written": (c("plan.files_written"), "count"),
        "sources.bytes_written": (c("plan.bytes_written"), "B"),
        "sources.write_amplification": (c("plan.bytes_written") / bronze if bronze else 0.0,
                                        "ratio"),
        "dq.violation_counts_s": (span_s("dq.violation_counts"), "s"),
        "dq.clean_frac": (c("dq.clean_frac"), "ratio"),
        "pipeline.extract_s": (step.get("extract", 0.0), "s"),
        "pipeline.transform_s": (step.get("transform", 0.0), "s"),
        "pipeline.load_silver_s": (step.get("load_silver", 0.0), "s"),
        "pipeline.gold_s": (step.get("gold", 0.0), "s"),
        "pipeline.validate_s": (step.get("validate", 0.0), "s"),
        "pipeline.attempts": (float(sum(m["attempts"] for m in manifest)), "count"),
        "result.collect_s": (span_s("result.collect"), "s"),
        "jvm.gc_s": (gc_s / n, "s"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
        "legacy.count_s": (sum(legacy.values()), "s"),
        "trace.overhead_s": (c("trace.overhead_s"), "s"),
        "trace.overhead_frac": (c("trace.overhead_s") / statistics.median(untraced), "ratio"),
        "verify.check_s": (tracer.total("verify"), "s"),
    }
    for layer in ("op", "queries", "catalyst", "exec", "sources", "dq", "result", "pipeline"):
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
    once = {"legacy.count_s", "verify.check_s", "jvm.heap_peak_mb", "pipeline.attempts"}
    return {k: (v, u, 1 if k in once or k.startswith("pipeline.") else n)
            for k, (v, u) in m.items()}


def traced_run(wl, probe, tracer, seconds: float) -> tuple:
    """One untraced pass (the baseline), traced passes until ``seconds``
    have passed, the late correctness check and the ``.count()`` pass."""
    t_start = time.perf_counter()
    untraced, ops = measure(wl, 0)
    noop = {op.name: op.seconds for op in ops}
    manifest = wl.manifest
    probe.reset_heap_peak()
    gc0 = probe.gc_seconds()
    traced, counters = [], []
    while not traced or time.perf_counter() - t_start < seconds:
        t = time.perf_counter()
        more, cnt = wl.traced_pass(tracer, probe, len(traced))
        traced.append(time.perf_counter() - t)
        ops += more
        counters.append(cnt)
    gc_s, heap_mb = probe.gc_seconds() - gc0, probe.heap_peak_mb()
    failures = [] if wl.verify_first else wl.verify(tracer)
    legacy = wl.legacy_count()
    metrics = per_layer(tracer, counters, manifest, untraced, gc_s, heap_mb, legacy)
    extra = {"spans": len(tracer.spans), "untraced_s": untraced, "traced_s": traced}
    return ops, metrics, extra, legacy, noop, failures


def write_spans(tracer, out_dir: str, workload: str) -> str:
    """The spans of the traced run, kept after the run's own files go."""
    path = os.path.join(out_dir, f"spans-{workload}.json")
    with open(path, "w") as fh:
        json.dump(tracer.spans, fh)
    return path


def report(host: dict, metrics: dict, extra: dict, failures: list[str], ops: list,
           legacy: dict[str, float], noop: dict[str, float]) -> None:
    print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
    for name, (value, unit, n) in metrics.items():
        print(f"metric {name:30s} {value:14.6g} {unit:7s} n={n}")
    for k, v in extra.items():
        print(f"note {k}={v}")
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op.name, []).append(op.seconds)
    for name, secs in sorted(by_name.items()):
        print(f"op {name:36s} median_s={statistics.median(secs):.4f} n={len(secs)}")
    for name in sorted(legacy):
        print(f"legacy {name:32s} count_s={legacy[name]:.4f} noop_s={noop.get(name, 0):.4f}")
    for op in ops:
        if op.error:
            print(f"failed {op.name}: {op.error.splitlines()[0]}")
    for why in failures:
        print(f"wrong {why}")
    print("verdict " + ("correct" if not failures else "WRONG"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("catalog", "medallion"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    hs = host_settings()
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(hs["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": str(hs["driver_mem"]),
        # the Python workers import the engine too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    })
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        return _run(args, work, hs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args: argparse.Namespace, work: str, hs: dict) -> int:
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        import duckdb
        from logicash_etl_spark import get_spark
        from tracing import RssSampler, SparkProbe, Tracer
        from workloads import WORKLOADS
        import verify
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    con = verify.duck(str(hs["duckdb_memory"]), int(hs["duckdb_threads"]))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    })
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            host = {
                "nproc": os.cpu_count(), "cpus_used": hs["cpus"], "ram_mb": hs["ram_mb"],
                "driver_mem": hs["driver_mem"], "duckdb_memory": hs["duckdb_memory"],
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "spark": spark.version, "duckdb": duckdb.__version__,
                "python": platform.python_version(), "workload": args.workload,
                "seed": args.seed, "trace": args.trace,
            }
            wl = WORKLOADS[args.workload](spark, work, args.seed, con)
            reps = [wl.prepare(i) for i in range(SETUP_REPS)]
            setup_s = session_s + statistics.median(reps)
            tracer = Tracer()
            t_verify = time.perf_counter()
            failures = wl.verify(tracer) if wl.verify_first else []
            timeline = {"session_s": session_s, "setup_reps_s": reps,
                        "warm_verify_s": time.perf_counter() - t_verify}
            legacy: dict[str, float] = {}
            noop: dict[str, float] = {}
            if not args.trace:
                passes, ops = measure(wl, args.seconds)
                if not wl.verify_first:
                    failures = wl.verify(tracer)
                metrics, extra = end_to_end(wl, setup_s, passes, ops)
                extra.update(timeline, passes_s=passes)
            else:
                ops, metrics, extra, legacy, noop, late = traced_run(
                    wl, SparkProbe(spark), tracer, args.seconds)
                failures += late
                extra.update(timeline)
                extra["spans_file"] = write_spans(tracer, os.path.dirname(work), args.workload)
    finally:
        _stop(spark)

    attempted = len(ops)
    failed = sum(op.error is not None for op in ops)
    # Printed on every run, but in the JSON only with the per-layer
    # metrics: the peak follows the collector's heap sizing, which varies
    # by up to a fifth between runs of the same code, and failed_frac is
    # 0 on a healthy run.
    process = {"peak_rss_mb": (rss.peak_bytes / 2**20, "MB", 1),
               "failed_frac": (failed / attempted, "ratio", attempted)}
    if args.trace:
        metrics.update(process)
    report(host, {**metrics, **process}, extra, failures, ops, legacy, noop)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0 if not failures else 1


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
