"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client runs one job at a
time on ``local[N]`` (N = the usable cores, at most 4). The run generates
its inputs from ``--seed``, builds Spark-free references, sets up twice
(a fresh SparkContext plus its cold first job; the first also starts the
JVM), then runs warm jobs for ``--seconds`` seconds and checks every
output. With ``--trace 1`` it alternates untraced and traced jobs and
reports per-layer metrics instead; see README.md.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import host
from metrics import PER_LAYER, median_or_zero, per_layer_values
from spans import MEASURES, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
SETUPS = 2           # set-ups per untraced run; setup_s is their median
MIN_JOBS = 2         # timed jobs per run, whatever --seconds says


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _run_job(spark, workload, traced: bool):
    """One job: returns (wall seconds, errors, tracer, outputs)."""
    tracer = Tracer(spark, traced)
    t0 = time.perf_counter()
    try:
        with tracer.span("job"):
            out = workload.job(spark, tracer)
        wall = time.perf_counter() - t0
        errors = workload.check(out)
    except Exception:   # a failed job is counted, and the run goes on
        wall = time.perf_counter() - t0
        out, errors = {}, [traceback.format_exc(limit=3)]
    finally:
        tracer.release()
    return wall, errors, tracer, out


def _span_totals(tracer) -> dict:
    """Measures per span name for one traced job, the root as ``job``."""
    keys = MEASURES + ("self_s",)
    root = next(s for s in tracer.spans if s["parent"] is None)
    totals = {"job": {k: float(root[k]) for k in keys}}
    totals["job"]["unattributed_s"] = root["self_s"]
    for s in root["children"]:
        acc = totals.setdefault(s["name"], dict.fromkeys(keys, 0.0))
        for k in keys:
            acc[k] += s[k]
    return totals


def run(args, run_dir: str) -> tuple:
    from ecmm428_pycart_spark import get_spark
    from kernels import kernel_timings
    from workloads import WORKLOADS

    info = host.configure(CHECKOUT, run_dir)
    info["cpu_fingerprint_ms_start"] = host.cpu_fingerprint_ms()
    steal_start = host.cpu_steal_s()
    t0 = time.perf_counter()
    workload = WORKLOADS[args.workload](args.seed, run_dir)
    info["inputs_s"] = time.perf_counter() - t0

    attempted = failed = 0
    errors_seen = []
    setups, sessions, untraced, traced = [], [], [], []
    spark = None
    for _ in range(1 if args.trace else SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark()
        sessions.append(time.perf_counter() - t0)
        wall, errors, _, _ = _run_job(spark, workload, traced=False)
        setups.append(time.perf_counter() - t0)
        attempted += 1
        failed += bool(errors)
        errors_seen += errors
    # memory is sampled while the timed jobs run: the steady state a
    # caller sees, after set-up and the set-up's restart transients
    with host.RssSampler() as rss:
        deadline = time.perf_counter() + args.seconds
        n_traced = 0
        while (time.perf_counter() < deadline
               or len(untraced) < MIN_JOBS
               or (args.trace and n_traced < MIN_JOBS)):
            trace_this = bool(args.trace) and n_traced < len(untraced)
            wall, errors, tracer, out = _run_job(spark, workload, trace_this)
            attempted += 1
            failed += bool(errors)
            errors_seen += errors
            if not trace_this:
                untraced.append(wall)
                continue
            n_traced += 1
            if not errors:
                traced.append((wall, _span_totals(tracer), out))
    probes = None
    if args.trace:
        probes = Tracer(spark, traced=True)
        if hasattr(workload, "probes"):
            attempted += 1
            try:
                errors = workload.probes(spark, probes)
            except Exception:   # counted like a failed job
                errors = [traceback.format_exc(limit=3)]
            failed += bool(errors)
            errors_seen += errors
    host.shutdown_spark(spark)
    info["cpu_fingerprint_ms_end"] = host.cpu_fingerprint_ms()
    info["cpu_steal_s"] = host.cpu_steal_s() - steal_start

    report = {
        "workload": args.workload, "seed": args.seed, "host": info,
        "setup_runs_s": setups, "session_runs_s": sessions,
        "jobs_timed": len(untraced), "job_runs_s": untraced,
        "fail_ratio": failed / attempted, "errors": errors_seen[:3],
    }
    if args.trace:
        spans = [t for _, t, _ in traced]
        metrics = per_layer_values(
            spans, probes.spans, kernel_timings(args.seed),
            session_s=statistics.median(sessions),
            overhead_s=(median_or_zero([w for w, _, _ in traced])
                        - statistics.median(untraced)),
            verify_yield=median_or_zero(
                [o.get("verify_yield", 0.0) for _, _, o in traced]))
        first = spans[0] if spans else {}
        report["spans"] = {
            name: {m: median_or_zero([d[name][m] for d in spans if name in d])
                   for m in measures}
            for name, measures in first.items()}
        units = dict(PER_LAYER)
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "job_p50_s": statistics.median(untraced),
            "items_per_s": workload.items * len(untraced) / sum(untraced),
            "peak_rss_mb": rss.peak_mb,
        }
        units = {"setup_s": "s", "job_p50_s": "s", "items_per_s": "items/s",
                 "peak_rss_mb": "MB"}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    return report, result


def main(argv=None) -> int:
    args = _args(argv)
    levers = host.lever_env()
    if levers:
        print(f"perfbench: refusing to run with lever variables set: {levers}; "
              "the benchmark measures the default program", file=sys.stderr)
        return 2
    sys.path.insert(1, CHECKOUT)
    try:
        import ecmm428_pycart_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {CHECKOUT}: {exc}",
              file=sys.stderr)
        return 3
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(CHECKOUT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        report, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench report: " + json.dumps(report, default=float))
    for name, m in result["metrics"].items():
        print(f"perfbench {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"perfbench {args.workload} fail_ratio = {report['fail_ratio']:.6g} ratio "
          f"({result['failed']} of {result['attempted']} jobs)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
