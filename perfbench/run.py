"""Benchmark entry point.

    python3 perfbench/run.py --workload north_star --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/workloads.py and BENCHMARK.json) from the
root of a checkout, on one Spark driver at local[<usable cpus>], as a closed
loop with one client. Steps:

  1. generate the seeded inputs (cached under perfbench/.cache) and their
     numpy answers; the time is reported, never counted as set-up;
  2. set up three times (session start, open inputs, the first step on
     small warm-up inputs of the same shape) and report the median as
     setup_s. The first set-up also launches the JVM; the later two restart
     the Spark context in that JVM, so the median is a restart. Then,
     untimed, run every step once on the warm-up inputs;
  3. iterate for --seconds; every step's output is checked. The first
     iteration is the first full-size pass of its JVM, as in a batch job;
     later ones run somewhat faster as the JIT compiler catches up;
  4. --trace 1 only: split the time between an untraced half and a traced
     half, which sets up once more in a fresh JVM with the event log on and
     runs step 3 with one Spark job group per span, then extra per-layer
     probe calls; report the per-layer numbers, every layer's self time and
     the tracing overhead.

Standard output carries one report line ({"report": ...}: host, sizes, every
named metric with median, quartiles, sample count and raw samples) and, last,
the result line ({"correct", "attempted", "failed", "metrics"}) with the
metrics BENCHMARK.json names. The exit code is 1 when any check failed and 2
when the checkout has no engine package to run.
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
SETUPS = 3

E2E_UNITS = {"setup_s": "s", "iteration_cpu_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s",
    "cells.kernel_rows_per_s": "1/s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.cpu_ratio": "ratio",
    "spark.python_worker_s": "s",
    "spark.arrow_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.gc_s": "s",
    "driver.outside_jobs_s": "s",
}
REPORT_ONLY_UNITS = {"spark.spill_bytes": "bytes"}  # often 0, so not in BENCHMARK.json


def _env(scratch: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    engine importable by the driver and by Spark's Python workers."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # every JVM of the run, spark-submit's launcher included; HotSpot writes
    # its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
                                       f" -Dderby.system.home={scratch}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for p in (ROOT, HERE):
        if p in sys.path:
            sys.path.remove(p)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def start_session(app: str, cpus: int, scratch: str, event_log: str | None):
    from stac_to_geocore_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # options set for one session carry over to the next one in the
        # process: always say whether this one logs events
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name=app, master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the driver JVM this process launched and wait until it exits."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def loop(wl, seconds: float, tracer, first: int, steps: dict, iters: list, cpu: list,
         failures: list) -> int:
    """Closed loop: iterations back to back for about `seconds`, at least
    one; an iteration starts only while at least half of the previous one's
    duration is left. Appends each iteration's wall time (its steps' sum) to
    iters and its process-tree CPU time, output checks included, to cpu.
    Returns the number of steps attempted."""
    from perfbench.trace import tree_cpu_s

    attempted, i, t_end = 0, first, time.monotonic() + seconds
    while True:
        cpu0 = tree_cpu_s()
        with tracer.span("bench", "iteration"):
            done = wl.iteration(i, tracer)
        cpu.append(tree_cpu_s() - cpu0)
        for s in done:
            attempted += 1
            steps.setdefault(s.name, []).append(s.seconds)
            if not s.ok:
                failures.append(f"iteration {i} {s.name}: {s.detail}")
        iters.append(sum(s.seconds for s in done))
        i += 1
        if t_end - time.monotonic() < iters[-1] / 2:
            return attempted


def traced_metrics(wl, tracer, groups, untraced_iters, traced_iters, starts, seed) -> tuple:
    from perfbench.trace import GroupStats, union_length
    from perfbench.workloads import kernel_rows_per_s

    iter_idx = [i for i, s in enumerate(tracer.spans) if s.name == "bench:iteration"]
    per_iter: dict[str, list[float]] = {k: [] for k in {**LAYER_UNITS, **REPORT_ONLY_UNITS}}
    for i in iter_idx:
        sp = tracer.spans[i]
        g = GroupStats()
        for j in [i] + tracer.descendants(i):
            if tracer.spans[j].group in groups:
                g.add(groups[tracer.spans[j].group])
        per_iter["spark.jobs"].append(g.jobs)
        per_iter["spark.tasks"].append(g.tasks)
        per_iter["spark.executor_run_s"].append(g.run_s)
        per_iter["spark.cpu_ratio"].append(g.cpu_s / g.run_s if g.run_s else 0.0)
        per_iter["spark.python_worker_s"].append(g.python_s)
        per_iter["spark.arrow_bytes"].append(g.arrow_bytes)
        per_iter["spark.shuffle_bytes"].append(g.shuffle_bytes)
        wall = sp.end - sp.start
        per_iter["driver.outside_jobs_s"].append(
            wall - union_length(g.job_intervals, sp.start, sp.end))
        per_iter["spark.gc_s"].append(g.gc_s)
        per_iter["spark.spill_bytes"].append(g.spill_bytes)
    per_iter["session.start_s"] = starts
    per_iter["cells.kernel_rows_per_s"] = [kernel_rows_per_s(seed)]

    self_s: dict[str, float] = {}
    for idx, sp in enumerate(tracer.spans):
        self_s[sp.layer] = self_s.get(sp.layer, 0.0) + tracer.self_time(idx)
    med_u = statistics.median(untraced_iters)
    med_t = statistics.median(traced_iters)
    overhead = {"untraced_iteration_s": med_u, "traced_iteration_s": med_t,
                "overhead_s": med_t - med_u, "overhead_share": (med_t - med_u) / med_u}
    return per_iter, wl.layers(tracer, groups), dict(sorted(self_s.items())), overhead


def host_info(spark, cpus: int) -> dict:
    import pyspark

    return {"nproc": cpus, "master": f"local[{cpus}]", "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "machine": platform.machine()}


def bring_up(wl, app: str, cpus: int, scratch: str, event_log: str | None, setups: int,
             setup: list, starts: list):
    """Set up `setups` times (session start, open the inputs, warm the first
    step on the warm-up inputs), timing each; then, untimed, warm every step.
    Returns the last session."""
    spark = None
    for _ in range(setups):
        if spark is not None:
            spark.stop()
        t0 = time.monotonic()
        spark = start_session(app, cpus, scratch, event_log)
        starts.append(time.monotonic() - t0)
        wl.open(spark)
        wl.warm(every_step=False)
        setup.append(time.monotonic() - t0)
    wl.warm(every_step=True)
    return spark


def run(args, scratch: str) -> int:
    from perfbench.trace import PeakRss, Tracer, parse_event_log, summarize
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, scratch)
    t0 = time.monotonic()
    gen_info = wl.prepare()
    input_gen_s = time.monotonic() - t0

    steps: dict[str, list[float]] = {}
    iters: list[float] = []
    cpu: list[float] = []
    failures: list[str] = []
    setup, starts = [], []
    attempted = 0
    with PeakRss() as rss:
        spark = bring_up(wl, f"perfbench-{wl.name}", cpus, scratch, None, SETUPS, setup,
                         starts)
        host = host_info(spark, cpus)
        for s in wl.check_once():
            attempted += 1
            if not s.ok:
                failures.append(f"{s.name}: {s.detail}")
        untraced = Tracer(spark.sparkContext, "untraced", enabled=False)
        attempted += loop(wl, args.seconds / (2 if args.trace else 1), untraced, 0, steps, iters,
                          cpu, failures)
        spark.stop()
        if args.trace:
            # a fresh JVM, so that the traced loop starts as cold as the
            # untraced one and their difference is the tracing overhead
            stop_jvm()
            log_dir = os.path.join(scratch, "event-log")
            spark = bring_up(wl, f"perfbench-{wl.name}-traced", cpus, scratch, log_dir, 1, [],
                             [])
            tracer = Tracer(spark.sparkContext, f"{wl.name}-s{args.seed}")
            t_steps: dict[str, list[float]] = {}
            t_iters: list[float] = []
            attempted += loop(wl, args.seconds / 2, tracer, 1000, t_steps, t_iters, [],
                              failures)
            with tracer.span("bench", "probes"):
                wl.probes(tracer)
            spark.stop()

    named = {"setup_s": (setup, "s"), "iteration_s": (iters, "s"),
             "iteration_cpu_s": (cpu, "s"), **wl.named(steps, iters)}
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "shape": "closed loop, 1 client, 1 driver process",
        "host": host, "sizes": wl.sizes, "input_gen_s": input_gen_s, **gen_info,
        "session_start_s": starts,
        "attempted": attempted, "error_rate": len(failures) / max(1, attempted),
        "failures": failures[:20],
        "peak_rss_mb": rss.peak / 2**20,
        "peak_rss_mb_by_process": {k: v / 2**20 for k, v in rss.at_peak.items()},
        "metrics": {k: {"unit": u, **summarize(v)} for k, (v, u) in named.items()},
    }
    metrics = {"setup_s": statistics.median(setup), "iteration_cpu_s": statistics.median(cpu),
               "peak_rss_mb": rss.peak / 2**20}
    units = E2E_UNITS
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        groups = parse_event_log(log_dir)
        tracer.dump(os.path.join(results, f"{name}-spans.jsonl"))
        per_iter, layers, self_s, overhead = traced_metrics(
            wl, tracer, groups, iters, t_iters, starts, args.seed)
        all_units = {**LAYER_UNITS, **REPORT_ONLY_UNITS}
        report["traced_metrics"] = {k: {"unit": all_units[k], **summarize(v)}
                                    for k, v in per_iter.items()}
        report["traced_named"] = {k: {"unit": u, **summarize(v)}
                                  for k, (v, u) in wl.named(t_steps, t_iters).items()}
        report["layers"] = layers
        report["traced_iterations"] = len(t_iters)
        report["self_s"] = self_s
        report["trace_overhead"] = overhead
        metrics = {k: statistics.median(per_iter[k]) for k in LAYER_UNITS}
        units = LAYER_UNITS

    with open(os.path.join(results, f"{name}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    _print_table(report)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if not failures else 1


def _print_table(report: dict) -> None:
    lines = [f"{report['workload']} seed={report['seed']} host={report['host']}",
             f"  sizes {report['sizes']}", f"  input_gen_s {report['input_gen_s']:.2f}",
             f"  error_rate {report['error_rate']:.4f}  peak_rss_mb {report['peak_rss_mb']:.0f}"]
    for k, m in report["metrics"].items():
        lines.append(f"  {k:28s} {m['median']:14.4f} {m['unit']:6s} "
                     f"q1 {m['q1']:.4f} q3 {m['q3']:.4f} n={m['n']}")
    for section in ("traced_metrics", "traced_named"):
        for k, m in report.get(section, {}).items():
            lines.append(f"  [traced] {k:28s} {m['median']:14.4f} {m['unit']}")
    for k, v in report.get("layers", {}).items():
        lines.append(f"  [layer] {k:34s} {v}")
    for k, v in report.get("self_s", {}).items():
        lines.append(f"  [self_s] {k:33s} {v:.4f}")
    if "trace_overhead" in report:
        lines.append(f"  [overhead] {report['trace_overhead']}")
    print("\n".join(lines), file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["north_star", "joins_and_harvest", "spatial_joins", "stac_harvest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "stac_to_geocore_spark", "__init__.py")):
        print(f"no stac_to_geocore_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    scratch = os.path.join(HERE, ".scratch", f"run-{os.getpid()}")
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _env(scratch)
    try:
        return run(args, scratch)
    finally:
        stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
