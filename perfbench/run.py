"""Benchmark entry point: run one workload from a seed, check its outputs
and print its metrics.

    python3 perfbench/run.py --workload pipeline_microbatch --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout of the repository: the program is
imported from that checkout, and every file the run writes stays under
``.perfbench_work/`` there, which is wiped at the start of each run.
Human-readable lines go to stdout first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the program's layer
functions in spans and reports per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import signal
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "project_crypto_data_engineering_gcp_spark"
WATCHDOG_S = 170  # a run must end within 180 s

from measure import jvm_gc_s, machine, median, peak_rss_mb, process_cpu_s, tail  # noqa: E402
from tracing import Tracer, read_event_log, self_time, union_length  # noqa: E402

SOURCES_TIMED = ("write_raw_snapshot", "read_raw_json", "read_ledger", "write_history", "record_ingested")
SPARK_FIELDS = (
    ("jobs", "jobs", "count", 1),
    ("stages", "stages", "count", 1),
    ("tasks", "tasks", "count", 1),
    ("input_bytes", "input_bytes", "bytes", 1),
    ("output_bytes", "output_bytes", "bytes", 1),
    ("shuffle_write_bytes", "shuffle_write_bytes", "bytes", 1),
    ("shuffle_read_bytes", "shuffle_read_bytes", "bytes", 1),
    ("spill_bytes", "spill_bytes", "bytes", 1),
    ("executor_run_s", "executor_run_ms", "s", 1e-3),
    ("executor_cpu_s", "executor_cpu_ns", "s", 1e-9),
    ("gc_s", "gc_ms", "s", 1e-3),
)


def pin_environment(work: str) -> None:
    """Fix the machine shape from outside the program: all cores, a
    driver heap well below physical memory, private scratch dirs, UTC."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def end_to_end(run) -> dict:
    return {
        "setup_s": (run.session_s + run.warmup_s, "s"),
        "op_latency_s": (median(run.op_s), "s"),
        "read_latency_s": (median(run.read_s), "s"),
        "ops_per_s": (len(run.op_s) / run.timed_s, "1/s"),
    }


def per_layer(run, tracer: Tracer, spark_by_span: dict, cores: int, rss_mb: float) -> dict:
    from workloads import CORPUS_MIX

    traces = tracer.by_trace()
    children = tracer.children()
    ops = [traces[t] for t in run.op_traces]

    def per_op(fn) -> float:
        return median([fn(spans) for spans in ops]) if ops else 0.0

    def summed(name: str):
        return lambda spans: sum(s.end - s.start for s in spans if s.name == name)

    def runner_self(name: str):
        return lambda spans: sum(
            self_time(s, [c for c in children[s.id] if c.name.startswith("sources.")])
            for s in spans
            if s.name == name
        )

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (run.session_s, "s"),
        "session.warmup_s": (run.warmup_s, "s"),
    }
    for name in SOURCES_TIMED:
        m[f"sources.{name}_s"] = (per_op(summed(f"sources.{name}")), "s")
    m["sources.write_history_calls"] = (
        per_op(lambda spans: sum(s.name == "sources.write_history" for s in spans)),
        "count",
    )
    for key in ("landing_files", "silver_files", "silver_versions"):
        vals = [c[key] for c in run.cycle_counts.values()]
        m[f"sources.{key}"] = (median(vals), "count")
    out_bytes = run.info.get("out_bytes", 0)
    landed = run.info.get("landed_bytes", 0)
    m["sources.out_bytes"] = (out_bytes, "bytes")
    m["sources.stored_bytes_per_input_byte"] = (out_bytes / landed if landed else 0.0, "ratio")
    m["plans.runner.run_silver_s"] = (per_op(runner_self("plans.runner.run_silver")), "s")
    m["plans.runner.run_gold_s"] = (per_op(runner_self("plans.runner.run_gold")), "s")
    reads = [traces[t] for t in run.read_traces]
    m["plans.runner.run_dashboard_s"] = (
        median([summed("bench.dashboard_read")(spans) for spans in reads]),
        "s",
    )
    builds = [(s.start, s.end) for s in tracer.spans if s.name == "plans.pooling.build"]
    m["plans.pooling.hits"] = (tracer.pool_calls - tracer.pool_builds, "count")
    m["plans.pooling.misses"] = (tracer.pool_builds, "count")
    m["plans.pooling.build_s"] = (union_length(builds), "s")
    for q in CORPUS_MIX:
        m[f"corpus.{q}.p50_s"] = (
            median([s.end - s.start for t in run.op_traces if t.endswith(f":{q}")
                    for s in traces[t] if s.name == "bench.query"]),
            "s",
        )

    def op_spark(spans) -> dict[str, float]:
        tot: dict[str, float] = defaultdict(float)
        for s in spans:
            sm = spark_by_span.get(s.id)
            if sm is not None:
                for field, value in vars(sm).items():
                    tot[field] += value
        return tot

    per_op_spark = [op_spark(spans) for spans in ops]
    for name, field, unit, scale in SPARK_FIELDS:
        m[f"spark.{name}"] = (median([t[field] * scale for t in per_op_spark]), unit)
    busy = [
        t["executor_run_ms"] / 1e3 / (dur * cores)
        for t, dur in zip(per_op_spark, run.op_s)
    ]
    m["spark.busy_ratio"] = (median(busy), "ratio")
    m["peak_rss_mb"] = (rss_mb, "MB")
    m["trace.op_latency_s"] = end_to_end(run)["op_latency_s"]
    m["trace.spans_per_op"] = (per_op(len), "count")
    return m


def instrument(tracer: Tracer) -> None:
    """Wrap the program's layer entry points (module attributes bound to
    functions) in spans."""
    import importlib

    def mod(name):
        return importlib.import_module(f"{PACKAGE}.{name}")

    tracer.instrument(mod("session"), only={"get_spark"})
    tracer.instrument(mod("sources.json_source"), only={"write_raw_snapshot"})
    tracer.instrument(mod("plans.runner"))
    tracer.instrument(mod("plans.pooling"), only={"bounded_cached"}, pool=True)
    tracer.instrument(mod("plans.queries_similarity"), only={"bounded_cached"}, pool=True)
    tracer.instrument(
        mod("plans.queries_dedup"), only={"bounded_cached", "_bounded_cached"}, pool=True
    )


def start_watchdog(seconds: float) -> None:
    """Hard deadline: print every thread's stack, kill the driver JVM and
    its children, and exit non-zero, so a hung run still ends in time."""

    def fire():
        from pyspark import SparkContext
        from workloads import descendants

        print(f"perfbench: no result after {seconds:.0f} s, aborting", file=sys.stderr)
        faulthandler.dump_traceback(all_threads=True)
        gw = SparkContext._gateway
        if gw is not None and gw.proc is not None:
            for pid in [gw.proc.pid, *descendants(gw.proc.pid)]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            gw.proc.wait()
        os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    start_watchdog(WATCHDOG_S)
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    box = machine()

    tracer = Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        instrument(tracer)
    run = Run(work, args.seed, args.seconds, tracer)
    try:
        WORKLOADS[args.workload](run)
        rss = peak_rss_mb(run.jvm_pid())
        jvm_cpu, gc = process_cpu_s(run.jvm_pid()), jvm_gc_s(run.spark)
    finally:
        run.stop()

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    if tracer.enabled:
        tracer.restore()
        tracer.dump(os.path.join(work, "spans.jsonl"))
        metrics = per_layer(run, tracer, read_event_log(os.path.join(work, "events")), cores, rss)
    else:
        metrics = end_to_end(run)

    print(f"workload {args.workload} seed {args.seed}: closed loop, 1 client, "
          f"local[{cores}]; {run.info.get('input', '')}")
    print("machine " + json.dumps(box))
    print(f"session start {run.session_s:.4f} s (driver JVM launch included)")
    for label, values in (("op", run.op_s), ("read", run.read_s)):
        t = tail(values)
        if t is not None:
            print(f"{label}_tail_s {t[0]:.4f} s (p{t[1]} of {t[2]} samples)")
        else:
            print(f"{label}_tail_s n/a ({len(values)} samples, need 11)")
    for key in ("per_query_p50_s", "landed_bytes", "out_bytes"):
        if key in run.info:
            print(f"{key} {json.dumps(run.info[key])}")
    print(f"peak_rss_mb {rss:.1f} MB (driver JVM + Python high-water mark)")
    print(f"jvm_cpu_s {jvm_cpu:.2f} s, jvm_gc_s {gc:.2f} s (whole run)")
    print(f"error_rate {run.failed / max(1, run.attempted):.4f} "
          f"({run.failed} of {run.attempted} operations)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
