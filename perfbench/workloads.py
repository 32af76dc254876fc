"""The benchmark's workloads and the run context they share.

Every workload is a closed loop with one client: a single driver thread
issues the next operation only after the previous one has returned. The
program is driven only through its public functions
(``session.get_spark``, ``json_source.write_raw_snapshot``,
``runner.run_silver/run_gold/run_dashboard``, ``runner.read_silver``,
``sinks.read_table`` and the corpus registry), always looked up as module
attributes so that a traced run can wrap them.
"""

from __future__ import annotations

import os
import random
import signal
import subprocess
import sys
import time
from collections import Counter
from contextlib import contextmanager
from datetime import datetime
from types import SimpleNamespace

import pandas as pd

from corpus_data import generate as generate_corpus
from market import GoldModel, MarketGenerator
from measure import count_files, median, tree_bytes
from tracing import Tracer

from tests.oracle_harness import _normalize as normalize
from tests.oracle_harness import assert_frames_match, run_duckdb

STAMP = "2026-01-01 00:00:00"  # fixed processed/analysis time: outputs repeat
STAMP_DT = datetime(2026, 1, 1)
DASHBOARD_READS = 4  # serving reads after each cycle

# Input sizes (README.md, "Input sizes", gives the measurements behind them)
MICRO_ASSETS = 100  # one CoinCap /v3/assets page, the reference's batch
MICRO_HISTORY = 200  # landed snapshots before the first timed cycle
CORPUS_SCALE = 1.0  # 60k lineitems: sf0.01, the repository's oracle scale
CORPUS_ROUNDS = 1
CORPUS_MIX = (
    "q3_shipping_priority",
    "q5_nation_volume",
    "w1_latest_event_per_user",
    "a16_rfm_segments",
    "o8_weighted_median_prices",
    "sim_ann_ivf_topk",
    "sim_pq_topk",
    "dedup_minhash_lsh",
    "text_bm25_topk",
    "graph_pagerank",
    "events_sessionized",
    "dq_table_diff",
)
GOLD_COLUMNS = {
    "daily_overview": [
        "id", "name", "symbol", "rank", "price_usd", "market_cap_usd",
        "volume_usd_24hr", "change_percent_24hr", "vwap_24hr", "supply",
        "max_supply", "explorer", "data_referencia", "data_processamento_analise",
    ],
    "top_gainers_losers": [
        "name", "symbol", "change_percent_24hr", "price_usd", "tipo_movimento",
        "data_referencia", "data_processamento_analise",
    ],
    "market_dominance": [
        "name", "symbol", "market_cap_usd", "percent_market_cap",
        "data_referencia", "data_processamento_analise",
    ],
    "supply_dynamics": [
        "name", "symbol", "supply", "max_supply", "market_cap_per_unit_supply",
        "status_oferta_maxima", "data_referencia", "data_processamento_analise",
    ],
}


def pkg():
    """The program's modules, imported from the checkout."""
    from project_crypto_data_engineering_gcp_spark import session
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import json_source, sinks

    return session, runner, json_source, sinks


class Run:
    """State of one benchmark run: the session, the op timings, the
    correctness tally and the tracer."""

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.op_s: list[float] = []  # primary operations: cycle / query
        self.read_s: list[float] = []  # serving reads
        self.op_traces: list[str] = []
        self.read_traces: list[str] = []
        self.timed_s = 0.0
        self.session_s = 0.0
        self.warmup_s = 0.0
        self.info: dict = {}
        self.cycle_counts: dict[str, dict[str, int]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # -- session ---------------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # keep the JVM's scratch files (and no hsperfdata) in the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
        }
        if self.tracer.enabled:
            os.makedirs(self.path("events"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("events"),
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start_session(self) -> None:
        """Start the session once, driver JVM launch included: the start
        a user pays."""
        session = pkg()[0]
        t = time.perf_counter()
        self.spark = session.get_spark("perfbench", extra_conf=self.spark_conf())
        self.session_s = time.perf_counter() - t
        self.tracer.spark_context = self.spark.sparkContext

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def stop(self) -> None:
        """Stop the session and the driver JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        children = descendants(proc.pid)  # e.g. Python worker daemons
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in children:
            while alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)

    # -- operations ------------------------------------------------------
    @contextmanager
    def op(self, trace_id: str, kind: str):
        """Time one operation (a ``read``, or a primary cycle or
        query); under tracing it is a trace with a root span
        ``bench.<kind>``."""
        with self.tracer.trace(trace_id), self.tracer.span(f"bench.{kind}"):
            t = time.perf_counter()
            yield
            wall = time.perf_counter() - t
        if kind == "read":
            self.read_s.append(wall)
            self.read_traces.append(trace_id)
        else:
            self.op_s.append(wall)
            self.op_traces.append(trace_id)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def dashboard(self, out: str) -> list:
        runner = pkg()[1]
        with self.tracer.span("bench.dashboard_read"):
            return runner.run_dashboard(self.spark, out).collect()

    def timed_until(self, step, done=lambda i: True) -> None:
        """Call ``step(i)`` for i = 0, 1, ... until ``seconds`` have passed
        and ``done(i)`` holds."""
        start = time.perf_counter()
        i = 0
        while True:
            step(i)
            i += 1
            if time.perf_counter() - start >= self.seconds and done(i):
                break
        self.timed_s = time.perf_counter() - start


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from the /proc parent links."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)] = int(st[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


# -- pipeline helpers -----------------------------------------------------


def snapshot_counts(landing: str, out: str) -> dict[str, int]:
    silver = os.path.join(out, "silver", "assets")
    return {
        "landing_files": count_files(landing, ".json"),
        "silver_files": count_files(silver, ".parquet"),
        "silver_versions": count_files(os.path.join(silver, "_txlog"), ".json")
        + count_files(os.path.join(silver, "_delta_log"), ".json"),
    }


def verify_tables(run: Run, out: str, model: GoldModel) -> None:
    """End-of-run check: Silver holds every landed row and the serving
    Gold tables equal the pure-Python model."""
    _, runner, _, sinks = pkg()
    n = runner.read_silver(run.spark, out).count()
    run.record(n == model.silver_rows, f"silver rows {n} != {model.silver_rows}")
    got = {
        name: [
            tuple(r)
            for r in sinks.read_table(run.spark, os.path.join(out, "gold", "serving", name))
            .select(*cols)
            .collect()
        ]
        for name, cols in GOLD_COLUMNS.items()
    }
    bad = gold_mismatches(got, model)
    for name in GOLD_COLUMNS:
        run.record(name not in bad, f"gold table {name} differs from the model")


def gold_mismatches(got: dict[str, list[tuple]], model: GoldModel) -> list[str]:
    """Names of the Gold tables whose rows (as a multiset) differ from
    the model's."""
    want = model.gold(STAMP_DT)
    return [name for name in GOLD_COLUMNS if Counter(got[name]) != Counter(want[name])]


def pipeline_microbatch(run: Run) -> None:
    _, runner, json_source, _ = pkg()
    gen = MarketGenerator(run.seed, MICRO_ASSETS)
    land, out = run.path("landing"), run.path("out")
    glob = f"{land}/coincap_data_*.json"
    model = GoldModel()
    for p in gen.batch(0, MICRO_HISTORY):
        json_source.write_raw_snapshot(p, land)
        model.add(p)
    run.start_session()
    # warm-up: the one-off catch-up a deployment pays before it serves
    # cycles - ingest the seeded history and build Gold once
    t = time.perf_counter()
    n = runner.run_silver(run.spark, glob, out, processed_at=STAMP)
    runner.run_gold(run.spark, out, analysis_at=STAMP)
    run.warmup_s = time.perf_counter() - t
    run.record(n == model.silver_rows, f"history ingest {n} rows != {model.silver_rows}")
    run.info["input"] = (
        f"{MICRO_ASSETS} assets/snapshot, {MICRO_HISTORY} snapshots of history, "
        f"1 snapshot per cycle, {DASHBOARD_READS} dashboard reads per cycle"
    )

    def cycle(i: int) -> None:
        payload = gen.snapshot(MICRO_HISTORY + i)
        trace_id = f"cycle-{i}"
        if run.tracer.enabled:
            run.cycle_counts[trace_id] = snapshot_counts(land, out)
        with run.op(trace_id, "cycle"):
            json_source.write_raw_snapshot(payload, land)
            n = runner.run_silver(run.spark, glob, out, processed_at=STAMP)
            runner.run_gold(run.spark, out, analysis_at=STAMP)
            rows = run.dashboard(out)
        model.add(payload)
        expected = model.dashboard_rows()
        run.record(
            n == len(payload["data"]) and len(rows) == expected,
            f"cycle {i}: ingested {n} (want {len(payload['data'])}), "
            f"dashboard {len(rows)} rows (want {expected})",
        )
        read_dashboards(run, out, f"read-{i}", expected)

    run.timed_until(cycle, done=lambda i: i >= 3)
    run.info["landed_bytes"] = tree_bytes(land)
    run.info["out_bytes"] = tree_bytes(out)
    verify_tables(run, out, model)


def read_dashboards(run: Run, out: str, prefix: str, expected: int) -> None:
    for j in range(DASHBOARD_READS):
        trace_id = f"{prefix}-{j}"
        with run.op(trace_id, "read"):
            rows = run.dashboard(out)
        run.record(len(rows) == expected, f"{trace_id}: {len(rows)} rows, want {expected}")


# -- corpus ---------------------------------------------------------------


def checksum(df: pd.DataFrame) -> int:
    """Orderless checksum of a normalized frame: sum of row hashes."""
    return int(pd.util.hash_pandas_object(df, index=False).sum()) & (2**64 - 1)


def oracle_mismatch(got: pd.DataFrame, name: str, sql: str, data: str) -> str | None:
    """Compare a fetched result with its DuckDB oracle by the repository's
    oracle harness: None when equal, else the harness's reason."""
    try:
        assert_frames_match(SimpleNamespace(toPandas=lambda: got), run_duckdb(sql, data), name)
    except AssertionError as e:
        return str(e)
    return None


def corpus_mix(run: Run) -> None:
    from project_crypto_data_engineering_gcp_spark.plans import all_queries

    data = run.path("corpus")
    sizes = generate_corpus(data, run.seed, CORPUS_SCALE)
    run.info["input"] = f"corpus tables at scale {CORPUS_SCALE}: {sizes}"
    queries = all_queries()
    run.start_session()

    # warm-up = the first call of each query; its result is checked
    # against the DuckDB oracle (oracle time is not set-up time)
    verified: dict[str, tuple[int, int]] = {}
    for name in CORPUS_MIX:
        t = time.perf_counter()
        got = queries[name].fn(run.spark, data).toPandas()
        run.warmup_s += time.perf_counter() - t
        reason = oracle_mismatch(got, name, queries[name].oracle, data)
        run.record(reason is None, f"{name} vs oracle: {reason}")
        verified[name] = (len(got), checksum(normalize(got)))

    rng = random.Random(run.seed)
    stream: list[str] = []
    per_query: dict[str, list[float]] = {}

    def query(i: int) -> None:
        if not stream:
            stream.extend(rng.sample(CORPUS_MIX, len(CORPUS_MIX)))
        name = stream.pop()
        trace_id = f"query-{i}:{name}"
        with run.op(trace_id, "query"):
            got = queries[name].fn(run.spark, data).toPandas()
        per_query.setdefault(name, []).append(run.op_s[-1])
        norm = normalize(got)
        run.record(
            (len(norm), checksum(norm)) == verified[name],
            f"{trace_id}: result differs from the verified one",
        )

    # whole rounds only, at least CORPUS_ROUNDS: every query runs equally
    # often
    run.timed_until(
        query, done=lambda i: i % len(CORPUS_MIX) == 0 and i >= CORPUS_ROUNDS * len(CORPUS_MIX)
    )
    run.read_s = list(run.op_s)  # every corpus query is a read
    run.info["per_query_p50_s"] = {q: median(v) for q, v in per_query.items()}


WORKLOADS = {
    "pipeline_microbatch": pipeline_microbatch,
    "corpus_mix": corpus_mix,
}
