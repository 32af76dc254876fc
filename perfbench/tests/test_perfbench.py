"""Self-tests of the benchmark: generator determinism, metric naming,
the correctness checks firing on corrupted results, and span self time.

    python3 -m pytest perfbench/tests -q

None of these start Spark.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq
import pytest

import corpus_data
import run as bench_run
from market import GoldModel, MarketGenerator, spark_round
from tracing import Span, Tracer, read_event_log, self_time, union_length
from workloads import (
    CORPUS_MIX,
    GOLD_COLUMNS,
    STAMP_DT,
    Run,
    checksum,
    gold_mismatches,
    normalize,
    oracle_mismatch,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# -- generator ------------------------------------------------------------


def test_market_generator_is_deterministic_per_seed():
    a, b = MarketGenerator(7, 200), MarketGenerator(7, 200)
    assert a.snapshot(3) == b.snapshot(3)
    assert a.batch(0, 4) == b.batch(0, 4)
    assert MarketGenerator(8, 200).snapshot(3) != a.snapshot(3)
    assert a.snapshot(3) != a.snapshot(4)


def test_market_snapshot_shape():
    gen = MarketGenerator(1, 2000)
    snap = gen.snapshot(0)
    rows = snap["data"]
    assert len(rows) == 2000 and isinstance(snap["timestamp"], int)

    def null_rate(key):
        return sum(r[key] is None for r in rows) / len(rows)

    assert 0.45 < null_rate("maxSupply") < 0.61
    assert 0.08 < null_rate("explorer") < 0.16
    assert 0.03 < null_rate("vwap24Hr") < 0.09
    for r in rows[:50]:  # numerics are decimal strings
        float(r["priceUsd"]), float(r["marketCapUsd"]), int(r["rank"])
        assert isinstance(r["supply"], str)
    assert any(
        r["maxSupply"] is not None and float(r["supply"]) >= float(r["maxSupply"])
        for r in rows
    )
    changes = [float(r["changePercent24Hr"]) for r in rows]
    assert sum(c > 10 for c in changes) >= 10 and sum(c < -10 for c in changes) >= 10
    caps = sorted(float(r["marketCapUsd"]) for r in rows)
    assert caps[-1] > 1000 * caps[len(caps) // 2]  # heavy tail
    symbols = [r["symbol"] for r in rows]
    assert len(set(symbols)) < len(symbols)  # some symbols repeat
    ids0 = {r["id"] for r in rows}
    ids1 = {r["id"] for r in gen.snapshot(1)["data"]}
    assert ids0 != ids1 and len(ids0 & ids1) > 1900  # a few enter and leave


def test_corpus_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    sizes = corpus_data.generate(str(a), 5, 0.1)
    corpus_data.generate(str(b), 5, 0.1)
    corpus_data.generate(str(c), 6, 0.1)
    assert sizes["lineitem"] > 0
    for t in sizes:
        ta, tb = pq.read_table(a / f"{t}.parquet"), pq.read_table(b / f"{t}.parquet")
        assert ta.equals(tb), t
    assert not pq.read_table(a / "orders.parquet").equals(pq.read_table(c / "orders.parquet"))


# -- metric names -----------------------------------------------------------


def test_benchmark_json_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for key in ("end_to_end", "per_layer"):
        for m in spec[key]:
            assert NAME.match(m["name"]), m
            assert UNIT.match(m["unit"]), m
            assert m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _fake_run() -> tuple[Run, Tracer]:
    tracer = Tracer()
    run = Run("/nonexistent", 1, 1.0, tracer)
    with run.op("query-0:" + CORPUS_MIX[0], "query"):
        pass
    run.read_s = list(run.op_s)
    run.timed_s = 1.0
    return run, tracer


def test_emitted_metrics_match_benchmark_json():
    spec = _spec()
    run, tracer = _fake_run()
    e2e = bench_run.end_to_end(run)
    layer = bench_run.per_layer(run, tracer, {}, 4, 100.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (_, u) in layer.items()
    }


# -- correctness checks fire ------------------------------------------------


def _model() -> GoldModel:
    model = GoldModel()
    gen = MarketGenerator(3, 60)
    for p in gen.batch(0, 3):
        model.add(p)
    return model


def test_gold_check_fires_on_a_dropped_or_altered_row():
    model = _model()
    good = model.gold(STAMP_DT)
    assert gold_mismatches(good, model) == []
    dropped = dict(good, market_dominance=good["market_dominance"][1:])
    assert gold_mismatches(dropped, model) == ["market_dominance"]
    row = list(good["daily_overview"][0])
    row[4] = row[4] + 1.0  # price_usd
    altered = dict(good, daily_overview=[tuple(row)] + good["daily_overview"][1:])
    assert gold_mismatches(altered, model) == ["daily_overview"]
    assert set(GOLD_COLUMNS) == set(good)


def test_dashboard_row_check_counts_a_failed_operation():
    model = _model()
    run = Run("/nonexistent", 1, 1.0, Tracer(enabled=False))
    expected = model.dashboard_rows()
    assert expected > 0
    run.record(expected == model.dashboard_rows(), "intact dashboard")
    run.record(expected - 1 == model.dashboard_rows(), "dropped dashboard row")
    assert (run.attempted, run.failed) == (2, 1)


def test_corpus_checksum_is_orderless_and_catches_a_changed_value():
    df = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, None, 2.25], "s": ["c", "a", "b"]})
    shuffled = df.sample(frac=1.0, random_state=1)
    assert checksum(normalize(df)) == checksum(normalize(shuffled))
    altered = df.copy()
    altered.loc[0, "v"] = 0.5000001
    assert checksum(normalize(altered)) != checksum(normalize(df))


def test_oracle_check_fires_on_a_changed_or_dropped_row(monkeypatch):
    import workloads

    df = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, None, 2.25]})
    monkeypatch.setattr(workloads, "run_duckdb", lambda sql, data: df)
    assert oracle_mismatch(df.sample(frac=1.0, random_state=1), "q", "", "") is None
    altered = df.copy()
    altered.loc[0, "v"] = 0.5000001
    assert "column 'v' mismatch" in oracle_mismatch(altered, "q", "", "")
    assert "row count" in oracle_mismatch(df.iloc[1:], "q", "", "")


def test_spark_round_is_half_up_on_the_shortest_repr():
    assert spark_round(1.005, 2) == 1.01  # binary 1.00499999... rounds up
    assert spark_round(-2.5, 0) == -3.0
    assert spark_round(None, 4) is None


def test_dashboard_rows_fan_out_on_repeated_symbols():
    model = GoldModel()
    ts = 1748056129137
    base = {
        "rank": "1", "name": "n", "supply": "10", "maxSupply": None,
        "marketCapUsd": "100", "volumeUsd24Hr": "1", "priceUsd": "10",
        "changePercent24Hr": "1", "vwap24Hr": None, "explorer": None, "tokens": None,
    }
    model.add({"timestamp": ts, "data": [
        dict(base, id="a", symbol="S"), dict(base, id="b", symbol="S"),
    ]})
    # each of the 2 overview rows joins 2 supply x 2 dominance x 4 mover
    # rows (with only 2 assets, each is both a top gainer and a top loser)
    assert model.dashboard_rows() == 2 * (2 * 2 * 4)
    ref = model.gold(datetime(2000, 1, 1))["daily_overview"][0][12]
    assert ref == datetime(2025, 5, 24, 3, 8, 49)


# -- spans ------------------------------------------------------------------


def test_self_time_is_duration_minus_union_of_children():
    parent = Span(0, "p", 0.0, 10.0, None, "t")
    kids = [
        Span(1, "a", 1.0, 4.0, 0, "t"),
        Span(2, "b", 3.0, 5.0, 0, "t"),  # overlaps a
        Span(3, "c", 8.0, 12.0, 0, "t"),  # runs past the parent
    ]
    assert union_length([(1, 4), (3, 5)]) == 4
    assert self_time(parent, kids) == pytest.approx(10 - (4 + 2))
    assert self_time(parent, []) == 10


def test_tracer_wraps_module_functions_and_restores_them():
    import types

    mod = types.ModuleType("pkg.sources.fake")

    def f(x):
        return x + 1

    f.__module__ = "pkg.sources.fake"
    mod.f, mod.k = f, 3
    tracer = Tracer()
    tracer.instrument(mod)
    with tracer.trace("t0"):
        assert mod.f(1) == 2
    assert [(s.name, s.trace) for s in tracer.spans] == [("sources.f", "t0")]
    tracer.restore()
    assert mod.f is f and mod.k == 3


def test_pool_wrapper_counts_hits_and_misses():
    tracer = Tracer()

    def bounded_cached(memo, key, build):
        if key not in memo:
            memo[key] = build()
        return memo[key]

    wrapped = tracer.wrap_pool(bounded_cached, "plans.pooling.bounded_cached")
    memo: dict = {}
    assert wrapped(memo, "k", lambda: 5) == 5
    assert wrapped(memo, "k", lambda: 6) == 5
    assert (tracer.pool_calls, tracer.pool_builds) == (2, 1)


def test_event_log_attributes_tasks_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-span-4"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 30, "Executor CPU Time": 10**7, "JVM GC Time": 2,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 99}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    (d / "appstatus_local-1").write_text("")
    got = read_event_log(str(tmp_path))
    assert set(got) == {4}
    m = got[4]
    assert (m.jobs, m.stages, m.tasks) == (1, 1, 1)
    assert (m.input_bytes, m.shuffle_write_bytes, m.executor_run_ms, m.gc_ms) == (100, 7, 30, 2)
