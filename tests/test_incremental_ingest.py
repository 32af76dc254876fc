"""Incremental landing ingest and concurrent Gold sinks.

``run_silver`` lists the landing glob on the driver, subtracts the
ingest ledger and parses only the new files; ``run_gold`` writes the
four Gold tables' history/serving sinks from one thread per table.
These tests pin the ledger's path-form compatibility, the S10 gate and
corrupt-document semantics, the new-files-only parse, cache hygiene,
and the concurrent sinks' failure and commit contracts.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.plans import runner
from project_crypto_data_engineering_gcp_spark.plans.runner import (
    GOLD_BUILDERS,
    read_silver,
    run_gold,
    run_silver,
)
from project_crypto_data_engineering_gcp_spark.sources import tx_table as tx
from project_crypto_data_engineering_gcp_spark.sources.json_source import (
    read_corrupt_json,
    write_raw_snapshot,
)
from project_crypto_data_engineering_gcp_spark.sources.ledger import (
    canonical_path,
    glob_escape,
    read_ledger,
    record_ingested,
)

from .fixtures_crypto import N_ASSETS, snapshot_payload, write_fixture_landing

ANALYSIS_AT = ("2025-05-25 00:00:00", "2025-05-26 00:00:00")


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _jobs_in(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _write_corrupt(landing: str, name: str = "coincap_data_99990101_000000.json") -> str:
    path = os.path.join(landing, name)
    with open(path, "w", encoding="utf-8") as f:
        f.write("{ not json !!!")
    return path


# ------------------------------------------------------------ path forms


def test_ledger_in_input_file_name_form_marks_files_seen(spark, tmp_path):
    """A ledger written before driver-side listing stores
    ``input_file_name()`` URIs (``file:///``, percent-encoded); after the
    upgrade those files must still count as ingested."""
    landing = str(tmp_path / "landing dir")
    out = str(tmp_path / "out")
    files = write_fixture_landing(landing, n_snapshots=3)
    glob = f"{landing}/coincap_data_*.json"

    # the rows the previous ingest wrote: input_file_name of a glob scan
    # over the first two snapshots
    old_rows = (
        spark.read.text([glob_escape(f) for f in sorted(files)[:2]])
        .select(F.input_file_name().alias("_source_file"))
        .groupBy("_source_file")
        .agg(F.lit(N_ASSETS).alias("n_rows"))
    )
    record_ingested(out, old_rows)
    stored = sorted(
        r[0] for r in spark.read.parquet(os.path.join(out, "_ingest_ledger")).collect()
    )
    assert all(s.startswith("file:///") and "landing%20dir" in s for s in stored)

    assert run_silver(spark, glob, out) == N_ASSETS  # only the third file
    assert run_silver(spark, glob, out) == 0
    assert read_silver(spark, out).count() == N_ASSETS
    assert read_ledger(out) == {canonical_path(f"file://{f}") for f in files}


def test_glob_metacharacters_in_landing_dir(spark, tmp_path):
    """Listed paths reach the reader as literals: a landing directory
    whose name holds glob metacharacters and ``%`` is read once."""
    landing = str(tmp_path / "land [x] 100%")
    out = str(tmp_path / "out")
    write_fixture_landing(landing, n_snapshots=2)
    glob = f"{glob_escape(landing)}/coincap_data_*.json"
    assert run_silver(spark, glob, out, require_input=True) == 2 * N_ASSETS
    assert run_silver(spark, glob, out, require_input=True) == 0
    assert read_silver(spark, out).count() == 2 * N_ASSETS


# ------------------------------------------------- S10 gate / corrupt docs


def test_require_input_on_corrupt_only_landing(spark, tmp_path):
    """Corrupt-only input counts as no input for the S10 gate."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    _write_corrupt(landing)
    glob = f"{landing}/coincap_data_*.json"
    out = str(tmp_path / "out")
    with pytest.raises(FileNotFoundError, match="matched no snapshot files"):
        run_silver(spark, glob, out, require_input=True)
    assert run_silver(spark, glob, out) == 0
    assert read_ledger(out) == set()


def test_ledgered_files_count_as_input_next_to_new_corrupt(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_fixture_landing(landing, n_snapshots=1)
    glob = f"{landing}/coincap_data_*.json"
    assert run_silver(spark, glob, out, require_input=True) == N_ASSETS
    _write_corrupt(landing)
    assert run_silver(spark, glob, out, require_input=True) == 0


def test_corrupt_document_beside_valid_is_quarantined_not_ledgered(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    files = write_fixture_landing(landing, n_snapshots=2)
    bad = _write_corrupt(landing)
    glob = f"{landing}/coincap_data_*.json"

    assert run_silver(spark, glob, out, require_input=True) == 2 * N_ASSETS
    assert read_silver(spark, out).count() == 2 * N_ASSETS
    assert read_ledger(out) == {canonical_path(f"file://{f}") for f in files}
    quarantined = read_corrupt_json(spark, glob).collect()
    assert [canonical_path(r["_source_file"]) for r in quarantined] == [
        canonical_path(f"file://{bad}")
    ]
    # the corrupt file stays unledgered and never blocks later rows
    write_fixture_landing(landing, n_snapshots=3)
    assert run_silver(spark, glob, out) == N_ASSETS
    assert canonical_path(f"file://{bad}") not in read_ledger(out)


# --------------------------------------------- new files only, no leftovers


def test_only_new_files_are_parsed_and_nothing_stays_cached(
    spark, tmp_path, monkeypatch
):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_fixture_landing(landing, n_snapshots=3)
    glob = f"{landing}/coincap_data_*.json"
    assert run_silver(spark, glob, out) == 3 * N_ASSETS

    calls: list = []
    real_read = runner.read_raw_json

    def spy(spark_, paths):
        calls.append(paths)
        return real_read(spark_, paths)

    monkeypatch.setattr(runner, "read_raw_json", spy)
    payload = snapshot_payload(2)
    payload["timestamp"] += 3600 * 1000  # one hour after the last fixture
    new_file = write_raw_snapshot(payload, landing)
    before = _persistent_rdds(spark)
    n, jobs = _jobs_in(spark, "incremental-ingest", lambda: run_silver(spark, glob, out))
    assert n == N_ASSETS and jobs  # the job-group probe sees real work
    assert calls == [[canonical_path(f"file://{new_file}")]]
    assert _persistent_rdds(spark) <= before

    n, jobs = _jobs_in(spark, "noop-rerun", lambda: run_silver(spark, glob, out))
    assert n == 0 and jobs == []
    assert len(calls) == 1
    assert read_silver(spark, out).count() == 4 * N_ASSETS


# ------------------------------------------------------- concurrent gold


@pytest.fixture
def silver_out(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_fixture_landing(landing, n_snapshots=3)
    run_silver(spark, f"{landing}/coincap_data_*.json", out)
    return out


def _history(out: str, name: str) -> str:
    return os.path.join(out, "gold", "history", name)


def test_gold_sink_failure_propagates(spark, silver_out, monkeypatch):
    real_write = runner.write_history

    def failing(df, path, **kw):
        if path.endswith(os.path.join("history", "market_dominance")):
            raise RuntimeError("injected market_dominance sink failure")
        return real_write(df, path, **kw)

    monkeypatch.setattr(runner, "write_history", failing)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected market_dominance"):
        run_gold(spark, silver_out, analysis_at=ANALYSIS_AT[0])
    assert _persistent_rdds(spark) <= before


def test_gold_commits_once_per_table_and_serving_is_newest_append(spark, silver_out):
    for i, at in enumerate(ANALYSIS_AT):
        run_gold(spark, silver_out, analysis_at=at)
        for name in GOLD_BUILDERS:
            assert tx.snapshot(_history(silver_out, name)).version == i, name

    for name in GOLD_BUILDERS:
        path = _history(silver_out, name)
        prev = set(tx.snapshot(path, version=0).files)
        newest = [f for f in tx.snapshot(path).files if f not in prev]
        appended = spark.read.parquet(*newest)
        serving = spark.read.parquet(os.path.join(silver_out, "gold", "serving", name))
        assert appended.count() == serving.count() > 0, name
        assert appended.exceptAll(serving.select(*appended.columns)).count() == 0, name
        assert serving.select(*appended.columns).exceptAll(appended).count() == 0, name
        stamps = {r[0] for r in serving.select("data_processamento_analise").distinct().collect()}
        assert {str(s) for s in stamps} == {ANALYSIS_AT[1]}, name
