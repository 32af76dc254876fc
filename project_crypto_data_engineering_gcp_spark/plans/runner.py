"""Pipeline runner: the engine's control plane (replaces the reference's
Airflow DAG + Cloud Run + Dataproc submission, `4-dag_assats-list-full.py`).

One driver process runs the stages sequentially (Gold's four table sinks
run concurrently inside their stage); each stage is a plain function over
DataFrames so the same code runs under any scheduler.

Sink layout (all local-FS/parquet here; the paths are opaque URIs, so
s3://... works unchanged):

  out/silver/assets/dt=YYYY-MM-DD/...   append, partitioned by snapshot date
  out/gold/history/<table>/...          append (reference Delta mode, Q4)
  out/gold/serving/<table>/...          overwrite (reference BigQuery mode)
  out/_ingest_ledger/                   exactly-once file ledger

Partitioning Silver by ``dt`` fixes the reference's unpartitioned-table
gap (readme:88 vs 2:65) and buys dynamic partition pruning for every
date-bounded downstream query.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.json_source import read_raw_json
from ..sources.ledger import (
    glob_escape,
    list_landing,
    read_ledger,
    record_ingested,
)
from ..sources.sinks import (
    formatted,
    read_history,
    read_table,
    write_history,
)
from .crypto_pipeline import (
    bronze_to_silver,
    dashboard,
    daily_overview,
    latest_assets,
    market_dominance,
    supply_dynamics,
    top_gainers_losers,
)

GOLD_BUILDERS = {
    "daily_overview": daily_overview,
    "top_gainers_losers": top_gainers_losers,
    "market_dominance": market_dominance,
    "supply_dynamics": supply_dynamics,
}


def silver_path(out_dir: str) -> str:
    return os.path.join(out_dir, "silver", "assets")


def run_silver(
    spark: SparkSession,
    landing_glob: str,
    out_dir: str,
    processed_at: str | None = None,
    *,
    require_input: bool = False,
) -> int:
    """Bronze -> Silver increment: ingest files not yet in the ledger,
    append to the partitioned Silver table, record them. Returns rows
    appended.

    New files are found on the driver before any scan: the landing glob
    is listed and the ledger's paths are subtracted, and only the rest
    reach the JSON reader — the reference's rename-to-``read_*`` pruning
    (`2:69-87`) without mutating the landing. A cycle parses the new
    snapshot, not the landed history; with nothing new it returns 0
    without a Spark job.

    ``require_input=True`` replays the reference's landing-validation
    gate (S10, the DAG's poll-for-files sensor `4-dag:53-81`): fail
    loudly when the glob matches NO snapshot files at all — or only
    corrupt ones — instead of silently writing no Silver rows. With
    ``require_input=False`` an unmatched glob is a graceful no-op (0
    rows) — the shape a poller wants. Already-ledgered files always count
    as input — a rerun over fully-processed landings stays a no-op
    either way."""
    listed = list_landing(spark, landing_glob)
    seen = read_ledger(out_dir)
    new = [p for p in listed if p not in seen]
    if not new:
        if require_input and not listed:
            raise _no_input(landing_glob)
        return 0
    raw = read_raw_json(spark, [glob_escape(p) for p in new])
    # quirk Q3: data_referencia is a string; dt partition derives from it
    silver = bronze_to_silver(raw, processed_at=processed_at).withColumn(
        "dt", F.substring("data_referencia", 1, 10)
    ).cache()
    try:
        # corrupt-only input counts as empty — unless earlier files were
        # ledgered, which proves the landing held valid snapshots
        if require_input and len(new) == len(listed) and raw.isEmpty():
            raise _no_input(landing_glob)
        counts = silver.groupBy("_source_file").agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        per_file = counts.collect()  # one job: also fills the Silver cache
        n = sum(r["n_rows"] for r in per_file)
        if n:
            # ONE atomic commit per ingest batch (Delta transaction when
            # delta-spark is present, txlog manifest otherwise): readers
            # never observe a half-appended Silver, and every batch is a
            # time-travelable version (reference S5, `2:65`). The txn
            # marker makes the append IDEMPOTENT on the batch identity (the
            # sorted new-source-file list): a crash between the commit and
            # record_ingested re-runs the same batch on restart, and
            # without the marker it would append the same rows twice
            # (ADVICE r8; mirrors stream_silver_available_now). Residual,
            # documented: if NEW files also land before the rerun, the
            # batch identity changes and the crashed batch's rows duplicate
            # — closing that needs the ledger folded into the same commit.
            batch_files = sorted(r["_source_file"] for r in per_file)
            # Batch identity lives in the APP ID, not the version: Delta's
            # txnAppId/txnVersion contract skips any write whose version is
            # <= the last recorded one per appId, so hash-derived versions
            # under ONE appId would silently drop ~half of all legitimate
            # new batches (ADVICE r9 high). Scoping the digest into the
            # appId (like stream_silver's stream-identity appId) makes a
            # replay an exact (appId, 0) repeat — skipped — while every new
            # batch gets a fresh appId with no prior version — applied.
            digest = hashlib.sha256("\n".join(batch_files).encode()).hexdigest()
            write_history(
                silver.drop("_source_file"),
                silver_path(out_dir),
                partition_by=["dt"],
                txn=(f"run_silver:{digest}", 0),
            )
            record_ingested(out_dir, counts)
        return n
    finally:
        silver.unpersist()
        raw.unpersist()


def _no_input(landing_glob: str) -> FileNotFoundError:
    return FileNotFoundError(
        f"landing glob {landing_glob!r} matched no snapshot files "
        "(reference S10 validation gate; pass require_input=False "
        "to allow an empty landing)"
    )


def run_gold(
    spark: SparkSession, out_dir: str, analysis_at: str | None = None
) -> dict[str, DataFrame]:
    """Silver -> Gold: latest-snapshot view (cached and materialized
    once, reused by all four analyses — fixes the reference's recompute
    pessimization) and the dual history/serving sinks (quirk Q4).

    The four tables' sinks are independent tiny jobs, so they run
    concurrently, one driver thread per table, and Spark schedules their
    jobs side by side. Once every sink has finished, the error of the
    first failed table (in ``GOLD_BUILDERS`` order) is re-raised."""
    silver = read_history(spark, silver_path(out_dir)).drop("dt")
    latest = latest_assets(silver)
    try:
        latest.count()
        gold = {
            name: build(latest, analysis_at=analysis_at)
            for name, build in GOLD_BUILDERS.items()
        }

        def sink(name: str, df: DataFrame) -> None:
            write_history(
                df,
                os.path.join(out_dir, "gold", "history", name),
                merge_schema=True,
            )
            formatted(df.write.mode("overwrite")).save(
                os.path.join(out_dir, "gold", "serving", name)
            )

        # inheritable_thread_target carries the caller's job group, local
        # properties and tags into the worker thread; wrapping once per
        # task gives each thread its own copy of the properties
        with ThreadPoolExecutor(max_workers=len(gold)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(sink), name, df)
                for name, df in gold.items()
            ]
            for f in futures:
                f.result()
    finally:
        latest.unpersist()
    return gold


def read_silver(
    spark: SparkSession, out_dir: str, version: int | None = None
) -> DataFrame:
    """Read the Silver table; ``version`` time-travels to an older
    ingest batch (Delta ``VERSION AS OF`` / txlog manifest pin)."""
    return read_history(spark, silver_path(out_dir), version=version)


def read_gold_history(
    spark: SparkSession, out_dir: str, name: str, version: int | None = None
) -> DataFrame:
    """Read a gold HISTORY table with schema merging across appends
    (reference S7 `3:86-90`: Delta merges schema at write; under txlog
    the union schema is resolved at READ — older rows surface NULL for
    columns added later). ``version`` time-travels to an older append."""
    return read_history(
        spark,
        os.path.join(out_dir, "gold", "history", name),
        version=version,
        merge_schema=True,
    )


def run_dashboard(spark: SparkSession, out_dir: str) -> DataFrame:
    """Dashboard view over the SERVING gold copies (reference `5-sql`)."""
    gold = {
        name: read_table(spark, os.path.join(out_dir, "gold", "serving", name))
        for name in GOLD_BUILDERS
    }
    return dashboard(spark, gold)


def run_pipeline(
    spark: SparkSession,
    landing_glob: str,
    out_dir: str,
    *,
    processed_at: str | None = None,
    analysis_at: str | None = None,
) -> DataFrame:
    """Full batch run: ingest -> silver -> gold -> dashboard DataFrame.
    Fails on an empty landing (reference S10 gate) — a full pipeline run
    over nothing is an orchestration error, not a no-op."""
    run_silver(
        spark, landing_glob, out_dir, processed_at=processed_at, require_input=True
    )
    run_gold(spark, out_dir, analysis_at=analysis_at)
    return run_dashboard(spark, out_dir)
