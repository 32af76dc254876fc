"""Raw market-snapshot JSON ingest (reference S1-S4).

The reference lands one pretty-printed JSON document per API snapshot in
object storage (`1-cloud_function_get_data.py:49-69`) and reads all
unprocessed documents with a multiline glob scan + schema inference
(`2-spark_processed_assats_list.py:37-41`). This engine keeps the same
envelope but:

  - declares an explicit ``StructType`` (inference over the sparse
    ``tokens`` map is nondeterministic across payloads and costs an extra
    full read — SURVEY §4 'schema inference cost'),
  - models ``tokens`` as ``map<string, array<string>>`` and preserves it
    (the reference silently drops it — superset capability, SURVEY §1.2),
  - uses replay-stable snapshot filenames derived from the payload's own
    timestamp (quirk Q8), so re-ingesting a snapshot overwrites rather
    than duplicates.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, types as T

# CoinCap-style envelope: all numerics are decimal strings (SURVEY §1.2)
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("rank", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("supply", T.StringType()),
        T.StructField("maxSupply", T.StringType()),
        T.StructField("marketCapUsd", T.StringType()),
        T.StructField("volumeUsd24Hr", T.StringType()),
        T.StructField("priceUsd", T.StringType()),
        T.StructField("changePercent24Hr", T.StringType()),
        T.StructField("vwap24Hr", T.StringType()),
        T.StructField("explorer", T.StringType()),
        T.StructField(
            "tokens", T.MapType(T.StringType(), T.ArrayType(T.StringType()))
        ),
    ]
)

RAW_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("data", T.ArrayType(ASSET_SCHEMA)),
        T.StructField("timestamp", T.LongType()),
        # PERMISSIVE mode lands unparseable documents here instead of
        # failing the batch; the reader splits them off for quarantine
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def snapshot_filename(payload_ts_ms: int) -> str:
    """Replay-stable raw object name from the payload's own epoch-ms
    timestamp (reference `1:49-56`, quirk Q8)."""
    dt = datetime.fromtimestamp(payload_ts_ms / 1000, tz=timezone.utc)
    return f"coincap_data_{dt.strftime('%Y%m%d_%H%M%S')}.json"


def write_raw_snapshot(payload: dict, landing_dir: str) -> str:
    """Land one API payload as a pretty-printed JSON document (reference
    S3 `1:59-69`). Driver-side IO — ingest is one ~65 KB doc per call."""
    os.makedirs(landing_dir, exist_ok=True)
    path = os.path.join(landing_dir, snapshot_filename(payload["timestamp"]))
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=4, ensure_ascii=False)
    return path


def read_raw_json(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Multiline-JSON scan with explicit schema (reference S4 `2:37-41`,
    minus the inference pass) over a glob or an explicit file list. One
    row per snapshot document; ``input_file_name`` is exposed as
    ``_source_file`` for the ingest ledger.

    PERMISSIVE parsing: a malformed document becomes one row with only
    ``_corrupt_record`` set — it is dropped here (and quarantined by
    :func:`read_corrupt_json`) rather than failing the whole batch, so
    one bad upload can never wedge ingestion (the reference would throw).

    The returned frame is CACHED and owned by the caller, who unpersists
    it when done. Spark refuses a JSON scan whose only referenced column
    is the corrupt-record column (``count()``/``isEmpty()`` after this
    filter would be one); materializing the cache reads every column, so
    any later action is legal."""
    from pyspark.sql import functions as F

    return (
        _read_permissive(spark, paths)
        .filter(F.col("_corrupt_record").isNull())
        .drop("_corrupt_record")
        .cache()
    )


def _read_permissive(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        spark.read.schema(RAW_ENVELOPE_SCHEMA)
        .option("multiline", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(paths)
        .withColumn("_source_file", F.input_file_name())
    )


def read_corrupt_json(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """The quarantine view: source file + raw text of every document the
    PERMISSIVE reader could not parse (for alerting / replay). The whole
    parse is cached first, for the corrupt-record-only restriction above."""
    from pyspark.sql import functions as F

    return (
        _read_permissive(spark, paths)
        .cache()
        .filter(F.col("_corrupt_record").isNotNull())
        .select("_source_file", "_corrupt_record")
    )
