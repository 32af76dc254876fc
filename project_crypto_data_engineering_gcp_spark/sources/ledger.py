"""Ingest ledger: exactly-once file ingestion without mutating the source.

The reference marks raw files processed by RENAMING them
(`2-spark_processed_assats_list.py:69-87` — `X.json` -> `read_X.json`), so
its glob never matches a processed file again. That protocol mutates the
landing zone and races concurrent readers. The engine keeps an
append-only parquet ledger of ingested source files instead, and prunes
at the same point the rename does — before the scan: the driver lists
the landing glob (Hadoop ``globStatus``), subtracts the ledger's path
set, and hands only the new files to the JSON reader. Discovery runs no
Spark job, so a cycle costs the new snapshot, not the landed history.

The Structured Streaming file source + checkpoint (streaming/incremental)
is the fully-managed alternative; the ledger serves the batch path and
keeps ingestion auditable as a table.
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession, functions as F

_GLOB_CHARS = re.compile(r"([\\{}\[\]*?])")


def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_ingest_ledger")


def canonical_path(uri: str) -> str:
    """One spelling per file for ledger comparisons. ``input_file_name()``
    (what the ledger stores) and the Hadoop listing both give
    percent-encoded URIs but disagree on ``file:///`` vs ``file:/``;
    both map to ``scheme://authority/decoded-path``, which Hadoop also
    reads back as the same file."""
    parts = urlsplit(uri)
    return f"{parts.scheme or 'file'}://{parts.netloc}{unquote(parts.path)}"


def glob_escape(path: str) -> str:
    """Quote glob metacharacters: Spark's file reader treats every path
    as a glob pattern, so a literal ``[`` in a directory name would
    otherwise match nothing."""
    return _GLOB_CHARS.sub(r"\\\1", path)


def list_landing(spark: SparkSession, glob: str) -> list[str]:
    """Canonical paths of the files matching ``glob``, sorted — listed on
    the driver with Hadoop ``globStatus`` (the same filesystem
    configuration the reader uses), no Spark job. The glob names snapshot
    files; a directory it matches is not expanded."""
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(glob)
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    matches = fs.globStatus(pattern) or []
    return sorted(
        canonical_path(s.getPath().toUri().toString()) for s in matches if s.isFile()
    )


def read_ledger(out_dir: str) -> set[str]:
    """Canonical paths of every ingested source file. The ledger is
    driver-side metadata (one row per landed file), so it is read with
    pyarrow rather than a Spark job; Spark's ``_SUCCESS``/``.crc`` and
    in-flight ``_temporary`` entries are skipped by pyarrow's default
    ``_``/``.`` prefix filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        table = pq.read_table(_ledger_path(out_dir), columns=["source_file"])
    except (FileNotFoundError, pa.ArrowInvalid):  # no ledger / no data file yet
        return set()
    return {canonical_path(p) for p in table.column("source_file").to_pylist()}


def record_ingested(out_dir: str, per_file_counts: DataFrame) -> None:
    """Append (file, ts, rows) rows; call after the Silver write commits
    so a crash between write and record only ever re-processes (the
    Silver commit's txn marker makes that replay a no-op)."""
    entries = per_file_counts.select(
        F.col("_source_file").alias("source_file"),
        F.current_timestamp().alias("ingested_at"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )
    entries.write.mode("append").parquet(_ledger_path(out_dir))
