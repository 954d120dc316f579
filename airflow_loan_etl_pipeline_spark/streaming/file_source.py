"""Incremental file ingestion (SURVEY.md §2.9 ST1-ST6).

The reference hand-rolls a micro-batch file stream: a per-minute cron
poll, a persisted JSON ledger of processed file IDs, and a 60-second
minimum file age so in-flight uploads aren't consumed
(/root/reference/airflow/dags/drive_auto_compress_email.py:582, :85-111,
:71, :227-236). Those are exactly the semantics of Spark Structured
Streaming's file source, so the idiomatic rebuild is:

- **Streaming mode** (`stream_csv_dir`): `readStream` + checkpoint. The
  checkpointed seen-files log IS the ledger (ST2); `Trigger.AvailableNow`
  IS the cron poll that drains everything then stops (ST1);
  `maxFileAge` / modifiedAfter options handle the settle window (ST3).
- **Batch-incremental mode** (`incremental_batch`): for engines that
  poll with plain batch jobs, a parquet ledger + broadcast left_anti
  join reproduces exactly-once file semantics (F3/J1), and a mod-time
  predicate reproduces the settle window (F4). The ledger is one
  Parquet file of ``(file_id, processed_at)``, read and rewritten on
  the driver (it is file metadata) and committed by atomic rename.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterable
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_loan_etl_pipeline_spark.operators.joins import ledger_anti_join

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.StringType()),
        T.StructField("processed_at", T.TimestampType()),
    ]
)
LEDGER_ARROW = pa.schema(
    [("file_id", pa.string()), ("processed_at", pa.timestamp("us", tz="UTC"))]
)


def stream_csv_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """ST1/ST2: streaming scan of a CSV landing directory. Pair with
    ``.writeStream.option("checkpointLocation", ...)`` — the checkpoint
    replaces the reference's JSON ledger."""
    reader = spark.readStream.schema(schema).option("header", True)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def settled_files(
    spark: SparkSession,
    input_dir: str,
    suffix: str = ".csv",
    prefix: str = "",
    min_age_seconds: float = 60.0,
    now: float | None = None,
) -> DataFrame:
    """F2/F4: list landing files passing the name predicate and the
    settle-age gate (reference MIN_FILE_AGE_SECONDS,
    drive_auto_compress_email.py:71, :227-236). Listing is driver-side
    (it's directory metadata, not data)."""
    now = time.time() if now is None else now
    rows = []
    if os.path.isdir(input_dir):
        for name in sorted(os.listdir(input_dir)):
            if not (name.startswith(prefix) and name.endswith(suffix)):
                continue
            full = os.path.join(input_dir, name)
            mtime = os.path.getmtime(full)
            if now - mtime >= min_age_seconds:
                rows.append((name, full, float(mtime)))
    return spark.createDataFrame(
        rows, "file_id string, path string, mtime double"
    )


def _read_ledger(ledger_path: str) -> pa.Table | None:
    """The ledger as an Arrow table, None when there is none. Reads the
    one-file form and the directory an older Spark writer left
    (``part-*.parquet`` + ``_SUCCESS``; pyarrow skips ``_``/``.``
    files), and falls back to ``<ledger>.old``, where
    :func:`commit_parquet` parks such a directory while it migrates."""
    for path in (ledger_path, ledger_path + ".old"):
        if os.path.exists(path):
            table = pq.read_table(path, columns=["file_id", "processed_at"])
            return table.cast(LEDGER_ARROW)
    return None


def ledger_ids(ledger_path: str) -> set[str]:
    """file_ids in the ledger (empty when there is none); read on the
    driver, no Spark job."""
    table = _read_ledger(ledger_path)
    return set() if table is None else set(table.column("file_id").to_pylist())


def load_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    """ST2 ledger table (parquet). Empty frame when absent."""
    table = _read_ledger(ledger_path)
    if table is None:
        return spark.createDataFrame([], LEDGER_SCHEMA)
    return spark.createDataFrame(table, LEDGER_SCHEMA)


def new_files(candidates: DataFrame, ledger: DataFrame) -> DataFrame:
    """F3/J1: anti-join candidates against the ledger (broadcast — the
    ledger is file metadata, tiny relative to data)."""
    return ledger_anti_join(candidates, ledger.select("file_id"), key="file_id")


def commit_parquet(table: pa.Table, path: str) -> None:
    """Replace ``path`` with ``table`` as one Parquet file: write a
    sibling temp file, fsync it, ``os.replace`` it over ``path``. A
    reader sees the old file or the new one, never a partial write. A
    directory at ``path`` (the older ledger form) is first renamed to
    ``<path>.old``, which readers fall back to until it is removed."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    with open(tmp, "rb") as f:
        os.fsync(f.fileno())
    old = path + ".old"
    if os.path.isdir(path):
        shutil.rmtree(old, ignore_errors=True)
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def update_ledger(
    spark: SparkSession,
    ledger_path: str,
    processed: DataFrame | Iterable[str],
) -> None:
    """Add newly processed file ids (a frame with ``file_id`` or the ids
    themselves) to the ledger. Idempotent: a known id keeps the
    ``processed_at`` of the tick that first recorded it. The ledger is
    rewritten on the driver and committed by atomic rename, so a crash
    leaves the previous ledger whole."""
    if isinstance(processed, DataFrame):
        processed = [r["file_id"] for r in processed.select("file_id").collect()]
    old = _read_ledger(ledger_path)
    known = set() if old is None else set(old.column("file_id").to_pylist())
    fresh = sorted(set(processed) - known)
    if not fresh and old is not None and os.path.isfile(ledger_path):
        return
    now = datetime.now(timezone.utc)
    table = pa.table(
        {"file_id": fresh, "processed_at": [now] * len(fresh)}, schema=LEDGER_ARROW
    )
    if old is not None:
        table = pa.concat_tables([old, table])
    commit_parquet(table, ledger_path)


def incremental_batch(
    spark: SparkSession,
    input_dir: str,
    ledger_path: str,
    schema: T.StructType,
    prefix: str = "",
    min_age_seconds: float = 0.0,
) -> tuple[DataFrame | None, DataFrame]:
    """One exactly-once micro-batch over a landing directory.

    Returns ``(data, processed_files)`` where ``data`` is the union of
    the not-yet-processed, settled files (None if none). Caller commits
    the batch by passing ``processed_files`` to :func:`update_ledger`
    AFTER its sinks succeed — same commit ordering as the reference
    (process first, persist ledger last,
    drive_auto_compress_email.py:312, :336).
    """
    cands = settled_files(
        spark, input_dir, prefix=prefix, min_age_seconds=min_age_seconds
    )
    ledger = load_ledger(spark, ledger_path)
    fresh = new_files(cands, ledger)
    paths = [r["path"] for r in fresh.select("path").collect()]
    if not paths:
        return None, fresh
    data = (
        spark.read.schema(schema)
        .option("header", True)
        .csv(paths)
        .withColumn("_source_file", F.input_file_name())
    )
    return data, fresh
