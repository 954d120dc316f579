"""The reference's WHOLE DAG as one engine plan.

Mirrors drive_auto_compress_email.py:588-602 (`poll_and_process >>
run_spark >> send_email_summary`) end to end: poll the watched folder
through the Drive-shaped DataSource (prefix/MIME pushdown at
planning), settle-age + processed-ledger screening, per-file gzip
compression WITH the original/compressed size metrics computed on the
executors (Arrow-batched — the reference round-trips every byte
through the driver, :268-306), the loan aggregates over every
processed file, and the HTML summary report (optionally delivered over
SMTP). A rerun with no new files is a no-op before any data work —
the cron-idempotency the reference gets from its processed-ids JSON
(:85-117), here a one-file parquet ledger and an anti-join.

A tick reads only its new files. The aggregates (mode imputation, then
count and sum per ``(status, product_type, branch)``) are kept as a
mergeable loan state under ``work_dir``: ``loan_state.parquet``, one
Parquet file holding per-group partials keyed by the raw nullable key,
per-column value counts of the four columns the aggregate depends on,
and the set of files it covers (layout: streaming/loan_state.py).
Spark scans ``processed - covered`` in one grouping-sets pass, the
driver merges that into the state, re-picks the modes and builds the
table; see :func:`advance_loan_state` for the rebuild rule. So a
ledgered file that is edited later is not re-read: its rows stay
counted as they were when it was processed, as its ``.gz`` and the
reference's by-ID ledger stay as they were.

Differences by design (same inversions as the rest of the engine):
no landing copy (executors read the source files directly), no
driver-side byte shuttling, the ledger update happens only after the
decision frames are pinned (localCheckpoint) so a replay cannot
self-collide, and the state is committed before the ledger.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.operators.aggregates import mergeable_partials
from airflow_loan_etl_pipeline_spark.plans.loan_etl import latest_aggregates_summary
from airflow_loan_etl_pipeline_spark.plans.report import (
    compression_summary,
    render_html_report,
    send_html_report,
)
from airflow_loan_etl_pipeline_spark.sources.io import read_csv_dir
from airflow_loan_etl_pipeline_spark.streaming.file_source import (
    ledger_ids,
    load_ledger,
    new_files,
    update_ledger,
)
from airflow_loan_etl_pipeline_spark.streaming.loan_state import (
    AMOUNT_COL,
    GROUP_COLS,
    LoanState,
)

def _register_listing(spark: SparkSession) -> None:
    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        FileListingDataSource,
    )

    # re-registering the same source is a no-op overwrite (verified on
    # Spark 4) — a real registration failure must surface, not be
    # swallowed here and resurface as an opaque "source not found"
    spark.dataSource.register(FileListingDataSource)


def compress_new_files(fresh: DataFrame, out_dir: str) -> DataFrame:
    """Executor-side gzip of each new file's payload + size metrics:
    one Arrow batch pass over (name, content), no driver byte
    shuttling. ``out_dir`` must be a path every executor can write
    (shared FS / object-store mount at cluster scale)."""
    import pandas as pd

    def op(batches):
        import gzip

        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            names, osz, csz, paths = [], [], [], []
            for name, content in zip(pdf["name"], pdf["content"]):
                blob = bytes(content)
                gz = gzip.compress(blob)
                out_path = os.path.join(out_dir, name + ".gz")
                with open(out_path, "wb") as f:
                    f.write(gz)
                names.append(name)
                osz.append(len(blob))
                csz.append(len(gz))
                paths.append(out_path)
            yield pd.DataFrame(
                {
                    "filename": names,
                    "original_size": osz,
                    "compressed_size": csz,
                    "compressed_path": paths,
                }
            )

    return fresh.select("name", "content").mapInPandas(
        op,
        schema="filename string, original_size bigint, "
        "compressed_size bigint, compressed_path string",
    )


def advance_loan_state(
    spark: SparkSession,
    watch_dir: str,
    work_dir: str,
    processed: set[str],
) -> DataFrame:
    """Bring the loan state under ``work_dir`` (streaming/loan_state.py)
    up to the ``processed`` file names and return the aggregates over
    all of them. Spark reads only ``processed - covered``, in one scan.
    A state that is missing, unreadable or covers a file outside
    ``processed`` is rebuilt from every processed file: so a crash
    between the state write and the ledger write (the file is offered
    again and is already covered) or a first run after an upgrade
    still counts every file exactly once.

    The returned frame is built from the rows, not read from the state
    file, so it stays valid when a later tick replaces that file."""
    path = os.path.join(work_dir, "loan_state.parquet")
    state = LoanState.load(path)
    if state is None or not state.files <= processed:
        state = LoanState.empty()
    delta = sorted(processed - state.files)
    if delta:
        loans = read_csv_dir(
            spark, [os.path.join(watch_dir, n) for n in delta], schema=schemas.LOAN
        )
        state = state.merge(*mergeable_partials(loans, GROUP_COLS, AMOUNT_COL), delta)
        state.save(path)
    return spark.createDataFrame(state.aggregates())


def run_drive_pipeline(
    spark: SparkSession,
    watch_dir: str,
    work_dir: str,
    prefix: str = "loan_",
    min_age_s: float = 0.0,
    now: float | None = None,
    smtp: dict | None = None,
) -> tuple[list[dict], DataFrame | None, str | None]:
    """One scheduled tick of the reference DAG. Returns
    ``(file_summaries, aggregates_df, html)`` — empty/None/None when
    no new files were eligible (the reference's early return,
    drive_auto_compress_email.py:240-242)."""
    _register_listing(spark)
    ledger_path = os.path.join(work_dir, "ledger")
    now = time.time() if now is None else now

    listing = (
        spark.read.format("file_listing")
        .option("path", watch_dir)
        .option("prefix", prefix)
        .option("mime", "text/csv")
        .option("with_content", "true")
        .load()
    )
    settled = listing.filter(F.lit(now) - F.col("modified") >= min_age_s)
    cand = settled.withColumn("file_id", F.col("name"))
    fresh = new_files(cand, load_ledger(spark, ledger_path))
    # pin the decision before any ledger mutation (replay safety)
    fresh = fresh.localCheckpoint()
    if not fresh.take(1):
        return [], None, None

    summaries_df = compression_summary(
        compress_new_files(fresh, os.path.join(work_dir, "compressed"))
    ).localCheckpoint()

    # the ETL's input is exactly the SCREENED cumulative set (ledgered
    # files + this tick's fresh ones): a raw watch-dir glob would ingest
    # unsettled/mid-copy files the screen just excluded
    fresh_ids = [r["file_id"] for r in fresh.select("file_id").collect()]
    aggs = advance_loan_state(
        spark, watch_dir, work_dir, ledger_ids(ledger_path) | set(fresh_ids)
    )

    file_summaries = [r.asDict() for r in summaries_df.collect()]
    top = latest_aggregates_summary(aggs, limit=10)
    html = render_html_report(file_summaries, top)
    if smtp:
        send_html_report(html, **smtp)

    update_ledger(spark, ledger_path, fresh_ids)
    return file_summaries, aggs, html
