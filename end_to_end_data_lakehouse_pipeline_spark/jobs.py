"""Runnable medallion pipeline (the reference's four jobs in one CLI).

Mirrors streaming_bronze.py -> batch_silver.py -> batch_gold.py as one
operable flow on a local lakehouse root:

    python -m end_to_end_data_lakehouse_pipeline_spark.jobs /tmp/lake --seconds 10

1. bronze: rate-source synthetic CDC (streaming/generator.py) streamed
   through the foreachBatch append sink for ``--seconds``. Bronze and the
   quarantine are plain parquet directories.
2. silver: typed envelope parse + dead-letter split + MERGE upsert
   (last-write-wins, delete-filtered) into a transaction-log table. Each
   run merges only the bronze files silver has not consumed yet and
   records them in the MERGE's own commit (see :func:`run_silver`).
3. gold: daily revenue aggregate, overwritten atomically on the log.

Each stage is also importable for orchestration (Airflow-style callers
use run_bronze/run_silver/run_gold directly). One pipeline writes a given
lake at a time.
"""

from __future__ import annotations

import argparse
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources import parse_cdc_envelope
from .sources.cdc import split_corrupt_cdc
from .sources.lakehouse import LakehouseTable
from .sources.txnlog import ConcurrentCommitError, TransactionLogTable
from .streaming.bronze import process_cdc_stream
from .streaming.generator import synthetic_cdc_stream

ORDER_PAYLOAD = T.StructType(
    [
        T.StructField("order_id", T.StringType(), True),
        T.StructField("order_status", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
    ]
)
# the one bronze column silver parses; a declared schema, so no footer is inferred
BRONZE_SCHEMA = T.StructType([T.StructField("_raw_value", T.StringType(), True)])
# txn app prefix of the silver log's consumed-file entries: "bronze:<relative path>"
CONSUMED = "bronze:"
# high-water mark before any event was merged (Long.MinValue, in epoch millis)
NO_EVENT = -(1 << 63)


def run_bronze(spark: SparkSession, lake: str, seconds: float, rows_per_second: int = 200) -> None:
    stream = synthetic_cdc_stream(spark, rows_per_second=rows_per_second)
    q = process_cdc_stream(
        stream,
        "orders",
        f"{lake}/bronze/orders",
        f"{lake}/_checkpoints/bronze_orders",
        trigger="1 seconds",
    )
    deadline = time.time() + seconds
    while time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)


def _silver(spark: SparkSession, lake: str) -> TransactionLogTable:
    return TransactionLogTable(spark, f"{lake}/silver/orders", stats_cols=("order_id",))


def _bronze_values(bronze: LakehouseTable, files: list[str]) -> DataFrame:
    return bronze.read(files, BRONZE_SCHEMA).select(F.col("_raw_value").alias("value"))


def _quarantine(bad: DataFrame, path: str) -> int:
    """Append ``bad`` to the quarantine directory in one write and return
    the rows it wrote, counted from the footers of the files it wrote.
    The write lands in a hidden staging directory first, so the count
    covers exactly this write; files holding no row are dropped."""
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex[:8]}")
    bad.write.parquet(staging)
    rows = 0
    for name in sorted(os.listdir(staging)):
        if name.endswith(".parquet"):
            src = os.path.join(staging, name)
            n = pq.ParquetFile(src).metadata.num_rows
            if n:
                os.rename(src, os.path.join(path, name))
                rows += n
    shutil.rmtree(staging)
    return rows


def run_silver(spark: SparkSession, lake: str) -> tuple[int, int]:
    """Merge the bronze files silver has not consumed yet; returns (silver
    rows, rows quarantined by this run). Both counts come from parquet
    footers, not from passes over the data.

    - **Consumed-file watermark.** The silver log holds one ``txn`` entry
      per bronze file it merged (app ``bronze:<relative path>``), written
      in the MERGE's own commit. A re-run, or a redelivered ingest, finds
      no new file: it commits a metadata-only ``merge`` version and
      launches no Spark job. A crash before the commit leaves the files
      unconsumed, so the retry merges them again (their corrupt rows are
      then quarantined again: the quarantine is plain parquet, outside
      the commit).
    - **Late-event guard.** Each entry's version is the high-water
      ``_event_ts`` (epoch millis) of every event merged up to that
      commit, deletes included. When each new event is newer than that
      mark, merging the new files alone is exact. A new event at or below
      the mark, or one with no ``_event_ts``, could be older than a delete
      already applied, so that run merges the full bronze history, which
      orders every event exactly. One small aggregate over the new files
      decides.
    - Only the new files' corrupt rows go to the quarantine.
    """
    bronze = LakehouseTable(spark, f"{lake}/bronze/orders")
    silver = _silver(spark, lake)
    consumed = {
        app[len(CONSUMED):]: mark
        for app, mark in silver.txn_versions().items()
        if app.startswith(CONSUMED)
    }
    files = bronze.files()
    new = [f for f in files if f not in consumed]
    if not new and silver.latest_version() is None:
        raise FileNotFoundError(f"no bronze files under {bronze.path}")
    updates, n_bad, mark = None, 0, max(consumed.values(), default=NO_EVENT)
    if new:
        ok, bad = split_corrupt_cdc(_bronze_values(bronze, new), ORDER_PAYLOAD)
        n_bad = _quarantine(bad, f"{lake}/quarantine/orders")
        updates = parse_cdc_envelope(ok, ORDER_PAYLOAD)
        ts = F.unix_millis(F.col("_event_ts"))
        # one partition: the global aggregate then needs no exchange, so
        # the guard over one ingest's files stays a single small job
        n, lo, hi, untimed = updates.coalesce(1).agg(
            F.count(F.lit(1)), F.min(ts), F.max(ts), F.count_if(F.col("_event_ts").isNull())
        ).first()
        if untimed or (lo is not None and lo <= mark):
            ok_all, _ = split_corrupt_cdc(_bronze_values(bronze, files), ORDER_PAYLOAD)
            updates = parse_cdc_envelope(ok_all, ORDER_PAYLOAD)
        elif n == 0 and silver.latest_version() is not None:
            updates = None  # nothing parseable: record the files, merge nothing
        mark = max(mark, NO_EVENT if hi is None else hi)
    version = silver.merge(
        updates,
        pks=["order_id"],
        order_col="_event_ts",
        txns={CONSUMED + f: mark for f in new},
    )
    if version is None:
        raise ConcurrentCommitError(f"another writer consumed bronze files of {bronze.path}")
    return silver.num_rows(), n_bad


def run_gold(spark: SparkSession, lake: str) -> int:
    silver = _silver(spark, lake).read()
    daily = silver.groupBy("order_status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("amount").alias("revenue"),
    )
    gold = TransactionLogTable(spark, f"{lake}/gold/status_summary")
    gold.overwrite(daily)
    # gold is a SERVING table: vacuum superseded files right away so a
    # consumer that (wrongly but commonly) reads the directory with
    # plain spark.read.parquet sees only the live snapshot instead of
    # every refresh's files side by side. The trade is no gold time
    # travel — silver keeps its full history for that. retention 0 is
    # safe only because this pipeline is gold's sole writer.
    gold.vacuum(retain_versions=0, retention_seconds=0)
    return gold.num_rows()


def run_medallion(spark: SparkSession, lake: str, seconds: float = 10.0) -> dict[str, int]:
    run_bronze(spark, lake, seconds)
    n_silver, n_quarantined = run_silver(spark, lake)
    n_gold = run_gold(spark, lake)
    return {"silver_rows": n_silver, "quarantined": n_quarantined, "gold_rows": n_gold}


def main() -> None:
    from .session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("lake", help="lakehouse root directory")
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args()
    spark = get_spark("medallion")
    stats = run_medallion(spark, args.lake, args.seconds)
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
