"""Streaming bronze ingest (streaming_bronze.py:64-144, Spark-first).

The reference subscribes one Kafka topic per source table (S1), projects
the envelope to metadata columns (P1), and appends raw Delta per topic via
foreachBatch (S4) on a 5 s trigger (S5/ST1) with per-table checkpoints
(ST2). This module keeps that exact shape but takes ANY streaming
DataFrame as input, so hermetic tests drive it with the file or rate
source while production wires ``spark.readStream.format("kafka")`` —
the projection and sink logic are source-agnostic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.lakehouse import LakehouseTable

DEFAULT_TRIGGER = "5 seconds"  # streaming_bronze.py:109


def kafka_source(
    spark: SparkSession, brokers: str, topic: str
) -> DataFrame:
    """S1 verbatim (streaming_bronze.py:71-77): earliest offsets, tolerate
    data loss. Not exercised in tests (no broker in the container)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("failOnDataLoss", "false")
        .load()
    )


def bronze_projection(raw: DataFrame, source_table: str) -> DataFrame:
    """P1 (streaming_bronze.py:80-89): raw value + metadata, typed casts.
    Missing Kafka metadata columns (file/rate sources) become nulls so the
    bronze schema is stable across sources."""
    cols = set(raw.columns)
    meta = {
        "_key": F.col("key").cast("string") if "key" in cols else F.lit(None).cast("string"),
        "_topic": F.col("topic") if "topic" in cols else F.lit(None).cast("string"),
        "_partition": F.col("partition").cast("int") if "partition" in cols else F.lit(None).cast("int"),
        "_offset": F.col("offset").cast("long") if "offset" in cols else F.lit(None).cast("long"),
        "_kafka_timestamp": F.col("timestamp") if "timestamp" in cols else F.current_timestamp(),
    }
    value = F.col("value").cast("string") if "value" in cols else F.to_json(F.struct(*raw.columns))
    return raw.select(
        value.alias("_raw_value"),
        *[c.alias(n) for n, c in meta.items()],
        F.lit(source_table).alias("_source_table"),
        F.current_timestamp().alias("_ingested_at"),
    )


def process_cdc_stream(
    stream: DataFrame,
    source_table: str,
    bronze_path: str,
    checkpoint_path: str,
    trigger: str | None = DEFAULT_TRIGGER,
    available_now: bool = False,
) -> StreamingQuery:
    """S4+S5 (streaming_bronze.py:95-110): foreachBatch append, partitioned
    by _source_table; micro-batch trigger + checkpoint.
    ``available_now=True`` drains the source then stops (hermetic tests);
    otherwise the processing-time trigger is used. The reference skips
    empty batches (streaming_bronze.py:96-97); here a partitioned append
    of an empty batch writes no data file, so the skip needs no
    ``isEmpty`` job."""
    projected = bronze_projection(stream, source_table)
    bronze = LakehouseTable(stream.sparkSession, bronze_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        bronze.append(batch_df, partition_by=("_source_table",))

    writer = projected.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def fan_out(
    streams: Sequence[tuple[DataFrame, str]],
    bronze_root: str,
    checkpoint_root: str,
    **kwargs,
) -> list[StreamingQuery]:
    """S2 (streaming_bronze.py:130-144): one independent query per source
    table; caller awaits via ``spark.streams.awaitAnyTermination()``."""
    return [
        process_cdc_stream(
            stream,
            name,
            f"{bronze_root}/{name}",
            f"{checkpoint_root}/{name}",
            **kwargs,
        )
        for stream, name in streams
    ]
