"""Exactly-once streaming sink into the transaction-log table.

Spark's foreachBatch contract is at-least-once: after a crash between the
sink write and the checkpoint commit, the SAME batch id is redelivered
(Structured Streaming docs, "foreachBatch provides at-least-once
guarantees"). The reference gets exactly-once from Delta's idempotent
sink (streaming_bronze.py:95-110 writing Delta); plain-parquet appends
(bronze.py) duplicate on redelivery. This sink closes that gap with the
txnlog's ``txn`` action: every batch commits under (app_id, batch_id),
and a redelivered batch is recognized and skipped atomically with the
data commit — the dedup state lives IN the sink's own log, not in a side
channel that could diverge from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources.txnlog import TransactionLogTable


def txnlog_append_sink(
    stream: DataFrame,
    table: TransactionLogTable,
    app_id: str,
    checkpoint_path: str,
    sort_by: tuple[str, ...] = (),
    available_now: bool = False,
    trigger: str | None = "5 seconds",
) -> StreamingQuery:
    """Start a foreachBatch writer whose appends are exactly-once.

    ``app_id`` identifies this writer in the table's txn log — use one id
    per logical stream (several independent streams can feed one table,
    each tracked separately, exactly like Delta's ``txnAppId``)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():  # an empty batch would commit an empty version
            table.append(batch_df, sort_by=list(sort_by), txn=(app_id, batch_id))

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()
