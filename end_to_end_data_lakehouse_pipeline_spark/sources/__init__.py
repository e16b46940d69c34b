"""Batch IO + lakehouse write path (reference: spark/streaming_bronze.py
sinks, spark/batch_silver.py MERGE, scripts/load_kaggle_data.py CSV load)."""

from .cdc import CDC_ENVELOPE_SCHEMA, parse_cdc_envelope, split_corrupt_cdc  # noqa: F401
from .lakehouse import LakehouseTable, write_bucketed  # noqa: F401
from .readers import read_csv, read_json, read_parquet  # noqa: F401
from .sinks import jdbc_append, jdbc_writer  # noqa: F401
from .txnlog import TransactionLogTable, merge_upsert  # noqa: F401
