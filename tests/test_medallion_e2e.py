"""End-to-end medallion flow on a temp lakehouse: CDC JSON -> streaming
bronze append -> typed silver MERGE -> gold aggregate. Mirrors the
reference pipeline (streaming_bronze.py -> batch_silver.py ->
batch_gold.py) with this engine's components."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_data_lakehouse_pipeline_spark import jobs
from end_to_end_data_lakehouse_pipeline_spark.sources import (
    LakehouseTable,
    parse_cdc_envelope,
)
from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable
from end_to_end_data_lakehouse_pipeline_spark.streaming import process_cdc_stream

PAYLOAD = T.StructType(
    [
        T.StructField("order_id", T.StringType(), True),
        T.StructField("order_status", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("order_date", T.StringType(), True),
    ]
)

EVENTS = [
    # two orders on day 1; o1 revised upward (latest wins), o2 deleted
    ("c", None, {"order_id": "o1", "order_status": "created", "amount": 10.0, "order_date": "2024-01-01"}, 1000),
    ("u", None, {"order_id": "o1", "order_status": "delivered", "amount": 15.0, "order_date": "2024-01-01"}, 2000),
    ("c", None, {"order_id": "o2", "order_status": "created", "amount": 99.0, "order_date": "2024-01-01"}, 1500),
    ("d", {"order_id": "o2", "order_status": "created", "amount": 99.0, "order_date": "2024-01-01"}, None, 3000),
    # one order on day 2
    ("c", None, {"order_id": "o3", "order_status": "created", "amount": 7.0, "order_date": "2024-01-02"}, 2500),
]


def test_medallion_bronze_silver_gold(spark, tmp_path):
    # --- land CDC JSON files (the Kafka stand-in) ---
    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "batch0.jsonl", "w") as f:
        for op, before, after, ts in EVENTS:
            rec = {"value": json.dumps(
                {"before": before, "after": after, "op": op, "source_ts_ms": ts}
            )}
            f.write(json.dumps(rec) + "\n")

    # --- bronze: streaming append, raw + metadata ---
    raw_schema = T.StructType([T.StructField("value", T.StringType(), True)])
    stream = spark.readStream.schema(raw_schema).json(str(src))
    q = process_cdc_stream(
        stream, "orders", str(tmp_path / "bronze"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    bronze = spark.read.parquet(str(tmp_path / "bronze"))
    assert bronze.count() == len(EVENTS)

    # --- silver: typed parse + MERGE (last-write-wins, delete-filtered) ---
    parsed = parse_cdc_envelope(
        bronze.select(F.col("_raw_value").alias("value")), PAYLOAD
    )
    silver = TransactionLogTable(spark, str(tmp_path / "silver"))
    silver.merge(parsed, pks=["order_id"], order_col="_event_ts")
    rows = {r.order_id: r for r in silver.read().collect()}
    assert set(rows) == {"o1", "o3"}
    assert rows["o1"].order_status == "delivered" and rows["o1"].amount == 15.0

    # --- gold: daily aggregate over silver ---
    gold = TransactionLogTable(spark, str(tmp_path / "gold_daily"), partition_by=("d",))
    daily = (
        silver.read()
        .groupBy(F.col("order_date").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("amount").alias("revenue"))
    )
    gold.overwrite(daily)
    got = {str(r.d): (r.n_orders, r.revenue) for r in gold.read().collect()}
    assert got == {"2024-01-01": (1, 15.0), "2024-01-02": (1, 7.0)}

    # incremental day-3 batch flows through the same path idempotently
    more = spark.createDataFrame(
        [("o4", "created", 3.0, "2024-01-03", False)],
        ["order_id", "order_status", "amount", "order_date", "_deleted"],
    ).withColumn("_event_ts", F.to_timestamp(F.lit("2024-01-03 00:00:00")))
    silver.merge(more, pks=["order_id"], order_col="_event_ts")
    assert silver.read().count() == 3


def test_runnable_medallion_job(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.jobs import run_medallion

    stats = run_medallion(spark, str(tmp_path / "lake"), seconds=6.0)
    assert stats["silver_rows"] > 0
    assert stats["gold_rows"] > 0
    assert stats["quarantined"] == 0  # generator emits only valid envelopes
    gold = spark.read.parquet(str(tmp_path / "lake" / "gold" / "status_summary"))
    assert set(gold.columns) == {"order_status", "n_orders", "revenue"}


def test_medallion_acid_silver_gold(spark, tmp_path):
    """run_silver/run_gold: the silver MERGE and gold overwrite go
    through the transaction log — version history
    exists, a second silver run is a new commit, and time travel reaches
    the first silver state."""
    from end_to_end_data_lakehouse_pipeline_spark import jobs
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
        TransactionLogTable,
    )

    lake = str(tmp_path / "lake")
    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "batch0.jsonl", "w") as f:
        for op, before, after, ts in EVENTS:
            rec = {"value": json.dumps(
                {"before": before, "after": after, "op": op, "source_ts_ms": ts}
            )}
            f.write(json.dumps(rec) + "\n")
    raw_schema = T.StructType([T.StructField("value", T.StringType(), True)])
    stream = spark.readStream.schema(raw_schema).json(str(src))
    q = process_cdc_stream(
        stream, "orders", f"{lake}/bronze/orders", str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    n_silver, n_bad = jobs.run_silver(spark, lake)
    assert (n_silver, n_bad) == (2, 0)  # o2 deleted, o1 latest-wins, o3
    n_gold = jobs.run_gold(spark, lake)
    assert n_gold == 2  # delivered (o1) + created (o3)

    silver = TransactionLogTable(spark, f"{lake}/silver/orders")
    assert [h["op"] for h in silver.history()] == ["merge"]
    got = {r.order_id: r.amount for r in silver.read().collect()}
    assert got == {"o1": 15.0, "o3": 7.0}
    # idempotent re-run: same CDC batch merges to the same state, one
    # more version in history, first version still time-travelable
    jobs.run_silver(spark, lake)
    assert [h["op"] for h in silver.history()] == ["merge", "merge"]
    assert {r.order_id for r in silver.read(version=1).collect()} == {"o1", "o3"}
    got2 = {r.order_id: r.amount for r in silver.read().collect()}
    assert got2 == got


# -- incremental silver ingest (jobs.run_silver) ---------------------------

CORRUPT = '{"before": null, "after": {"order_id": "o9", "amount": '


def _event(op, key, ts, status="created", amount=1.0):
    image = {"order_id": key, "order_status": status, "amount": amount}
    return json.dumps(
        {
            "before": image if op == "d" else None,
            "after": None if op == "d" else image,
            "op": op,
            "source_ts_ms": ts,
        }
    )


def _land(spark, lake, lines):
    """One bronze batch: raw lines appended to the bronze parquet directory,
    laid out as ``process_cdc_stream`` writes it."""
    batch = spark.createDataFrame(
        [(line, "orders") for line in lines], "_raw_value string, _source_table string"
    )
    LakehouseTable(spark, f"{lake}/bronze/orders").append(batch, partition_by=("_source_table",))


def test_empty_bronze_batch_writes_no_data_file(spark, tmp_path):
    # process_cdc_stream appends every micro-batch without an isEmpty()
    # probe: a partitioned append of an empty batch must leave no file
    # that a bronze reader lists
    lake = str(tmp_path / "lake")
    bronze = LakehouseTable(spark, f"{lake}/bronze/orders")
    empty = spark.createDataFrame([], "_raw_value string, _source_table string")
    bronze.append(empty, partition_by=("_source_table",))
    assert bronze.files() == []
    _land(spark, lake, [_event("c", "o1", 1000)])
    landed = bronze.files()
    bronze.append(empty, partition_by=("_source_table",))
    assert len(landed) == 1 and bronze.files() == landed
    assert jobs.run_silver(spark, lake) == (1, 0)


def _silver_state(spark, lake):
    silver = TransactionLogTable(spark, f"{lake}/silver/orders")
    return {r.order_id: (r.order_status, r.amount) for r in silver.read().collect()}


def test_quarantine_gets_each_corrupt_row_once(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _land(spark, lake, [_event("c", "o1", 1000), CORRUPT])
    assert jobs.run_silver(spark, lake) == (1, 1)
    _land(spark, lake, [_event("c", "o2", 2000), CORRUPT])
    assert jobs.run_silver(spark, lake) == (2, 1)
    quarantine = spark.read.parquet(f"{lake}/quarantine/orders")
    assert [r.value for r in quarantine.collect()] == [CORRUPT, CORRUPT]


def test_late_insert_after_delete_leaves_the_key_deleted(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _land(spark, lake, [_event("c", "o1", 1000), _event("c", "o2", 1100), _event("d", "o1", 3000)])
    assert jobs.run_silver(spark, lake) == (1, 0)
    # redelivered from before the delete: merged alone it would bring o1 back
    _land(spark, lake, [_event("u", "o1", 2000, "late", 5.0), _event("u", "o2", 4000, "shipped", 2.0)])
    assert jobs.run_silver(spark, lake) == (1, 0)
    assert _silver_state(spark, lake) == {"o2": ("shipped", 2.0)}
    # in-order batches after it still merge
    _land(spark, lake, [_event("c", "o3", 5000)])
    assert jobs.run_silver(spark, lake) == (2, 0)
    assert set(_silver_state(spark, lake)) == {"o2", "o3"}


def test_rerun_without_new_bronze_launches_no_job(spark, tmp_path, jobs_launched):
    lake = str(tmp_path / "lake")
    _land(spark, lake, [_event("c", "o1", 1000), _event("c", "o2", 2000), CORRUPT])
    assert jobs.run_silver(spark, lake) == (2, 1)
    state = _silver_state(spark, lake)
    out = []
    assert jobs_launched(lambda: out.append(jobs.run_silver(spark, lake))) == []
    assert out == [(2, 0)]
    assert _silver_state(spark, lake) == state
    silver = TransactionLogTable(spark, f"{lake}/silver/orders")
    assert [h["op"] for h in silver.history()] == ["merge", "merge"]


def test_crash_before_commit_reconsumes_the_files(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    _land(spark, lake, [_event("c", "o1", 1000)])
    jobs.run_silver(spark, lake)
    _land(spark, lake, [_event("c", "o2", 2000), _event("u", "o1", 2100, "shipped")])

    commit = TransactionLogTable._commit

    def crash(self, version, actions):
        if any("add" in a for a in actions):  # the staged MERGE output
            raise RuntimeError("crash between staging and commit")
        commit(self, version, actions)

    with monkeypatch.context() as m:
        m.setattr(TransactionLogTable, "_commit", crash)
        with pytest.raises(RuntimeError, match="crash"):
            jobs.run_silver(spark, lake)
    assert set(_silver_state(spark, lake)) == {"o1"}
    assert jobs.run_silver(spark, lake) == (2, 0)
    assert _silver_state(spark, lake) == {"o1": ("shipped", 1.0), "o2": ("created", 1.0)}


def test_run_silver_reads_bronze_through_lakehouse_table(spark, tmp_path, monkeypatch):
    # LakehouseTable owns the bronze format, so a tracer that wraps its
    # read sees every bronze read of the silver ingest
    lake = str(tmp_path / "lake")
    _land(spark, lake, [_event("c", "o1", 1000)])
    calls = []
    read = LakehouseTable.read

    def counted(self, *args, **kwargs):
        calls.append(self.path)
        return read(self, *args, **kwargs)

    monkeypatch.setattr(LakehouseTable, "read", counted)
    assert jobs.run_silver(spark, lake) == (1, 0)
    assert calls and set(calls) == {f"{lake}/bronze/orders"}
