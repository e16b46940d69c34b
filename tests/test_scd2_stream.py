"""Streaming SCD2 dimension sink: multi-batch convergence and file-level
partial-rewrite properties.

The drain query (streaming_scd2_drain) oracle-checks the single-batch
path; these tests cover what that can't see:

- a stream split into several micro-batches (hash-interleaved, so every
  batch carries out-of-order history for shared users) must converge to
  exactly the batch SCD2 result;
- an incremental update must leave untouched buckets' files
  byte-identical (a batch rewrites only the buckets its keys hash to).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from end_to_end_data_lakehouse_pipeline_spark.catalog import table
from end_to_end_data_lakehouse_pipeline_spark.operators.scd import scd2_intervals
from end_to_end_data_lakehouse_pipeline_spark.plans.advanced import user_tier_changes
from end_to_end_data_lakehouse_pipeline_spark.streaming.scd2 import (
    BUCKET_COL,
    Scd2DimensionSink,
)


def _sorted_pdf(df):
    pdf = df.toPandas()
    return (
        pdf[sorted(pdf.columns)]
        .sort_values(by=sorted(pdf.columns))
        .reset_index(drop=True)
    )


def _file_state(dim_path):
    state = {}
    for bucket_dir in os.listdir(dim_path):
        if not bucket_dir.startswith(f"{BUCKET_COL}="):
            continue
        p = os.path.join(dim_path, bucket_dir)
        state[bucket_dir] = sorted(
            (f, os.path.getsize(os.path.join(p, f)), os.path.getmtime(os.path.join(p, f)))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
    return state


@pytest.fixture()
def change_stream_dir(spark, sf_dir, tmp_path):
    """The events change stream written as 3 hash-interleaved files so
    maxFilesPerTrigger=1 yields 3 out-of-order micro-batches."""
    changes = user_tier_changes(table(spark, sf_dir, "events"))
    in_dir = tmp_path / "changes"
    for i in range(3):
        part = changes.filter(
            F.pmod(F.xxhash64(F.col("event_id").cast("string")), F.lit(3)) == i
        )
        part.coalesce(1).write.mode("append").parquet(str(in_dir))
    return str(in_dir), changes


def test_multibatch_stream_equals_batch_scd2(spark, tmp_path, change_stream_dir):
    in_dir, _ = change_stream_dir
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    sink = Scd2DimensionSink(
        spark,
        bronze_path=str(tmp_path / "bronze"),
        dim_path=str(tmp_path / "dim"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value="tier",
    )
    q = sink.sink(stream, checkpoint_path=str(tmp_path / "ckpt"))
    q.awaitTermination()
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] and p["numInputRows"] > 0]
    )
    assert n_batches >= 3, "stream must actually have split into micro-batches"

    expected = scd2_intervals(
        spark.read.parquet(in_dir),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value="tier",
    )
    got = _sorted_pdf(sink.read_dim())
    want = _sorted_pdf(expected)
    assert got.shape == want.shape
    assert got.equals(want), "streamed dimension != batch SCD2"


def test_incremental_update_rewrites_only_touched_buckets(
    spark, tmp_path, change_stream_dir
):
    in_dir, changes = change_stream_dir
    sink = Scd2DimensionSink(
        spark,
        bronze_path=str(tmp_path / "bronze"),
        dim_path=str(tmp_path / "dim"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value="tier",
    )
    # bootstrap the dimension with the full history as batch 0
    full = spark.read.parquet(in_dir)
    sink.upsert_batch(full, batch_id=0)
    before = _file_state(sink.dim_path)

    # one-user update: a new event after that user's last
    one = (
        full.orderBy("user_id", "ts", "event_id")
        .limit(1)
        .select(
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 400 DAYS")).alias("ts"),
            (F.col("event_id") + F.lit(10_000_000_000)).alias("event_id"),
            F.lit("high").alias("tier"),
        )
    )
    touched_bucket = one.select(
        F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(sink.n_buckets))
        .cast("int")
        .alias("b")
    ).collect()[0]["b"]
    sink.upsert_batch(one, batch_id=1)
    after = _file_state(sink.dim_path)

    touched_dir = f"{BUCKET_COL}={touched_bucket}"
    assert before[touched_dir] != after[touched_dir], "touched bucket must rewrite"
    for d in before:
        if d != touched_dir:
            assert before[d] == after[d], f"untouched bucket {d} was rewritten"

    # and the updated user's current tier reflects the late event
    cur = (
        sink.read_dim()
        .filter(F.col("is_current"))
        .join(one.select("user_id"), "user_id")
        .collect()
    )
    assert len(cur) == 1 and cur[0]["tier"] == "high"


def test_compacted_sink_equals_batch_scd2_within_lateness(spark, sf_dir, tmp_path):
    """With run-compaction enabled and time-ordered arrival (out-of-order
    bounded by the lateness), the dimension — including exact n_events —
    equals the batch SCD2 of the full history, while bronze history is
    physically folded into value-run summaries."""
    changes = user_tier_changes(table(spark, sf_dir, "events"))
    in_dir = tmp_path / "changes"
    # 4 time-range-ordered files: arrival order = event-time order, so no
    # event ever lands below an already-compacted watermark
    changes.repartitionByRange(4, F.col("ts")).write.parquet(str(in_dir))
    import os as _os

    parts = sorted(
        p for p in _os.listdir(in_dir) if p.endswith(".parquet")
    )
    t0 = 1_000_000_000
    for i, name in enumerate(parts):
        _os.utime(str(in_dir / name), (t0 + i * 10, t0 + i * 10))

    schema = spark.read.parquet(str(in_dir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    sink = Scd2DimensionSink(
        spark,
        bronze_path=str(tmp_path / "bronze"),
        dim_path=str(tmp_path / "dim"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value="tier",
        compact_every=2,
        lateness="1 minute",
    )
    q = sink.sink(stream, checkpoint_path=str(tmp_path / "ckpt"))
    q.awaitTermination()

    manifest = sink._manifest()
    assert manifest["gen"] >= 1, "compaction never ran"
    assert manifest["covered"], "no batch dirs were folded"
    for d in manifest["covered"]:
        assert not _os.path.isdir(str(tmp_path / "bronze" / d)), "covered dir kept"
    # bronze physically shrank: folded rows < raw event count
    n_raw = changes.count()
    n_bronze = sink._read_bronze().count()
    assert n_bronze < n_raw, "compaction did not collapse any runs"
    # exact n_events preserved through the weighted recompute
    assert (
        sink._read_bronze().agg(F.sum("_n")).first()[0] == n_raw
    ), "weights must sum to the raw event count"

    expected = scd2_intervals(
        spark.read.parquet(str(in_dir)),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value="tier",
    )
    got = _sorted_pdf(sink.read_dim())
    want = _sorted_pdf(expected)
    assert got.shape == want.shape
    assert got.equals(want), "compacted streamed dimension != batch SCD2"
