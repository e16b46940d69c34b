"""format('txnlog'): batch snapshot reads, time travel, and the
streaming change feed with exactly-once offset resume."""

import pytest
from pyspark.sql import functions as F

from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
    TransactionLogTable,
)
from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog_source import (
    TxnlogDataSource,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    spark.dataSource.register(TxnlogDataSource)
    t = TransactionLogTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(
        spark.createDataFrame([(i, f"v{i}", 1) for i in range(10)], ["k", "v", "ts"]),
        sort_by=["k"],
    )
    return t


def test_batch_read_and_time_travel(spark, tbl):
    df = spark.read.format("txnlog").option("path", tbl.path).load()
    assert df.count() == 10 and set(df.columns) == {"k", "v", "ts"}
    tbl.append(spark.createDataFrame([(100, "x", 2)], ["k", "v", "ts"]))
    assert spark.read.format("txnlog").option("path", tbl.path).load().count() == 11
    v1 = (
        spark.read.format("txnlog")
        .option("path", tbl.path)
        .option("version", "1")
        .load()
    )
    assert v1.count() == 10


def _drain(spark, tbl, ckpt, out_dir=None, **opts):
    """availableNow drain into a parquet sink (memory sink cannot recover
    from a checkpoint, and checkpoint resume is exactly what these tests
    exercise). Returns the sink contents."""
    out_dir = out_dir or ckpt + "_out"
    reader = spark.readStream.format("txnlog").option("path", tbl.path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out_dir)


def test_stream_resumes_from_checkpoint(spark, tbl, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out = _drain(spark, tbl, ckpt)
    assert out.count() == 10
    # new commits stream incrementally on the SAME checkpoint
    tbl.append(spark.createDataFrame([(20, "new", 2)], ["k", "v", "ts"]))
    tbl.append(spark.createDataFrame([(21, "new", 2)], ["k", "v", "ts"]))
    out = _drain(spark, tbl, ckpt)
    assert out.count() == 12  # only the 2 new rows were read and appended
    assert {r.k for r in out.filter(F.col("v") == "new").collect()} == {20, 21}


def test_batch_read_across_schema_evolution(spark, tbl):
    """ADVICE r3 medium: a snapshot straddling a schema evolution (older
    files missing later-added columns) must read through the DataSource
    with typed NULL-fill, mirroring read()."""
    tbl.append(
        spark.createDataFrame(
            [(200, "evolved", 3, 9.5)], ["k", "v", "ts", "score"]
        )
    )
    df = spark.read.format("txnlog").option("path", tbl.path).load()
    assert set(df.columns) == {"k", "v", "ts", "score"}
    rows = {r.k: r.score for r in df.collect()}
    assert len(rows) == 11
    assert rows[200] == 9.5
    assert all(v is None for k, v in rows.items() if k != 200)
    # streaming read over the same evolved snapshot also NULL-fills
    assert (
        spark.readStream.format("txnlog")
        .option("path", tbl.path)
        .load()
        .schema.fieldNames()
        == df.schema.fieldNames()
    )


def test_stream_rejects_non_append_changes(spark, tbl, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    assert _drain(spark, tbl, ckpt).count() == 10
    tbl.merge(
        spark.createDataFrame([(5, "UPD", 9)], ["k", "v", "ts"]),
        pks=["k"],
        order_col="ts",
    )
    with pytest.raises(Exception, match="ignore_changes|STREAM"):
        _drain(spark, tbl, ckpt)


def test_stream_ignore_changes_opt_in(spark, tbl, tmp_path):
    ckpt = str(tmp_path / "ckpt3")
    assert _drain(spark, tbl, ckpt, ignore_changes="true").count() == 10
    tbl.merge(
        spark.createDataFrame([(5, "UPD", 9)], ["k", "v", "ts"]),
        pks=["k"],
        order_col="ts",
    )
    out = _drain(spark, tbl, ckpt, ignore_changes="true")
    # the rewritten file re-emits (Delta ignoreChanges contract): the
    # updated row is present; co-located rewrites may duplicate
    assert out.filter(F.col("v") == "UPD").count() == 1


def test_pushdown_prunes_files_and_preserves_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
        TransactionLogTable,
    )
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog_source import (
        TxnlogDataSource,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxnlogDataSource)
    t = TransactionLogTable(spark, str(tmp_path / "p"), stats_cols=("k",))
    t.append(
        spark.range(0, 8000).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v")
        ),
        sort_by=["k"],
        n_files=8,
    )
    on = (
        spark.read.format("txnlog")
        .option("path", t.path)
        .option("pushdown", "true")
        .load()
    )
    off = (
        spark.read.format("txnlog")
        .option("path", t.path)
        .option("pushdown", "false")
        .load()
    )
    # file-level skipping engages: range filter hits 1 of 8 files
    assert on.rdd.getNumPartitions() == 8
    assert on.filter("k >= 7000").rdd.getNumPartitions() == 1
    assert on.filter("k = 42").rdd.getNumPartitions() == 1
    # identical results with pruning on/off (Spark re-applies the filter)
    for pred in ("k >= 7000", "k = 42", "k >= 100 AND k < 200", "v = 3"):
        assert sorted(map(tuple, on.filter(pred).collect())) == sorted(
            map(tuple, off.filter(pred).collect())
        ), pred
    # filter on a non-stats column must NOT skip anything
    assert on.filter("v = 3").rdd.getNumPartitions() == 8
    spark.conf.unset("spark.sql.python.filterPushdown.enabled")
