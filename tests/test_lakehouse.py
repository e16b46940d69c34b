"""Lakehouse write path + CDC semantics (SURVEY.md §5 fixture scenario:
insert -> update -> out-of-order stale update -> delete per PK; silver must
keep exactly the latest non-deleted image or drop the row)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_data_lakehouse_pipeline_spark.sources import (
    LakehouseTable,
    TransactionLogTable,
    merge_upsert,
    parse_cdc_envelope,
)

PAYLOAD = T.StructType(
    [
        T.StructField("order_id", T.StringType(), True),
        T.StructField("order_status", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
    ]
)


def _env(op, before, after, ts_ms):
    return json.dumps({"before": before, "after": after, "op": op, "source_ts_ms": ts_ms})


@pytest.fixture()
def cdc_raw(spark):
    rows = [
        # o1: insert -> update -> stale out-of-order update (must lose)
        (_env("c", None, {"order_id": "o1", "order_status": "created", "amount": 10.0}, 1000),),
        (_env("u", None, {"order_id": "o1", "order_status": "shipped", "amount": 12.0}, 3000),),
        (_env("u", None, {"order_id": "o1", "order_status": "approved", "amount": 11.0}, 2000),),
        # o2: insert then delete (latest) -> row must drop
        (_env("c", None, {"order_id": "o2", "order_status": "created", "amount": 5.0}, 1500),),
        (_env("d", {"order_id": "o2", "order_status": "created", "amount": 5.0}, None, 4000),),
        # o3: delete then later re-insert -> row must survive
        (_env("d", {"order_id": "o3", "order_status": "canceled", "amount": 1.0}, None, 1000),),
        (_env("c", None, {"order_id": "o3", "order_status": "created", "amount": 2.0}, 2000),),
    ]
    return spark.createDataFrame(rows, ["value"])


def test_parse_cdc_envelope_types_and_delete_image(cdc_raw):
    parsed = parse_cdc_envelope(cdc_raw, PAYLOAD)
    assert dict(parsed.dtypes)["amount"] == "double"  # typed, not map<string,string>
    d = parsed.filter(F.col("_op") == "d").filter(F.col("order_id") == "o2").first()
    assert d is not None and d.order_status == "created"  # before-image used
    assert parsed.filter(F.col("_deleted")).count() == 2


def test_merge_upsert_last_write_wins_and_delete(cdc_raw):
    parsed = parse_cdc_envelope(cdc_raw, PAYLOAD)
    silver = merge_upsert(None, parsed, pks=["order_id"], order_col="_event_ts")
    rows = {r.order_id: r for r in silver.collect()}
    assert set(rows) == {"o1", "o3"}  # o2 deleted
    assert rows["o1"].order_status == "shipped"  # stale 2000-ms update lost
    assert rows["o1"].amount == 12.0
    assert rows["o3"].order_status == "created"  # re-insert after delete survives


def test_merge_into_existing_table(spark, tmp_path):
    t = TransactionLogTable(spark, str(tmp_path / "silver_orders"))
    base = spark.createDataFrame(
        [("o1", "created", 10.0, False, 1)], ["order_id", "order_status", "amount", "_deleted", "v"]
    )
    t.overwrite(base)
    updates = spark.createDataFrame(
        [("o1", "delivered", 10.0, False, 2), ("o9", "created", 7.0, False, 2)],
        ["order_id", "order_status", "amount", "_deleted", "v"],
    )
    t.merge(updates, pks=["order_id"], order_col="v")
    rows = {r.order_id: r.order_status for r in t.read().collect()}
    assert rows == {"o1": "delivered", "o9": "created"}
    # idempotent replay: merging the same batch again changes nothing
    t.merge(updates, pks=["order_id"], order_col="v")
    assert {r.order_id: r.order_status for r in t.read().collect()} == rows


def test_append_partitioned(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "bronze"))
    df = spark.createDataFrame([(1, "orders"), (2, "items")], ["id", "_source_table"])
    t.append(df, partition_by=["_source_table"])
    t.append(df, partition_by=["_source_table"])
    assert t.read().count() == 4


def test_jdbc_writer_shape(spark):
    from end_to_end_data_lakehouse_pipeline_spark.sources.sinks import jdbc_writer

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    w = jdbc_writer(df, "jdbc:clickhouse://warehouse:8123/db", "t", num_partitions=4)
    # writer is configured, not executed (no warehouse in the container)
    assert w is not None


def test_split_corrupt_cdc_dead_letter(spark):
    from end_to_end_data_lakehouse_pipeline_spark.sources.cdc import split_corrupt_cdc

    rows = [
        ('{"after": {"order_id": "o1"}, "op": "c", "source_ts_ms": 1}',),
        ("not json at all",),
        ('{"after": {"order_id": "o2"}}',),  # missing op
        (None,),
    ]
    raw = spark.createDataFrame(rows, ["value"])
    ok, bad = split_corrupt_cdc(raw, PAYLOAD)
    assert ok.count() == 1
    assert bad.count() == 3
    parsed = parse_cdc_envelope(ok, PAYLOAD)
    assert [r.order_id for r in parsed.collect()] == ["o1"]


def test_schema_evolution_on_append(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "evolving"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v1"]))
    t.append(spark.createDataFrame([(2, "b", 9.5)], ["id", "v1", "v2_new"]))
    merged = t.read(schema=T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v1", T.StringType()),
        T.StructField("v2_new", T.DoubleType()),
    ]))
    assert set(merged.columns) == {"id", "v1", "v2_new"}
    rows = {r.id: r.v2_new for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}  # old rows null-fill the new column


def test_partition_pruning_reaches_scan(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "parted"))
    df = spark.range(1000).selectExpr("id", "CAST(id % 10 AS STRING) AS day")
    t.append(df, partition_by=["day"])
    q = t.read().filter(F.col("day") == "3")
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:", 1)[1][:200]
    assert "day" in seg  # pruned at the source, not filtered post-scan
    assert q.count() == 100


def test_merge_upsert_tiebreak_column(spark):
    # Same (pk, order_col) twice in one batch: tiebreak picks the winner
    # deterministically.
    updates = spark.createDataFrame(
        [(1, 10, 5, "first"), (1, 10, 9, "second")], ["id", "ts", "offset", "v"]
    )
    out = merge_upsert(None, updates, ["id"], "ts", tiebreak=["offset"]).collect()
    assert len(out) == 1 and out[0].v == "second"  # highest offset wins


def test_cdc_source_struct_propagates(spark):
    # Debezium `source` block -> _source_table/_source_lsn columns; rows
    # without the block parse with nulls (ADVICE/VERDICT r1: full envelope
    # fidelity, reference batch_silver.py:60-82 topic routing).
    import json as _json

    with_src = _json.dumps(
        {
            "before": None,
            "after": {"order_id": "o9", "order_status": "created", "amount": 3.0},
            "op": "c",
            "source_ts_ms": 1000,
            "source": {
                "connector": "postgresql",
                "db": "shop",
                "schema": "public",
                "table": "orders",
                "txId": 77,
                "lsn": 123456789,
                "snapshot": "false",
            },
        }
    )
    raw = spark.createDataFrame([(with_src,), (_env("c", None, {"order_id": "o8", "order_status": "x", "amount": 1.0}, 2000),)], ["value"])
    parsed = {r.order_id: r for r in parse_cdc_envelope(raw, PAYLOAD).collect()}
    assert parsed["o9"]._source_table == "orders"
    assert parsed["o9"]._source_lsn == 123456789
    assert parsed["o8"]._source_table is None and parsed["o8"]._source_lsn is None


def test_morton2_interleaves_bits(spark):
    from end_to_end_data_lakehouse_pipeline_spark.functions.zorder import morton2

    df = spark.createDataFrame([(3, 1), (0, 0), (65535, 0), (0, 65535)], ["x", "y"])
    got = [r.z for r in df.select(morton2(F.col("x"), F.col("y")).alias("z")).collect()]
    # x bits land at even positions, y bits at odd
    assert got == [
        0b111,  # x=11, y=01 -> 1(y0)1(x1)... = 4+2+1
        0,
        sum(1 << (2 * i) for i in range(16)),
        sum(1 << (2 * i + 1) for i in range(16)),
    ]


def test_erasure_propagates_across_tables_atomically(spark, tmp_path):
    # GDPR erasure: removing two subjects rewrites every table that carries
    # the key, as new versions (time travel to pre-erasure still works
    # until pruned), and returns a faithful audit trail.
    from end_to_end_data_lakehouse_pipeline_spark.sources.erasure import erase_subjects

    customers = TransactionLogTable(spark, str(tmp_path / "customers"))
    orders = TransactionLogTable(spark, str(tmp_path / "orders"))
    customers.overwrite(
        spark.createDataFrame([(1, "ann"), (2, "bob"), (3, "cas")], ["cust_id", "name"])
    )
    orders.overwrite(
        spark.createDataFrame(
            [(10, 1), (11, 1), (12, 2), (13, 3)], ["order_id", "cust_id"]
        )
    )

    subjects = spark.createDataFrame([(1,), (2,)], ["cust_id"])
    audit = erase_subjects(
        spark,
        {"customers": (customers, "cust_id"), "orders": (orders, "cust_id")},
        subjects,
    )

    by_table = {a.table: a for a in audit}
    assert by_table["customers"].rows_erased == 2
    assert by_table["orders"].rows_erased == 3
    assert [r.cust_id for r in customers.read().collect()] == [3]
    assert sorted(r.order_id for r in orders.read().collect()) == [13]
    # pre-erasure versions still readable (legal-hold window), then prunable
    assert customers.read(version=1).count() == 3


def test_orc_roundtrip_preserves_rows_and_schema(spark, sf_dir, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.catalog import table
    from end_to_end_data_lakehouse_pipeline_spark.sources.readers import (
        read_orc,
        write_orc,
    )

    src = table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path, n_files=2)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    # filters push down to the ORC scan like parquet
    plan = back.filter("o_totalprice > 1000")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_totalprice" in plan
