"""Streaming layer: bronze ingest, watermarked agg, in-stream dedup,
foreachBatch MERGE — hermetic via file/memory sources + availableNow."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_data_lakehouse_pipeline_spark.sources import TransactionLogTable, parse_cdc_envelope
from end_to_end_data_lakehouse_pipeline_spark.streaming import (
    process_cdc_stream,
    streaming_daily_sales,
    streaming_dedup,
)
from end_to_end_data_lakehouse_pipeline_spark.streaming.aggregates import silver_merge_sink

RAW_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])

PAYLOAD = T.StructType(
    [
        T.StructField("order_id", T.StringType(), True),
        T.StructField("order_status", T.StringType(), True),
    ]
)


def _write_jsonl(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / "part-0.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_bronze_file_stream_end_to_end(spark, tmp_path):
    src = tmp_path / "incoming"
    _write_jsonl(
        src,
        [
            {"value": json.dumps({"after": {"order_id": "o1"}, "op": "c", "source_ts_ms": 1})},
            {"value": json.dumps({"after": {"order_id": "o2"}, "op": "c", "source_ts_ms": 2})},
        ],
    )
    stream = spark.readStream.schema(RAW_SCHEMA).json(str(src))
    q = process_cdc_stream(
        stream,
        "orders",
        str(tmp_path / "bronze"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    bronze = spark.read.parquet(str(tmp_path / "bronze"))
    assert bronze.count() == 2
    cols = set(bronze.columns)
    assert {"_raw_value", "_kafka_timestamp", "_source_table", "_ingested_at"} <= cols
    assert bronze.select("_source_table").distinct().first()[0] == "orders"


def test_streaming_daily_sales_watermarked(spark, tmp_path):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100, "click", 10.0),
            (2, "2024-01-01 14:00:00", 101, "click", 20.0),
            (3, "2024-01-02 09:00:00", 100, "buy", 5.0),
        ],
        ["event_id", "ts_s", "user_id", "event_type", "value"],
    ).withColumn("ts", F.to_timestamp("ts_s"))
    src = tmp_path / "events"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    agg = streaming_daily_sales(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("daily_sales_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {str(r.day): (r.n_events, r.total_value) for r in spark.sql(
        "select * from daily_sales_test"
    ).collect()}
    assert got["2024-01-01"] == (2, 30.0)
    assert got["2024-01-02"] == (1, 5.0)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    rows = spark.createDataFrame(
        [
            ("o1", "created", "2024-01-01 10:00:00"),
            ("o1", "created-dup", "2024-01-01 10:00:05"),
            ("o2", "created", "2024-01-01 10:01:00"),
        ],
        ["order_id", "order_status", "ts_s"],
    ).withColumn("_event_ts", F.to_timestamp("ts_s")).drop("ts_s")
    src = tmp_path / "dup_src"
    rows.write.parquet(str(src))
    stream = spark.readStream.schema(rows.schema).parquet(str(src))
    deduped = streaming_dedup(stream, pks=["order_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select order_id from dedup_test").collect()
    assert sorted(r.order_id for r in out) == ["o1", "o2"]


def test_silver_merge_sink_foreachbatch(spark, tmp_path):
    raw = spark.createDataFrame(
        [
            (json.dumps({"after": {"order_id": "o1", "order_status": "created"}, "op": "c", "source_ts_ms": 1000}),),
            (json.dumps({"after": {"order_id": "o1", "order_status": "shipped"}, "op": "u", "source_ts_ms": 2000}),),
            (json.dumps({"before": {"order_id": "o2", "order_status": "x"}, "op": "d", "source_ts_ms": 3000}),),
            (json.dumps({"after": {"order_id": "o2", "order_status": "created"}, "op": "c", "source_ts_ms": 1500}),),
        ],
        ["value"],
    )
    src = tmp_path / "cdc_src"
    raw.write.parquet(str(src))
    stream = spark.readStream.schema(raw.schema).parquet(str(src))
    parsed = parse_cdc_envelope(stream, PAYLOAD)
    table = TransactionLogTable(spark, str(tmp_path / "silver"))
    q = silver_merge_sink(
        parsed, table, pks=["order_id"], order_col="_event_ts",
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    rows = {r.order_id: r.order_status for r in table.read().collect()}
    assert rows == {"o1": "shipped"}  # o2's delete (ts 3000) beats its insert (1500)


@pytest.mark.parametrize("n_tables", [3])
def test_fan_out_independent_queries(spark, tmp_path, n_tables):
    from end_to_end_data_lakehouse_pipeline_spark.streaming import fan_out

    streams = []
    for i in range(n_tables):
        df = spark.createDataFrame([(f"t{i}-row",)], ["value"])
        src = tmp_path / f"src{i}"
        df.write.parquet(str(src))
        streams.append(
            (spark.readStream.schema(df.schema).parquet(str(src)), f"table{i}")
        )
    queries = fan_out(
        streams, str(tmp_path / "bronze"), str(tmp_path / "ckpt"), available_now=True
    )
    for q in queries:
        q.awaitTermination(120)
    for i in range(n_tables):
        assert spark.read.parquet(str(tmp_path / "bronze" / f"table{i}")).count() == 1


def test_sessionize_stateful_operator(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.streaming.sessionize import sessionize

    events = spark.createDataFrame(
        [
            # user 100: two events 5 min apart, then a 55-min gap -> 1 closed
            (100, "2024-01-01 10:00:00", 1.0),
            (100, "2024-01-01 10:05:00", 2.0),
            (100, "2024-01-01 11:00:00", 4.0),
            # user 200: single burst, stays open -> nothing emitted
            (200, "2024-01-01 09:00:00", 8.0),
        ],
        ["user_id", "ts_s", "value"],
    ).withColumn("ts", F.to_timestamp("ts_s")).select("user_id", "ts", "value")
    src = tmp_path / "sess_src"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    sessions = sessionize(stream, gap_minutes=30)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sessions_test").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 100 and r.n_events == 2 and r.total_value == 3.0
    assert str(r.session_start).startswith("2024-01-01 10:00") 
    assert str(r.session_end).startswith("2024-01-01 10:05")


def test_streaming_hourly_pattern_matches_batch(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.streaming.aggregates import (
        streaming_hourly_pattern,
    )

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:15:00", 10.0),  # Monday 10h
            (2, "2024-01-01 10:45:00", 20.0),  # Monday 10h
            (3, "2024-01-02 23:00:00", 5.0),   # Tuesday 23h
        ],
        ["event_id", "ts_s", "value"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    src = tmp_path / "hp_src"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    q = (
        streaming_hourly_pattern(stream)
        .writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.hr, r.dow_mon1): (r.n_events, r.total_value)
        for r in spark.sql("select * from hourly_test").collect()
    }
    assert got == {(10, 1): (2, 30.0), (23, 2): (1, 5.0)}


def test_streaming_session_window_builtin(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.streaming.aggregates import (
        streaming_sessions,
    )

    events = spark.createDataFrame(
        [
            (100, "2024-01-01 10:00:00", 1.0),
            (100, "2024-01-01 10:10:00", 2.0),   # same session (gap 10m < 30m)
            (100, "2024-01-01 12:00:00", 4.0),   # new session
            (200, "2024-01-01 09:00:00", 8.0),
        ],
        ["user_id", "ts_s", "value"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    src = tmp_path / "sw_src"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    q = (
        streaming_sessions(stream)
        .writeStream.format("memory")
        .queryName("sw_test")
        .outputMode("append")  # session windows close once watermark passes
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sw_test order by user_id, session_start").collect()
    got = [(r.user_id, r.n_events, r.total_value) for r in rows]
    # watermark = max_ts - 1h = 11:00 -> sessions ending before 11:00 close:
    # u100 (10:00-10:40, 2 events) and u200 (09:00-09:30). The 12:00
    # session stays open (not emitted in append mode).
    assert got == [(100, 2, 3.0), (200, 1, 8.0)]


def test_synthetic_cdc_generator_envelopes(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.streaming.generator import (
        synthetic_cdc_stream,
    )

    stream = synthetic_cdc_stream(spark, rows_per_second=500, n_keys=50)
    q = (
        stream.writeStream.format("memory")
        .queryName("gen_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("select count(*) from gen_test").first()[0] >= 20:
                break
            time.sleep(1)
            q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select value from gen_test").collect()
    assert len(rows) >= 20
    # every envelope must parse with the typed CDC path
    parsed = parse_cdc_envelope(
        spark.createDataFrame([(r.value,) for r in rows], ["value"]),
        T.StructType(
            [
                T.StructField("order_id", T.StringType(), True),
                T.StructField("order_status", T.StringType(), True),
                T.StructField("amount", T.DoubleType(), True),
            ]
        ),
    )
    assert parsed.filter(F.col("order_id").isNull()).count() == 0
    ops = {r._op for r in parsed.select("_op").distinct().collect()}
    assert ops <= {"c", "u", "d"} and "c" in ops


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """ST2 exactly-once-ish: restarting from the checkpoint must not
    re-ingest already-committed files."""
    src = tmp_path / "cdc_in"
    _write_jsonl(src, [{"value": "a"}, {"value": "b"}])
    stream = spark.readStream.schema(RAW_SCHEMA).json(str(src))
    q1 = process_cdc_stream(
        stream, "t", str(tmp_path / "bronze"), str(tmp_path / "ckpt"), available_now=True
    )
    q1.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "bronze")).count() == 2

    # new file lands; restart with the SAME checkpoint
    with open(src / "part-1.jsonl", "w") as f:
        f.write('{"value": "c"}\n')
    stream2 = spark.readStream.schema(RAW_SCHEMA).json(str(src))
    q2 = process_cdc_stream(
        stream2, "t", str(tmp_path / "bronze"), str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    bronze = spark.read.parquet(str(tmp_path / "bronze"))
    assert bronze.count() == 3  # a, b NOT duplicated; c ingested once
    assert bronze.select("_raw_value").distinct().count() == 3


def test_stream_static_dim_join(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.streaming.aggregates import (
        streaming_enriched_by_dim,
    )

    facts = spark.createDataFrame(
        [(1, "n1", 10.0), (2, "n2", 20.0), (3, "nX", 5.0)], ["id", "nk", "v"]
    )
    src = tmp_path / "facts"
    facts.write.parquet(str(src))
    dim = spark.createDataFrame([("n1", "EUROPE"), ("n2", "ASIA")], ["nk", "region"])
    stream = spark.readStream.schema(facts.schema).parquet(str(src))
    q = (
        streaming_enriched_by_dim(stream, dim, "nk")
        .writeStream.format("memory")
        .queryName("ss_dim_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.id: r.region for r in spark.sql("select * from ss_dim_test").collect()}
    assert got == {1: "EUROPE", 2: "ASIA", 3: None}


def test_stream_stream_join_time_bounded(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.streaming.aggregates import (
        streaming_orders_with_payments,
    )

    orders = spark.createDataFrame(
        [("o1", "2024-01-01 10:00:00"), ("o2", "2024-01-01 12:00:00")],
        ["order_id", "ts_s"],
    ).withColumn("order_ts", F.to_timestamp("ts_s")).drop("ts_s")
    payments = spark.createDataFrame(
        [
            ("o1", "2024-01-01 10:30:00", 50.0),   # within 1h -> match
            ("o2", "2024-01-01 14:00:00", 70.0),   # 2h later -> NO match
            ("o1", "2024-01-01 09:00:00", 99.0),   # before order -> NO match
        ],
        ["order_id", "ts_s", "amount"],
    ).withColumn("payment_ts", F.to_timestamp("ts_s")).drop("ts_s")
    osrc, psrc = tmp_path / "orders", tmp_path / "payments"
    orders.write.parquet(str(osrc))
    payments.write.parquet(str(psrc))
    ostream = spark.readStream.schema(orders.schema).parquet(str(osrc))
    pstream = spark.readStream.schema(payments.schema).parquet(str(psrc))
    joined = streaming_orders_with_payments(ostream, pstream)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select order_id, amount from ss_join_test").collect()
    assert [(r.order_id, r.amount) for r in rows] == [("o1", 50.0)]


def test_streaming_incremental_dedup_gate(spark, tmp_path):
    # Seed a 2-doc corpus; stream 6 docs: an exact dup, a near dup, a new
    # doc, a SHORT new doc (too short to shingle — must still be admitted),
    # a short exact dup of a corpus doc, and an intra-batch exact dup. The
    # gate admits exactly the new docs and audits every rejection.
    import json as _json

    from end_to_end_data_lakehouse_pipeline_spark.streaming.dedup_stream import (
        incremental_dedup_sink,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "tiny doc"  # < 3 tokens: no shingles
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame([(0, base), (1, short)], ["doc_id", "text"]).write.parquet(
        corpus_path
    )

    src = tmp_path / "incoming_docs"
    src.mkdir()
    rows = [
        {"doc_id": 100, "text": base},                      # exact dup of 0
        {"doc_id": 101, "text": base + " lambda"},          # near dup of 0
        {"doc_id": 102, "text": "fresh words never seen anywhere before today"},
        {"doc_id": 103, "text": "novel pair"},              # short, new: admit
        {"doc_id": 104, "text": short},                     # short exact dup of 1
        {"doc_id": 105, "text": "fresh words never seen anywhere before today"},
        # ^ intra-batch exact dup of 102 (same text): 102 wins (min doc_id)
    ]
    (src / "batch.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))

    schema = "doc_id BIGINT, text STRING"
    stream = spark.readStream.schema(schema).json(str(src))
    q = incremental_dedup_sink(
        stream,
        corpus_path,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    corpus = spark.read.option("recursiveFileLookup", "true").parquet(corpus_path)
    assert sorted(r.doc_id for r in corpus.collect()) == [0, 1, 102, 103]

    matches = {
        r.batch_doc: r
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "matches"))
        .collect()
    }
    assert matches[100].corpus_doc == 0 and matches[100].match_type == "exact"
    assert matches[101].corpus_doc == 0 and matches[101].match_type == "near"
    assert matches[104].corpus_doc == 1 and matches[104].match_type == "exact"
    # 105 was dropped intra-batch (not a corpus match): no audit row, and
    # the doc is simply not admitted — min-id winner 102 carries the text
    assert 105 not in matches


def test_streaming_dedup_gate_redelivery_idempotent(spark, tmp_path):
    # Crash-redelivery contract: a micro-batch whose corpus/matches writes
    # LANDED but whose checkpoint did NOT commit is redelivered; the rerun
    # must not see its own survivors as corpus (self-match → empty corpus
    # dir = silent data loss). gate_batch is the foreachBatch body.
    from end_to_end_data_lakehouse_pipeline_spark.streaming.dedup_stream import (
        gate_batch,
    )

    corpus_path = str(tmp_path / "corpus")
    matches_path = str(tmp_path / "matches")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    b0 = spark.createDataFrame([(0, base), (1, "tiny doc")], ["doc_id", "text"])
    gate_batch(b0, 0, corpus_path, matches_path)

    b1 = spark.createDataFrame(
        [(100, base), (101, "fresh words never seen before")],
        ["doc_id", "text"],
    )
    gate_batch(b1, 1, corpus_path, matches_path)

    def snapshot():
        corpus = sorted(
            r.doc_id
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(corpus_path)
            .collect()
        )
        matches = sorted(
            (r.batch_doc, r.corpus_doc, r.match_type)
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(matches_path)
            .collect()
        )
        return corpus, matches

    first = snapshot()
    assert first == ([0, 1, 101], [(100, 0, "exact")])

    # Redeliver batch 1 (same id): outputs must be recomputed identically —
    # in particular corpus batch_1 must NOT become empty and matches must
    # NOT contain 101 self-matching itself.
    gate_batch(b1, 1, corpus_path, matches_path)
    assert snapshot() == first

    # Redeliver batch 0 too (first-batch redelivery: corpus contains ONLY
    # its own directory plus later batches' — batch_0's own dir excluded).
    gate_batch(b0, 0, corpus_path, matches_path)
    corpus_after, _ = snapshot()
    assert corpus_after == [0, 1, 101]


def test_streaming_trending_topk(spark, tmp_path):
    # Windowed counts maintained by the state store; each micro-batch
    # merges its update-mode delta into the persisted counts table and
    # re-ranks the touched windows. Two drains: the second batch updates
    # ONLY signup — update mode emits just that group, so a rank over the
    # batch alone would serve a wrong top-k (the bug this test pins).
    import json as _json

    from end_to_end_data_lakehouse_pipeline_spark.streaming.aggregates import (
        trending_topk_sink,
    )

    src = tmp_path / "events_in"
    src.mkdir()
    rows = []
    for i, (etype, n) in enumerate(
        [("view", 5), ("click", 3), ("purchase", 2), ("signup", 1)]
    ):
        for j in range(n):
            rows.append(
                {"ts": f"2024-01-01 10:{i}{j}:00", "event_type": etype}
            )
    (src / "events.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))

    counts_path = str(tmp_path / "trending_counts")
    topk_path = str(tmp_path / "trending_topk")

    def drain():
        stream = spark.readStream.schema(
            "ts TIMESTAMP, event_type STRING"
        ).json(str(src))
        q = trending_topk_sink(
            stream,
            counts_path,
            topk_path,
            str(tmp_path / "ckpt"),
            k=2,
            available_now=True,
        )
        q.awaitTermination(120)

    drain()
    snap = spark.read.parquet(topk_path).collect()
    assert sorted(r.event_type for r in snap) == ["click", "view"]
    by_type = {r.event_type: r.n_events for r in snap}
    assert by_type["view"] == 5 and by_type["click"] == 3

    # Batch 2: 4 more signup events in the same window → signup 1→5.
    # Update mode emits ONLY (window, signup); the serving top-2 must
    # become view=5, signup=5 — possible only by merging with the
    # persisted counts for the touched window before ranking.
    rows2 = [
        {"ts": f"2024-01-01 10:4{j}:00", "event_type": "signup"}
        for j in range(4)
    ]
    (src / "events2.jsonl").write_text("\n".join(_json.dumps(r) for r in rows2))
    drain()

    snap2 = spark.read.parquet(topk_path).collect()
    by_type2 = {r.event_type: r.n_events for r in snap2}
    # tiebreak is event_type asc at n=5: signup before view
    assert by_type2 == {"signup": 5, "view": 5}

    # the counts table holds every group of the window, merged
    counts_now = {
        r.event_type: r.n_events for r in spark.read.parquet(counts_path).collect()
    }
    assert counts_now == {"view": 5, "click": 3, "purchase": 2, "signup": 5}
