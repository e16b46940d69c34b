"""Oracle-checked streaming drains (VERDICT r2 task 4).

The streaming surface (streaming/aggregates.py, streaming/sessionize.py)
was pytest-only: exercised by unit tests but absent from the registered,
DuckDB-diffed query surface. These entries drive the REAL streaming
operators — file-source ``readStream`` → watermarked stateful transform →
``trigger(availableNow=True)`` drain — and return the drained result as a
batch DataFrame, so the driver's oracle compare covers the streaming
execution path end-to-end (reference anchor: streaming_bronze.py:95-110's
micro-batch machinery, upgraded with the ST4-ST6 stateful operators).

Determinism notes:
- The incremental drains (daily sales, top-k, SCD2, dedup gate,
  stream-stream join) split their input into ≥3 time-ordered files and
  drive with ``maxFilesPerTrigger=1`` under availableNow, so the state
  store processes MULTIPLE micro-batches — update-mode increments, SCD2
  convergence, top-k re-ranking across batches run under the DuckDB
  oracle, not just pytest (VERDICT r3 task 2: the ADVICE bug class was
  precisely multi-batch). A batch-count side channel (the checkpoint's
  offsets dir) asserts ≥3 batches actually ran. Time-ordered arrival
  means the watermark only ever trails the data, so no input is dropped
  as late and the batch oracle stays exact. Sessionize stays
  single-batch by design: its emitted set is "closed sessions", which
  watermark-timeout firing across batches would legitimately extend
  beyond the gaps-and-islands oracle's closed set.
- Money/value sums stream as scaled-integer cents (plans/parity.py
  convention) — long sums are exact under any execution order, unlike
  double sums.
- Workspaces (inputs, checkpoints, sinks) are session-scoped
  (plans/workspace.py): results return as DISTRIBUTED path-backed scans
  — no data-sized driver collect (VERDICT r3 finding #2) — and each
  re-invocation retires the previous run's workspace.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.aggregates import streaming_daily_sales, trending_topk_sink
from ..streaming.sessionize import sessionize
from .advanced import SCD2_ORACLE, user_tier_changes
from .dedup import (
    JACCARD_THRESHOLD,
    SHINGLE_DF_CAP,
    _sql_shingles as _dedup_sql_shingles,
)
from .registry import register
from .text import _sql_tokens as _dedup_sql_tokens
from .workspace import session_dir

_GAP_MINUTES = 30
_TOPK_K = 3
_N_SPLITS = 3  # input files per incremental drain = micro-batch count


def _stage_stream_files(src: DataFrame, order_col: str, ws: str) -> str:
    """Stage ``src`` as ``_N_SPLITS`` range-partitioned files under
    ``ws/input`` with strictly increasing mtimes, so the file stream
    source (which orders by modification time) replays them as separate
    micro-batches in ``order_col`` order under ``maxFilesPerTrigger=1``."""
    data_dir = os.path.join(ws, "input")
    (
        src.repartitionByRange(_N_SPLITS, F.col(order_col))
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    parts = sorted(p for p in os.listdir(data_dir) if p.endswith(".parquet"))
    t0 = time.time() - 3600
    for i, name in enumerate(parts):
        os.utime(os.path.join(data_dir, name), (t0 + i * 10, t0 + i * 10))
    return data_dir


def _split_input(spark: SparkSession, sf_dir: str, filename: str,
                 order_col: str, ws: str) -> str:
    """:func:`_stage_stream_files` over one testdata table file."""
    from ..catalog import ensure_read_confs

    ensure_read_confs(spark)
    return _stage_stream_files(
        spark.read.parquet(f"{sf_dir}/{filename}"), order_col, ws
    )


def _split_input_mod(spark: SparkSession, sf_dir: str, filename: str,
                     key_col: str, ws: str) -> str:
    """Like _split_input but batch membership is the SQL-expressible rule
    ``key % _N_SPLITS == k`` (file k = remainder k, arrival order k asc)
    — needed when the ORACLE must know exactly which rows formed each
    micro-batch (the dedup admission unroll), where range-partition
    boundaries would be sampling-dependent."""
    from ..catalog import ensure_read_confs

    ensure_read_confs(spark)
    src = spark.read.parquet(f"{sf_dir}/{filename}")
    data_dir = os.path.join(ws, "input")
    os.makedirs(data_dir, exist_ok=True)
    t0 = time.time() - 3600
    for k in range(_N_SPLITS):
        part_dir = os.path.join(ws, f"_part{k}")
        (
            src.filter(F.col(key_col) % _N_SPLITS == k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        pf = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = os.path.join(data_dir, f"{k:03d}.parquet")
        os.rename(os.path.join(part_dir, pf), dst)
        os.utime(dst, (t0 + k * 10, t0 + k * 10))
        shutil.rmtree(part_dir, ignore_errors=True)
    return data_dir


def _n_batches(ckpt: str) -> int:
    odir = os.path.join(ckpt, "offsets")
    if not os.path.isdir(odir):
        return 0
    return len([f for f in os.listdir(odir) if not f.endswith(".tmp")])


def _assert_multibatch(ckpt: str, at_least: int = _N_SPLITS) -> None:
    n = _n_batches(ckpt)
    if n < at_least:
        raise RuntimeError(
            f"multi-batch drain ran only {n} micro-batches (need >= "
            f"{at_least}) — maxFilesPerTrigger/input split broke"
        )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with the same nanos->
    timestamp conversion catalog.table() applies to the batch scan."""
    from ..catalog import ensure_read_confs

    # BEFORE the probe read: on a vanilla (driver-harness) session the
    # probe itself throws on INT64 TIMESTAMP(NANOS) parquet unless
    # nanosAsLong is already set. Idempotent — no per-query conf mutation
    # once the session is pinned.
    ensure_read_confs(spark)
    path = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(path)  # schema probe
    if os.path.isdir(path):  # scaled replicas: the table IS a directory
        stream = spark.readStream.schema(batch.schema).parquet(path)
    else:
        # single-file testdata: the file stream source requires a
        # DIRECTORY — stream the sf dir with a glob filter selecting
        # just the events table file
        stream = (
            spark.readStream.schema(batch.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return _ts_fix(stream)


def _ts_fix(stream: DataFrame) -> DataFrame:
    dtypes = dict(stream.dtypes)
    if dtypes.get("ts") == "bigint":  # TIMESTAMP(NANOS) read as long
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dtypes.get("ts") == "timestamp_ntz":
        # watermarks require TIMESTAMP (ltz); session tz is pinned UTC so
        # the naive->instant interpretation matches the UTC-naive oracle
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _events_stream_split(spark: SparkSession, sf_dir: str, ws: str) -> DataFrame:
    """Events as a MULTI-micro-batch stream: time-range-split files under
    the workspace, one file per trigger (arrival order = event-time
    order, so the watermark never drops input)."""
    data_dir = _split_input(spark, sf_dir, "events.parquet", "ts", ws)
    batch = spark.read.parquet(data_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    )
    return _ts_fix(stream)


_LIVE_VIEWS: dict[str, str] = {}


def _drain_to_memory(
    df: DataFrame,
    output_mode: str,
    tag: str,
    min_batches: int = 1,
    state_partitions: int | None = None,
) -> DataFrame:
    """availableNow drain into a memory sink; returns the sink table
    directly (a memory sink is driver-resident by nature, and the only
    users are bounded COMPLETE-mode aggregates — daily rows — the S12
    driver-fetch shape). Per-tag housekeeping mirrors workspace.py:
    the previous invocation's view is dropped, the checkpoint lives in a
    session-scoped dir, so repeat loops (bench REPEATS, diffcheck) hold
    at most one sink per drive.

    ``state_partitions`` — same per-stream state-store sizing knob as
    :func:`_drain_to_parquet` (streaming plans get no AQE coalescing,
    so the session default would pin data-free state machinery wide)."""
    spark = df.sparkSession
    prev = _LIVE_VIEWS.pop(tag, None)
    if prev:
        try:
            spark.catalog.dropTempView(prev)
        except Exception:
            pass
    name = f"{tag}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(session_dir(f"{tag}_ck"), "ckpt")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    _assert_multibatch(ckpt, min_batches)
    _LIVE_VIEWS[tag] = name
    return spark.table(name)


def _drain_to_parquet(
    df: DataFrame, tag: str, min_batches: int = 1, state_partitions: int | None = None
) -> DataFrame:
    """availableNow drain of an APPEND-mode stream into a session-scoped
    parquet sink; returns the path-backed DISTRIBUTED scan (no driver
    localization — the join/sessionize outputs are data-sized).

    ``state_partitions`` sets spark.sql.shuffle.partitions for THIS
    stream's first run only — the value is baked into the fresh
    checkpoint, so it pins the state-store partition count. Stateful
    drains whose cost is per-partition flush machinery (the stream-stream
    joins: two state stores x partitions x micro-batches of RocksDB/HDFS
    file churn) set it low; throughput-bound stages don't care because
    the drain input is micro-batch-sized, not table-sized.

    noDataMicroBatches is PINNED on for every drain: the outer-join /
    watermark-expiry oracles assume a final no-data batch advances the
    watermark to max(ts) - delay and flushes expired state (ADVICE r8) —
    with the conf off, rows expiring in the last batch's watermark lag
    would be in the oracle but not the sink."""
    spark = df.sparkSession
    ws = session_dir(f"{tag}_sink")
    out_dir, ckpt = os.path.join(ws, "out"), os.path.join(ws, "ckpt")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    try:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        q = (
            df.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_ndmb)
    _assert_multibatch(ckpt, min_batches)
    if not any(f.endswith(".parquet") for f in os.listdir(out_dir)):
        return spark.createDataFrame([], df.schema)  # zero-row drain
    return spark.read.parquet(out_dir)


STREAMING_DAILY_SALES_ORACLE = """
SELECT
    CAST(ts AS DATE) AS day,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total_value,
    ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
          / COUNT(*) / 100.0, 6) AS avg_value
FROM events
GROUP BY 1
"""


def streaming_daily_sales_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 through the real streaming path: watermark + 1-day event-time
    window maintained by the state store, drained with availableNow into
    a complete-mode memory sink. Values stream as cents (exact long sums);
    the final select converts back and recomputes avg from the exact sum."""
    ws = session_dir("daily_sales_drain")
    events = _events_stream_split(spark, sf_dir, ws).withColumn(
        "value_cents", F.round(F.col("value") * 100, 0).cast("long")
    )
    daily = streaming_daily_sales(events, value_col="value_cents")
    out = _drain_to_memory(
        daily, "complete", "daily_sales", min_batches=_N_SPLITS,
        state_partitions=8,
    )
    return out.select(
        "day",
        "n_events",
        (F.col("total_value").cast("double") / 100.0).alias("total_value"),
        F.round(
            F.col("total_value").cast("double") / F.col("n_events") / 100.0, 6
        ).alias("avg_value"),
    )


register(
    "streaming_daily_sales_drain",
    oracle=STREAMING_DAILY_SALES_ORACLE,
    doc="ST5 watermarked daily window agg drained via availableNow; exact "
    "cents sums (streaming/aggregates.py:29; 04_materialized_views.sql:11-25).",
    tags=("streaming", "agg", "drain"),
)(streaming_daily_sales_drain)


SESSIONIZE_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     > {_GAP_MINUTES} * 60 * 1000000
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
    SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS UNBOUNDED PRECEDING
    ) AS sid
    FROM flagged
),
sessions AS (
    SELECT user_id, sid,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value,
           MAX(MAX(sid)) OVER (PARTITION BY user_id) AS max_sid
    FROM numbered
    GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM sessions
WHERE sid < max_sid  -- the final session per user is still OPEN in-stream
"""


def streaming_sessionize_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 through the real streaming path: gap-based sessionization via
    applyInPandasWithState, drained with availableNow. Emits CLOSED
    sessions only (each user's last session stays open in state) — the
    oracle is the gaps-and-islands SQL minus each user's final island.
    Values stream as integral cents-doubles so the in-state accumulation
    is exact in any order."""
    events = _events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        (F.round(F.col("value") * 100, 0)).alias("value"),  # integral double
    )
    sessions = sessionize(events, gap_minutes=_GAP_MINUTES)
    out = _drain_to_parquet(sessions, "sessionize")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        (F.col("total_value") / 100.0).alias("total_value"),
    )


register(
    "streaming_sessionize_drain",
    oracle=SESSIONIZE_ORACLE,
    doc="ST6 applyInPandasWithState sessionization drained via availableNow; "
    "gaps-and-islands oracle (streaming/sessionize.py:47).",
    tags=("streaming", "stateful", "drain"),
)(streaming_sessionize_drain)


TRENDING_TOPK_ORACLE = f"""
WITH counts AS (
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY window_start
        ORDER BY n_events DESC, event_type ASC
    ) AS rnk
    FROM counts
)
SELECT window_start, event_type, n_events
FROM ranked
WHERE rnk <= {_TOPK_K}
"""


def streaming_trending_topk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k through the full serving pipeline: windowed counts in
    the state store → update-mode foreachBatch merge into a persisted
    counts table → per-window re-rank with dynamic partition overwrite
    (streaming/aggregates.py merge_topk_batch — the multi-batch-correct
    path, exercised here under the driver's oracle compare)."""
    ws = session_dir("topk_drain")
    events = _events_stream_split(spark, sf_dir, ws)
    counts_path = os.path.join(ws, "counts")
    topk_path = os.path.join(ws, "topk")
    ckpt = os.path.join(ws, "ckpt")
    q = trending_topk_sink(
        events,
        counts_path,
        topk_path,
        ckpt,
        k=_TOPK_K,
        window="1 hour",
        available_now=True,
    )
    q.awaitTermination()
    _assert_multibatch(ckpt)
    return spark.read.parquet(topk_path).select(
        "window_start", "event_type", "n_events"
    )


register(
    "streaming_trending_topk_drain",
    oracle=TRENDING_TOPK_ORACLE,
    doc="Hourly trending top-k through the update-mode merge+re-rank serving "
    "sink (streaming/aggregates.py merge_topk_batch).",
    tags=("streaming", "topk", "drain"),
)(streaming_trending_topk_drain)


def streaming_scd2_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC -> SCD2 dimension maintenance through the real
    foreachBatch path: each micro-batch lands in bronze, only the touched
    keys' intervals are recomputed, and only the touched PK-hash buckets
    of the dimension are rewritten (streaming/scd2.py). The drained
    dimension must equal the batch SCD2 transform — same oracle as
    scd2_user_tier."""
    from ..streaming.scd2 import Scd2DimensionSink

    ws = session_dir("scd2_drain")
    changes = user_tier_changes(_events_stream_split(spark, sf_dir, ws))
    sink = Scd2DimensionSink(
        spark,
        bronze_path=os.path.join(ws, "bronze"),
        dim_path=os.path.join(ws, "dim"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value="tier",
    )
    ckpt = os.path.join(ws, "ckpt")
    # Same per-stream partition sizing as _drain_to_parquet's
    # state_partitions, applied around the foreachBatch drive: the
    # sink's within-batch jobs (touched-key interval recompute, bucket
    # rewrites) derive from the streaming source, so AQE never coalesces
    # them and the session default would run micro-batch-sized shuffles
    # 32 wide. The dimension is a pure function of bronze contents
    # (recompute-from-bronze), so partition count cannot change it.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = sink.sink(changes, checkpoint_path=ckpt)
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    _assert_multibatch(ckpt)
    return sink.read_dim()


register(
    "streaming_scd2_drain",
    oracle=SCD2_ORACLE,
    doc="SCD Type-2 dimension maintained by the streaming foreachBatch "
    "sink (bronze landing + touched-key partial recompute + touched-"
    "bucket dynamic overwrite); must equal the batch SCD2 transform.",
    tags=("streaming", "scd", "lakehouse", "drain"),
)(streaming_scd2_drain)


def _gate_stage_sql(k: int) -> str:
    """One unrolled admission stage: batch ``w{k}`` (within-batch exact
    winners) against corpus ``c{k}`` (survivors of all earlier stages) —
    exact fp rejection for every doc, then DF-capped shingle-verified
    near rejection for shingle-able docs, mirroring
    streaming/dedup_stream.gate_batch / dedup.incremental_dedup_from."""
    return f"""
e{k} AS (SELECT * FROM w{k} WHERE fp NOT IN (SELECT fp FROM c{k})),
ce{k} AS (SELECT doc_id, unnest(sh) AS g FROM c{k} WHERE len(sh) > 0),
rare{k} AS (SELECT g FROM ce{k} GROUP BY g HAVING COUNT(*) <= {{cap}}),
be{k} AS (SELECT doc_id, unnest(sh) AS g FROM e{k} WHERE len(sh) > 0),
cand{k} AS (
    SELECT DISTINCT be{k}.doc_id AS bd, ce{k}.doc_id AS cd
    FROM be{k} JOIN rare{k} ON be{k}.g = rare{k}.g
               JOIN ce{k} ON be{k}.g = ce{k}.g
),
near{k} AS (
    SELECT DISTINCT cand{k}.bd FROM cand{k}
    JOIN e{k} b ON cand{k}.bd = b.doc_id
    JOIN c{k} c ON cand{k}.cd = c.doc_id
    WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
          / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh)))
          >= {{tau}}
),
s{k} AS (SELECT doc_id, text, fp, sh FROM e{k}
         WHERE doc_id NOT IN (SELECT bd FROM near{k}))"""


STREAMING_DEDUP_ADMISSION_ORACLE = (
    r"""
WITH t AS (
    SELECT doc_id, text,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
           {sh} AS sh
    FROM documents
),
b0 AS (SELECT * FROM t WHERE doc_id % 3 = 0),
b1 AS (SELECT * FROM t WHERE doc_id % 3 = 1),
b2 AS (SELECT * FROM t WHERE doc_id % 3 = 2),
w0 AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
       (PARTITION BY fp ORDER BY doc_id) AS rn FROM b0) WHERE rn = 1),
w1 AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
       (PARTITION BY fp ORDER BY doc_id) AS rn FROM b1) WHERE rn = 1),
w2 AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
       (PARTITION BY fp ORDER BY doc_id) AS rn FROM b2) WHERE rn = 1),
s0 AS (SELECT doc_id, text, fp, sh FROM w0),
c1 AS (SELECT * FROM s0),"""
    + _gate_stage_sql(1)
    + """,
c2 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),"""
    + _gate_stage_sql(2)
    + """
SELECT doc_id, text FROM (
    SELECT doc_id, text FROM s0
    UNION ALL SELECT doc_id, text FROM s1
    UNION ALL SELECT doc_id, text FROM s2
)
"""
).format(
    sh=_dedup_sql_shingles(_dedup_sql_tokens()),
    cap=SHINGLE_DF_CAP,
    tau=JACCARD_THRESHOLD,
)


def streaming_dedup_admission_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming dedup admission gate (streaming/dedup_stream.py)
    driven end-to-end across THREE micro-batches (doc_id % 3 split, one
    file per trigger): each batch is exact-deduped within itself, then
    exact+near gated against the corpus admitted so far. The oracle is
    the 3-stage unroll of the same rule (within-batch winners ->
    fp rejection -> DF-capped shingle-verified near rejection), so a
    cross-batch admission bug — the exact class ADVICE r2 caught —
    breaks the compare. Redelivery is covered by pytest fixtures."""
    from ..streaming.dedup_stream import incremental_dedup_sink

    ws = session_dir("dedup_admission")
    data_dir = _split_input_mod(spark, sf_dir, "documents.parquet", "doc_id", ws)
    batch = spark.read.parquet(data_dir)
    docs = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
        .select("doc_id", "text")
    )
    corpus = os.path.join(ws, "corpus")
    ckpt = os.path.join(ws, "ckpt")
    # Probed r9: pinning the gate's shuffles to 8 partitions (the
    # stream-stream-join fix) changed nothing here — median 17.3 s vs
    # 16.9 s at 32. Corrected r12: AQE is in fact DISABLED for plans
    # derived from a streaming source (Spark says so at drain start),
    # so there is no partition coalescing in the gate — but the r9
    # probe shows task count isn't the lever anyway; the r12 profile
    # (tools/admission_profile.py, BASELINE round-12 row) attributes
    # the steady state to ~10 s streaming fixed cost + the near-verify
    # leg, with the corpus-index read at 0.3-1.0 s/batch. Left at
    # session defaults.
    q = incremental_dedup_sink(
        docs,
        corpus_path=corpus,
        matches_path=os.path.join(ws, "matches"),
        checkpoint=ckpt,
    )
    q.awaitTermination()
    _assert_multibatch(ckpt)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(corpus)
        .select("doc_id", "text")
    )


register(
    "streaming_dedup_admission_drain",
    oracle=STREAMING_DEDUP_ADMISSION_ORACLE,
    doc="Streaming dedup admission gate drained via availableNow across "
    "3 micro-batches (doc_id%3 split); oracle is the 3-stage unrolled "
    "exact+DF-capped-near admission rule (redelivery under pytest).",
    tags=("streaming", "dedup", "drain"),
)(streaming_dedup_admission_drain)


STREAM_STREAM_JOIN_ORACLE = """
SELECT v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


def streaming_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join through the REAL streaming path: two
    watermarked event streams (views, purchases) joined on user with a
    1-hour event-time bound, drained via availableNow. Exercises the
    symmetric-hash-join state store (both sides buffer until the
    watermark releases them) — the streaming family that was pytest-only
    before this entry. Batch oracle: the equivalent time-bounded
    self-join of `events`."""
    from ..streaming.aggregates import streaming_orders_with_payments

    ws = session_dir("join_drain")
    base = _events_stream_split(spark, sf_dir, ws)
    views = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = streaming_orders_with_payments(
        views,
        purchases,
        key="user_id",
        orders_ts="view_ts",
        payments_ts="purchase_ts",
        within="1 hour",
        watermark="2 hours",
    ).select("view_event_id", "purchase_event_id", "user_id", "view_ts", "purchase_ts")
    return _drain_to_parquet(joined, "join_drain", min_batches=_N_SPLITS)


register(
    "streaming_join_drain",
    oracle=STREAM_STREAM_JOIN_ORACLE,
    doc="Watermarked stream-stream inner join (1h event-time bound) via "
    "availableNow drain; symmetric hash-join state store end-to-end "
    "(streaming/aggregates.py:143).",
    tags=("streaming", "join", "drain"),
)(streaming_join_drain)


# ---------------------------------------------------------------------------
# streaming_left_join_drain — the OUTER stream-stream class (round 8):
# same symmetric-hash-join state machine, plus the null-padded emission
# path the inner drain never exercises — an unmatched view is emitted
# with NULL purchase columns once the event-time watermark proves no
# match can still arrive (view_ts + within falls behind the watermark;
# state evicted). With a finite availableNow drain the emitted set is
# exactly: ALL matched pairs, plus null rows for match-less views whose
# expiry precedes the FINAL GLOBAL WATERMARK — which under the default
# multiple-watermark MIN policy is min(max view_ts, max purchase_ts),
# ms-truncated, minus the 2h delay (corrected r9; see the full-join
# header) — views newer than that are still buffered at drain end.
# ---------------------------------------------------------------------------

STREAM_LEFT_JOIN_ORACLE = """
WITH v AS (
    SELECT event_id AS view_event_id, user_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
),
p AS (
    SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
m AS (
    SELECT date_trunc('millisecond', LEAST(
        (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
        (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
    )) - INTERVAL 2 HOUR AS wm
)
SELECT v.view_event_id, p.purchase_event_id, v.user_id,
       v.view_ts, p.purchase_ts
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.view_event_id, CAST(NULL AS BIGINT), v.user_id,
       v.view_ts, CAST(NULL AS TIMESTAMP)
FROM v, m
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.purchase_ts >= v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
      )
  AND v.view_ts + INTERVAL 1 HOUR < m.wm
"""


def streaming_left_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.aggregates import streaming_orders_with_payments

    ws = session_dir("left_join_drain")
    base = _events_stream_split(spark, sf_dir, ws)
    views = base.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = streaming_orders_with_payments(
        views,
        purchases,
        key="user_id",
        orders_ts="view_ts",
        payments_ts="purchase_ts",
        within="1 hour",
        watermark="2 hours",
        how="left_outer",
    ).select(
        "view_event_id", "purchase_event_id", "user_id", "view_ts", "purchase_ts"
    )
    # 8 state partitions (VERDICT r8 task 3): the drain's cost is the
    # per-partition state-store flush machinery (2 stores x partitions x
    # batches), not data volume — 8 cuts the fixed cost ~4x at sf0.1 and
    # amortizes away as volume grows; semantics unchanged (the join key
    # is hash-partitioned either way).
    return _drain_to_parquet(
        joined, "left_join_drain", min_batches=_N_SPLITS, state_partitions=8
    )


register(
    "streaming_left_join_drain",
    oracle=STREAM_LEFT_JOIN_ORACLE,
    doc="Watermarked stream-stream LEFT OUTER join via availableNow "
    "drain: all matched pairs plus null-padded rows for match-less "
    "views whose state expired before the final watermark — the outer "
    "emission path of the symmetric hash join, value-checked.",
    tags=("streaming", "join", "drain", "outer"),
)(streaming_left_join_drain)


# ---------------------------------------------------------------------------
# streaming_full_join_drain — FULL OUTER completes the stream-stream join
# family (inner r7, left outer r8): both null-padded emission classes in
# one query. Eviction boundaries differ per side because the event-time
# bound is asymmetric: a view V can still be matched by purchases in
# [V, V+1h], so its null row is final once V+1h falls behind the final
# watermark; a purchase P matches only views at or before P, so its
# null row is final once P itself falls behind it. The watermark both
# boundaries compare against is the MIN-policy global watermark over
# the two input streams — min(max view_ts, max purchase_ts),
# millisecond-truncated, minus the 2h delay (read back from the drain
# checkpoint's batchWatermarkMs and encoded exactly in the oracle's
# `m` CTE; the r8 left-join oracle's plain max(ts)-2h was data-lucky:
# whichever stream ends earlier drags the global watermark back).
# ---------------------------------------------------------------------------

STREAM_FULL_JOIN_ORACLE = """
WITH v AS (
    SELECT event_id AS view_event_id, user_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
),
p AS (
    SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
m AS (
    SELECT date_trunc('millisecond', LEAST(
        (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
        (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
    )) - INTERVAL 2 HOUR AS wm
)
SELECT v.view_event_id, p.purchase_event_id, v.user_id,
       v.view_ts, p.purchase_ts
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.view_event_id, CAST(NULL AS BIGINT), v.user_id,
       v.view_ts, CAST(NULL AS TIMESTAMP)
FROM v, m
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.purchase_ts >= v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
      )
  AND v.view_ts + INTERVAL 1 HOUR < m.wm
UNION ALL
SELECT CAST(NULL AS BIGINT), p.purchase_event_id, p.user_id,
       CAST(NULL AS TIMESTAMP), p.purchase_ts
FROM p, m
WHERE NOT EXISTS (
        SELECT 1 FROM v
        WHERE v.user_id = p.user_id
          AND p.purchase_ts >= v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
      )
  AND p.purchase_ts < m.wm
"""


def streaming_full_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.aggregates import streaming_orders_with_payments

    ws = session_dir("full_join_drain")
    base = _events_stream_split(spark, sf_dir, ws)
    views = base.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = streaming_orders_with_payments(
        views,
        purchases,
        key="user_id",
        orders_ts="view_ts",
        payments_ts="purchase_ts",
        within="1 hour",
        watermark="2 hours",
        how="full_outer",
    ).select(
        "view_event_id", "purchase_event_id", "user_id", "view_ts", "purchase_ts"
    )
    return _drain_to_parquet(
        joined, "full_join_drain", min_batches=_N_SPLITS, state_partitions=8
    )


register(
    "streaming_full_join_drain",
    oracle=STREAM_FULL_JOIN_ORACLE,
    doc="Watermarked stream-stream FULL OUTER join via availableNow "
    "drain: matched pairs plus BOTH null-padded expiry classes "
    "(match-less views past view_ts+1h, match-less purchases past "
    "purchase_ts) against the final watermark — the complete outer "
    "emission surface of the symmetric hash join, value-checked.",
    tags=("streaming", "join", "drain", "outer"),
)(streaming_full_join_drain)


# ---------------------------------------------------------------------------
# streaming_session_window_drain — the BUILT-IN F.session_window operator
# (dynamic-gap event-time sessions in the state store), as distinct from
# streaming_sessionize_drain's applyInPandasWithState custom operator.
# APPEND mode emits a session once the watermark passes its end, so with
# a finite availableNow drain the emitted set is exactly the
# gaps-and-islands sessions whose end (last event + gap) is at or before
# final_watermark = max(ts) - watermark_delay — that boundary is the
# oracle's WHERE clause. Input files are time-range-split (one per
# trigger), so arrival order = event-time order and the watermark never
# drops input; values stream as integral cents-doubles so in-state sums
# are exact in any order.
# ---------------------------------------------------------------------------

_SW_WATERMARK = "1 hour"

SESSION_WINDOW_ORACLE = f"""
WITH e AS (
    SELECT user_id, ts, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
m AS (SELECT MAX(ts) AS maxts FROM e),
s AS (
    SELECT user_id, ts, cents,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL {_GAP_MINUTES} MINUTE
                THEN 1 ELSE 0 END AS brk
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, cents)
),
g AS (
    SELECT user_id, ts, cents,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, cents
                          ROWS UNBOUNDED PRECEDING) AS grp
    FROM s
),
agg AS (
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {_GAP_MINUTES} MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
    FROM g GROUP BY user_id, grp
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM agg, m
WHERE session_end <= maxts - INTERVAL 1 HOUR
"""


def streaming_session_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.aggregates import streaming_sessions

    ws = session_dir("session_window_drain")
    events = _events_stream_split(spark, sf_dir, ws).select(
        "user_id",
        "ts",
        (F.round(F.col("value") * 100, 0)).alias("value"),  # integral double
    )
    sessions = streaming_sessions(
        events, gap=f"{_GAP_MINUTES} minutes", watermark=_SW_WATERMARK
    )
    out = _drain_to_parquet(
        sessions, "session_window", min_batches=_N_SPLITS, state_partitions=8
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        (F.col("total_value") / 100.0).alias("total_value"),
    )


register(
    "streaming_session_window_drain",
    oracle=SESSION_WINDOW_ORACLE,
    doc="Built-in session_window (dynamic-gap event-time sessions, state-"
    "store merged) drained availableNow over >=3 time-split files; "
    "append-mode emission boundary (session end <= final watermark) is "
    "the oracle's WHERE clause over the gaps-and-islands SQL.",
    tags=("streaming", "session", "drain", "window"),
)(streaming_session_window_drain)


# ---------------------------------------------------------------------------
# streaming_running_totals_drain — per-key lifetime running aggregates
# from applyInPandasWithState ValueState, emitting CUMULATIVE totals on
# every micro-batch that touches the key. The oracle reproduces the full
# EMISSION HISTORY (not just the final state): batch membership is the
# SQL rule event_id % N == k (arrival order k asc), so row j for a user
# must equal the windowed cumulative sums over that user's first j
# batches — the cross-batch increment axis, checked row-for-row.
# ---------------------------------------------------------------------------

RUNNING_TOTALS_ORACLE = f"""
WITH e AS (
    SELECT user_id,
           event_id % {_N_SPLITS} AS b,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
per AS (
    SELECT user_id, b,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS c
    FROM e GROUP BY user_id, b
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS update_seq,
       CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY b
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS events_so_far,
       CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY b
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cents_so_far
FROM per
WINDOW w AS (PARTITION BY user_id ORDER BY b)
ORDER BY user_id, update_seq
"""


def streaming_running_totals_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.aggregates import running_user_totals

    ws = session_dir("running_totals_drain")
    data_dir = _split_input_mod(spark, sf_dir, "events.parquet", "event_id", ws)
    batch = spark.read.parquet(data_dir)
    events = _ts_fix(
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    ).select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    out = _drain_to_parquet(
        running_user_totals(events),
        "running_totals",
        min_batches=_N_SPLITS,
        state_partitions=8,
    )
    return out.orderBy("user_id", "update_seq")


register(
    "streaming_running_totals_drain",
    oracle=RUNNING_TOTALS_ORACLE,
    doc="Per-key lifetime running totals from applyInPandasWithState "
    "ValueState, drained over >=3 modulo-split micro-batches; the oracle "
    "checks the complete EMISSION HISTORY (cumulative totals after each "
    "batch touching the key) as windowed sums over the SQL-expressible "
    "batch-membership rule.",
    tags=("streaming", "stateful", "drain", "agg"),
)(streaming_running_totals_drain)


# ---------------------------------------------------------------------------
# kafka_envelope_project — the bronze Kafka-envelope projection (reference
# streaming_bronze.py:80-89) driven wire-shape-faithfully. No broker runs in
# the sandbox, so a kafka-wire-shaped fixture (binary key/value, topic,
# partition, offset, timestamp, timestampType — exactly the Kafka source's
# output schema) is derived deterministically from `events`, replayed as a
# >=3-micro-batch file stream, and pushed through bronze_projection's real
# select/cast path. The payload is a delimited string rather than JSON so
# the DuckDB twin avoids cross-engine JSON-formatting parity issues — the
# projection under test is envelope metadata handling, not payload parsing.

KAFKA_ENVELOPE_ORACLE = """
SELECT
    concat_ws('|', event_id, event_type, props) AS _raw_value,
    CAST(user_id AS VARCHAR) AS _key,
    'cdc.events' AS _topic,
    CAST(event_id % 8 AS INTEGER) AS _partition,
    event_id AS _offset,
    ts AS _kafka_timestamp,
    'events' AS _source_table
FROM events
"""


def _kafka_wire_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` re-shaped to the exact Kafka source output schema."""
    from ..catalog import table

    return table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.concat_ws("|", "event_id", "event_type", "props")
        .cast("binary")
        .alias("value"),
        F.lit("cdc.events").alias("topic"),
        F.pmod(F.col("event_id"), F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def kafka_envelope_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.bronze import bronze_projection

    ws = session_dir("kafka_envelope")
    data_dir = _stage_stream_files(_kafka_wire_fixture(spark, sf_dir), "offset", ws)
    batch = spark.read.parquet(data_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    )
    bronze = bronze_projection(stream, "events").drop("_ingested_at")
    return _drain_to_parquet(bronze, "kafka_envelope", min_batches=_N_SPLITS)


register(
    "kafka_envelope_project",
    oracle=KAFKA_ENVELOPE_ORACLE,
    doc="Bronze Kafka-envelope projection (S1/P1, reference "
    "streaming_bronze.py:71-89) over a kafka-wire-shaped fixture (binary "
    "key/value + topic/partition/offset/timestamp), drained through the "
    "real file-source streaming path in >=3 micro-batches.",
    tags=("streaming", "kafka", "bronze", "drain"),
)(kafka_envelope_project)


# ---------------------------------------------------------------------------
# medallion_e2e_drain — the WHOLE reference pipeline as one oracled query:
# CDC JSON envelopes (Debezium shape, derived deterministically from
# `events`) -> streaming bronze append via process_cdc_stream (>=3
# micro-batches, S1/S4/S5) -> typed from_json envelope parse with delete
# images (P5/ST7, batch_silver.py:60-82) -> silver last-write-wins MERGE
# run PER MICRO-BATCH through the file-level ACID merge (S7/W1,
# batch_silver.py:107-159 — TransactionLogTable.merge rewrites only the
# files whose pk range intersects the batch's keys, the DeltaTable.merge
# cost profile) -> gold daily aggregate (A3, batch_gold.py). The oracle
# recomputes latest-state-per-key + the daily rollup directly from
# `events`, so every seam of the composition (envelope round-trip, bronze
# metadata, cross-batch LWW ordering incl. same-ms tie-breaks, delete
# filtering, exact cents sums) is value-checked at data scale — the
# composition the medallion pytest only covers on a 5-event fixture.
# ---------------------------------------------------------------------------

MEDALLION_PAYLOAD = None  # built lazily (pyspark types import at module top)

MEDALLION_ORACLE = """
WITH c AS (
    SELECT user_id,
           event_type AS status,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
           CAST(ts AS DATE) AS day,
           epoch_ms(ts) * 1048576 + event_id AS order_key,
           event_id % 10 = 0 AS deleted
    FROM events
),
latest AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY order_key DESC
    ) AS rk FROM c
),
live AS (SELECT * FROM latest WHERE rk = 1 AND NOT deleted)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM live GROUP BY day
"""


def medallion_e2e_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..catalog import table as cat_table
    from ..sources.cdc import parse_cdc_envelope
    from ..sources.txnlog import TransactionLogTable
    from ..streaming.bronze import process_cdc_stream

    payload = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("status", T.StringType(), True),
            T.StructField("cents", T.LongType(), True),
            T.StructField("day", T.DateType(), True),
        ]
    )
    ws = session_dir("medallion_e2e")
    # NTZ -> instant under the UTC-pinned session (same parity contract
    # as _ts_fix on the file-stream path)
    ev = cat_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    img = F.struct(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("status"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.to_date("ts").alias("day"),
    )
    is_del = F.col("event_id") % 10 == 0
    op = F.when(is_del, F.lit("d")).when(
        F.col("event_id") % 5 == 0, F.lit("u")
    ).otherwise(F.lit("c"))
    env = F.struct(
        F.when(is_del, img).alias("before"),
        F.when(~is_del, img).alias("after"),
        op.alias("op"),
        F.unix_millis("ts").alias("source_ts_ms"),
        F.struct(
            F.lit("events").alias("table"), F.col("event_id").alias("lsn")
        ).alias("source"),
    )
    wire = ev.select(F.to_json(env).alias("value"), F.col("ts"))
    data_dir = _stage_stream_files(wire, "ts", ws)
    batch = spark.read.parquet(data_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    )
    bronze_dir = os.path.join(ws, "bronze")
    q = process_cdc_stream(
        stream,
        "events",
        bronze_dir,
        os.path.join(ws, "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    _assert_multibatch(os.path.join(ws, "ckpt"), _N_SPLITS)
    # silver: typed envelope parse (deletes carry the before image) +
    # LWW MERGE keyed on user_id; order = (event-time ms, lsn) packed
    # into one strictly-increasing long so same-millisecond events
    # tie-break by log sequence number
    bronze = spark.read.parquet(bronze_dir)
    parsed = parse_cdc_envelope(
        bronze.select(F.col("_raw_value").alias("value")), payload
    )
    # materialize the parsed updates ONCE: the per-batch range filters
    # below would otherwise re-run the full-corpus JSON envelope parse
    # per micro-batch (measured 4.2x at 100x before this checkpoint)
    updates = parsed.select(
        "user_id",
        "status",
        "cents",
        "day",
        (F.unix_millis("_event_ts") * F.lit(1048576) + F.col("_source_lsn"))
        .alias("order_key"),
        "_deleted",
    ).localCheckpoint()
    # Silver runs the file-level ACID merge ONE MICRO-BATCH AT A TIME,
    # mirroring the reference's per-run silver MERGE of new bronze rows
    # (batch_silver.py:146-159): each merge rewrites only the files whose
    # user_id stats range contains an update key, so per-batch cost is
    # bounded by touched files, never table size (the 100 TB shape;
    # test_txnlog's test_merge_rewrites_only_touched_files pins it).
    # Batches are split on order_key ranges, which is exactly the order
    # the bronze drain delivered them in (_stage_stream_files range-
    # partitions the wire files on ts), so per-key events cross merge
    # calls in time order and sequential LWW == one-shot LWW even through
    # delete tombstones (a dropped key can only be re-inserted by a
    # strictly LATER update).
    silver = TransactionLogTable(
        spark, os.path.join(ws, "silver"), stats_cols=("user_id",)
    )
    lo, hi = updates.agg(F.min("order_key"), F.max("order_key")).first()
    if lo is None:  # empty CDC feed: (None, None) would TypeError below
        return (
            updates.limit(0)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_users"),
                F.sum("cents").cast("long").alias("revenue_cents"),
            )
        )
    step = (hi - lo) // _N_SPLITS + 1
    for i in range(_N_SPLITS):
        batch_updates = updates.filter(
            (F.col("order_key") >= lo + i * step)
            & (F.col("order_key") < lo + (i + 1) * step)
        )
        if not batch_updates.isEmpty():
            silver.merge(batch_updates, pks=["user_id"], order_col="order_key")
    # gold: daily rollup over the silver latest state, exact cents sums
    return (
        silver.read()
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# Partition-pin A/B history (the state_partitions=8 knob other drains
# carry): r12 measured MIXED (median 12.82 -> 11.58 s but mins worse);
# r13 re-measured in a clean window per VERDICT r12 task 8 and got
# MIXED AGAIN (interleaved in-process pairs, sp32 vs sp8: 7.15/6.09,
# 5.92/5.51, 5.34/5.89 — 2/3 for the pin, within jitter). Second
# rejection recorded; the drain stays at session defaults. The
# composition is bronze-append + BATCH silver/gold (AQE applies to the
# batch part already), so the pin only touches minor bronze-side
# shuffles — consistent with a null result.
register(
    "medallion_e2e_drain",
    oracle=MEDALLION_ORACLE,
    doc="The full medallion composition oracled at data scale: Debezium "
    "envelopes -> multi-batch streaming bronze -> typed CDC parse -> "
    "silver last-write-wins MERGE (ms+lsn total order, delete images) "
    "-> gold daily rollup (reference streaming_bronze.py -> "
    "batch_silver.py -> batch_gold.py).",
    tags=("streaming", "cdc", "lakehouse", "e2e", "drain"),
)(medallion_e2e_drain)


# ---------------------------------------------------------------------------
# streaming_watermark_dedup_drain — ST4's dropDuplicatesWithinWatermark
# driven through the real streaming path with DUPLICATED input (round 9;
# the operator was pytest/self-checked only). The staged input is every
# event plus an echo of it 2 minutes later in event time (same event_id)
# — well inside the 2h watermark, so the state store must drop every
# echo, including the ones that land in a LATER micro-batch than their
# original (the range-split boundaries guarantee some cross-batch
# pairs). Which physical row of a pair is seen first inside one batch is
# partition-order-dependent, so the drain projects only the columns the
# pair agree on (everything but ts) — the emitted set is then exactly
# one row per original event, and the oracle is the plain projection of
# `events`.
# ---------------------------------------------------------------------------

WATERMARK_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type,
       CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
FROM events
"""


def streaming_watermark_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import ensure_read_confs
    from ..streaming.aggregates import streaming_dedup as _dedup

    ensure_read_confs(spark)
    ws = session_dir("wm_dedup")
    src = _ts_fix(spark.read.parquet(f"{sf_dir}/events.parquet")).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    echo = src.withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 MINUTES"))
    staged = _stage_stream_files(src.unionByName(echo), "ts", ws)
    batch = spark.read.parquet(staged)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    deduped = _dedup(stream, pks=["event_id"], ts_col="ts", watermark="2 hours")
    out = deduped.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    return _drain_to_parquet(
        out, "wm_dedup", min_batches=_N_SPLITS, state_partitions=8
    )


register(
    "streaming_watermark_dedup_drain",
    oracle=WATERMARK_DEDUP_ORACLE,
    doc="dropDuplicatesWithinWatermark end-to-end: every event plus a "
    "+2min echo streamed over 3 micro-batches; the state store drops "
    "every echo (including cross-batch ones), emitting exactly one row "
    "per original event — ST4 value-checked, not just pytest-checked.",
    tags=("streaming", "dedup", "drain", "stateful"),
)(streaming_watermark_dedup_drain)


# ---------------------------------------------------------------------------
# streaming_checkpoint_resume_drain — ST2's checkpoint/exactly-once
# contract driven as TWO separate query runs over ONE checkpoint
# (round 9; previously pytest-only): run 1 sees two input files and
# drains them; a third file then arrives and run 2 starts from the SAME
# checkpoint and sink. If resume works, run 2 processes ONLY the new
# file (asserted: run 1 commits >= 2 batches and run 2 strictly advances
# the checkpoint — no-data batches make exact counts unreliable) and the
# sink holds every event exactly once — a replay bug (reprocessing
# files 1-2) would duplicate rows and break the row-count/hash compare;
# a lost-offset bug would drop file 3's rows. The oracle is the plain
# projection of `events`.
# ---------------------------------------------------------------------------

CKPT_RESUME_ORACLE = """
SELECT event_id, user_id, event_type,
       CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
FROM events
"""


def streaming_checkpoint_resume_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from ..catalog import ensure_read_confs

    ensure_read_confs(spark)
    ws = session_dir("ckpt_resume")
    staged = _split_input(spark, sf_dir, "events.parquet", "ts", ws)
    files = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    live = os.path.join(ws, "live")
    os.makedirs(live)
    for f in files[:-1]:  # the world before the third file arrives
        _shutil.copy2(os.path.join(staged, f), os.path.join(live, f))
    batch = spark.read.parquet(staged)
    out_dir, ckpt = os.path.join(ws, "out"), os.path.join(ws, "ckpt")

    def run_drain() -> None:
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(live)
        )
        out = _ts_fix(stream).select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_drain()  # files 1-2
    n_first = _n_batches(ckpt)
    src = os.path.join(staged, files[-1])
    _shutil.copy2(src, os.path.join(live, files[-1]))
    os.utime(os.path.join(live, files[-1]), None)  # fresh mtime: new arrival
    run_drain()  # resumes from the checkpoint; must process ONLY file 3
    # offsets include no-data micro-batches, so assert monotone progress
    # rather than exact counts; the exactly-once proof is the VALUE
    # compare itself — a replayed batch would re-append its rows into
    # the parquet sink and break the row-count/hash match.
    if not (n_first >= _N_SPLITS - 1 and _n_batches(ckpt) > n_first):
        raise RuntimeError(
            f"checkpoint resume broke: {n_first} then {_n_batches(ckpt)} "
            "committed batches (second run never committed)"
        )
    return spark.read.parquet(out_dir)


register(
    "streaming_checkpoint_resume_drain",
    oracle=CKPT_RESUME_ORACLE,
    doc="Checkpoint resume + exactly-once sink as two runs over one "
    "checkpoint: run 1 drains two files, run 2 starts from the same "
    "checkpoint after a third arrives and processes ONLY it (asserted: "
    "run-1 commits >= 2 batches and run 2 strictly advances the "
    "checkpoint — no-data micro-batches make exact counts unreliable); "
    "the sink must hold every event exactly once — replay duplicates or "
    "lost offsets break the value compare.",
    tags=("streaming", "drain", "txnlog"),
)(streaming_checkpoint_resume_drain)


# ---------------------------------------------------------------------------
# streaming_fanout_drain — S2's multi-topic fan-out driven end-to-end
# (round 9; previously covered only by unit tests): ONE staged event
# source feeds TWO independent bronze queries (engagement topics vs
# transactional topics), each with its own checkpoint and its own
# foreachBatch append sink partitioned by _source_table — the
# reference's one-query-per-topic layout (streaming_bronze.py:130-144).
# The drain reads both bronze trees back, re-parses the JSON envelope
# (_raw_value), and aggregates per (topic, event_type) — routing,
# envelope fidelity and per-topic isolation value-checked. The
# nondeterministic bronze metadata (_ingested_at, null Kafka cols)
# never reaches the output.
# ---------------------------------------------------------------------------

_FANOUT_TOPICS = {
    "engagement": ("view", "click"),
    "transactional": ("purchase", "signup", "error"),
}

FANOUT_ORACLE = """
SELECT CASE WHEN event_type IN ('view', 'click') THEN 'engagement'
            ELSE 'transactional' END AS topic,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
GROUP BY 1, 2
"""


def streaming_fanout_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.bronze import fan_out

    ws = session_dir("fanout")
    # rename `value`: bronze_projection treats a column of that name as
    # the Kafka wire value (cast-to-string passthrough); renaming routes
    # these file-source rows through the to_json envelope path instead
    base = _events_stream_split(spark, sf_dir, ws).withColumnRenamed(
        "value", "amount"
    )
    streams = [
        (base.filter(F.col("event_type").isin(*types)), topic)
        for topic, types in _FANOUT_TOPICS.items()
    ]
    bronze_root = os.path.join(ws, "bronze")
    queries = fan_out(
        streams, bronze_root, os.path.join(ws, "ckpt"), available_now=True
    )
    for q in queries:  # one independent query per topic
        q.awaitTermination()
    for topic in _FANOUT_TOPICS:
        _assert_multibatch(os.path.join(ws, "ckpt", topic), _N_SPLITS)
    # one read per topic tree (each is its own partitioned table;
    # a single multi-path read trips partition discovery)
    from functools import reduce

    bronze = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(os.path.join(bronze_root, t)) for t in _FANOUT_TOPICS],
    )
    # parse just the needed fields: the envelope serializes ts as an ISO
    # string (from the converted timestamp), so the staged parquet schema
    # (long ts) would null the whole struct; from_json ignores extras
    parsed = bronze.select(
        F.col("_source_table").alias("topic"),
        F.from_json("_raw_value", "event_type string, amount double").alias("e"),
    )
    return parsed.groupBy("topic", F.col("e.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("e.amount") * 100, 0).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )


register(
    "streaming_fanout_drain",
    oracle=FANOUT_ORACLE,
    doc="S2 multi-topic fan-out end-to-end: one staged source split into "
    "two independent bronze queries (own checkpoints, foreachBatch "
    "appends partitioned by _source_table), drained, read back and "
    "envelope-re-parsed — routing and fidelity value-checked per "
    "(topic, event_type).",
    tags=("streaming", "bronze", "drain", "kafka"),
)(streaming_fanout_drain)


# ---------------------------------------------------------------------------
# overwrite_publish_scan — S6's atomic overwrite publish driven as a
# registered query (round 9; previously pytest-only): the gold
# full-refresh pattern — publish a PARTIAL aggregate (the stale serving
# copy), then publish the full refresh OVER it as one transaction-log
# overwrite commit, and read the table back. A first-publish file left
# live would duplicate rows and break the value compare, so the compare
# itself checks that the commit removes the old snapshot; the atomicity
# tests stay in pytest (test_txnlog).
# ---------------------------------------------------------------------------

OVERWRITE_PUBLISH_ORACLE = """
SELECT o_orderstatus AS status,
       CAST(o_orderdate AS DATE) AS order_day,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
GROUP BY 1, 2
"""


def overwrite_publish_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table as _table
    from ..sources.txnlog import TransactionLogTable

    ws = session_dir("ow_publish")
    serving = TransactionLogTable(
        spark, os.path.join(ws, "daily_gold"), partition_by=("status",)
    )

    def gold(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").cast("date").alias("order_day"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )

    orders = _table(spark, sf_dir, "orders")
    # stale partial publish (yesterday's run)
    serving.overwrite(gold(orders.filter(F.col("o_orderkey") % 2 == 0)))
    # full refresh replaces it wholesale
    serving.overwrite(gold(orders), sort_by=("order_day",))
    return serving.read()


register(
    "overwrite_publish_scan",
    oracle=OVERWRITE_PUBLISH_ORACLE,
    doc="S6 atomic overwrite publish end-to-end: a stale partial gold "
    "copy replaced wholesale by the full refresh (one transaction-log "
    "overwrite commit, partitioned by status); any first-publish file "
    "left live would duplicate rows and break the compare.",
    tags=("lakehouse", "gold", "agg"),
)(overwrite_publish_scan)
