"""Property-based check: merge_upsert == a sequential per-batch fold model.

For ANY sequence of CDC events (insert/update/delete, colliding
timestamps, any batch split point), merging batch-by-batch must equal the
model: resolve each batch to its per-key winner, then a winner replaces
table state iff its order key is >= the current row's (updates beat
current on ties); a winning delete removes the row physically (the
reference's silver semantics, batch_silver.py:107-115 — note this means a
stale update arriving AFTER the delete's batch resurrects the key; Delta
CDF tombstones are the production fix).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import merge_upsert

KEYS = ["k1", "k2", "k3"]

event = st.tuples(
    st.sampled_from(KEYS),                   # pk
    st.integers(min_value=0, max_value=4),   # ts (small range forces ties)
    st.sampled_from(["c", "u", "d"]),        # op
    st.integers(min_value=0, max_value=99),  # payload
)


def _fold_model(batches):
    state: dict[str, tuple[int, bool, int]] = {}  # pk -> (ts, deleted, payload)
    for batch in batches:
        winners: dict[str, tuple[int, bool, int]] = {}
        for pk, ts, deleted, payload in batch:
            if pk not in winners or ts >= winners[pk][0]:
                winners[pk] = (ts, deleted, payload)
        for pk, row in winners.items():
            cur = state.get(pk)
            if cur is None or row[0] >= cur[0]:  # ties: update beats current
                if row[1]:
                    state.pop(pk, None)
                else:
                    state[pk] = row
    return {pk: (ts, payload) for pk, (ts, deleted, payload) in state.items()}


@given(st.lists(event, min_size=0, max_size=12), st.integers(min_value=0, max_value=12))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_batchwise_merge_equals_fold_model(spark, events, split):
    split = min(split, len(events))
    # encode a unique order key per event WITHIN a batch (ts*100+seq) so
    # batch-local winners are deterministic; cross-batch ties on equal raw
    # ts stay possible via different seq — matching real CDC streams.
    raw_batches = [events[:split], events[split:]]
    batches = [
        [(pk, ts * 100 + seq, op == "d", payload) for seq, (pk, ts, op, payload) in enumerate(b)]
        for b in raw_batches
        if b
    ]

    current = None
    for batch in batches:
        updates = spark.createDataFrame(batch, ["pk", "ts", "_deleted", "payload"])
        current = merge_upsert(current, updates, pks=["pk"], order_col="ts")

    got = {} if current is None else {r.pk: (r.ts, r.payload) for r in current.collect()}
    assert got == _fold_model(batches)


# ---------------------------------------------------------------------------
# TransactionLogTable.merge: the same fold model must hold through the
# ACID path — file staging, stats-based candidate selection, log commit.
# Any divergence (a candidate file the range-join missed, a stale file
# surviving a remove) shows up as a wrong final state.
# ---------------------------------------------------------------------------


@given(st.lists(event, min_size=1, max_size=10), st.integers(min_value=0, max_value=10))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_txnlog_merge_equals_fold_model(spark, tmp_path_factory, events, split):
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
        TransactionLogTable,
    )

    split = min(split, len(events))
    raw_batches = [events[:split], events[split:]]
    batches = [
        [(pk, ts * 100 + seq, op == "d", payload) for seq, (pk, ts, op, payload) in enumerate(b)]
        for b in raw_batches
        if b
    ]
    tbl = TransactionLogTable(
        spark,
        str(tmp_path_factory.mktemp("txnprop") / "t"),
        stats_cols=("pk",),
    )
    for batch in batches:
        updates = spark.createDataFrame(batch, ["pk", "ts", "_deleted", "payload"])
        tbl.merge(updates, pks=["pk"], order_col="ts")
    got = {r.pk: (r.ts, r.payload) for r in tbl.read().collect()}
    assert got == _fold_model(batches)
    # and the snapshot history replays: version 1 equals the first batch's
    # own fold
    if len(batches) == 2:
        v1 = {r.pk: (r.ts, r.payload) for r in tbl.read(version=1).collect()}
        assert v1 == _fold_model(batches[:1])


def test_merge_upsert_schema_evolution_both_directions(spark):
    """Round 9: the merged schema is the UNION of stored + update
    columns — a new update-side column back-fills NULL on stored rows;
    a column the updates dropped keeps stored values and NULL-fills
    update rows."""
    from pyspark.sql import functions as F

    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import merge_upsert

    current = spark.createDataFrame(
        [(1, "a", 10, "keepme"), (2, "b", 10, "old2")],
        "pk int, val string, ver int, legacy string",
    )
    updates = spark.createDataFrame(
        [(2, "B", 20, "web"), (3, "c", 20, "app")],
        "pk int, val string, ver int, channel string",
    )
    out = {
        r["pk"]: r.asDict()
        for r in merge_upsert(current, updates, ["pk"], "ver").collect()
    }
    assert set(out) == {1, 2, 3}
    assert set(out[1]) == {"pk", "val", "ver", "legacy", "channel"}
    assert out[1]["channel"] is None and out[1]["legacy"] == "keepme"
    assert out[2]["channel"] == "web" and out[2]["legacy"] is None  # LWW
    assert out[3]["channel"] == "app" and out[3]["legacy"] is None


def test_txnlog_merge_schema_evolution_rewrites_only_touched(spark, tmp_path):
    """The evolving merge keeps the file-level cost profile: untouched
    files survive byte-identical (old physical schema), and the
    mergeSchema snapshot reconciles them with NULL for the new column."""
    import os

    from pyspark.sql import functions as F

    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
        TransactionLogTable,
    )

    t = TransactionLogTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("ver")
    )
    t.append(base.repartition(4, "k"), sort_by=["k"], n_files=4)
    files_v1 = {f: os.path.getmtime(os.path.join(t.path, f)) for f in t.snapshot()}
    upd = spark.createDataFrame(
        [(7, 2, "web")], "k long, ver long, channel string"
    )
    t.merge(upd, pks=["k"], order_col="ver")
    snap = t.read()
    assert snap.count() == 100
    assert snap.filter(F.col("channel").isNotNull()).count() == 1
    survivors = [f for f in t.snapshot() if f in files_v1]
    assert len(survivors) == 3  # only the file holding k=7 was rewritten
