"""TransactionLogTable: ACID commits, snapshot isolation, time travel,
stats-based skipping, file-level MERGE/DELETE, concurrency, vacuum.

Reference parity anchors: streaming_bronze.py:101 (Delta append),
batch_silver.py:146-159 (DeltaTable.merge) — here reproduced with a real
(if minimal) transaction log instead of dir-swap approximations.
"""

import glob
import hashlib
import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from end_to_end_data_lakehouse_pipeline_spark.sources.dml import execute_dml
from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
    ConcurrentCommitError,
    TransactionLogTable,
)


def _mk(spark, rows, cols=("k", "v", "updated_at")):
    return spark.createDataFrame(rows, list(cols))


def _digest(path):
    """name -> sha256 of every live parquet file under the table root."""
    out = {}
    for f in glob.glob(os.path.join(path, "*.parquet")):
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture()
def tbl(spark, tmp_path):
    return TransactionLogTable(
        spark, str(tmp_path / "t"), stats_cols=("k",), checkpoint_interval=5
    )


def test_append_read_roundtrip(spark, tbl):
    v1 = tbl.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    v2 = tbl.append(_mk(spark, [(3, "c", 2)]))
    assert (v1, v2) == (1, 2)
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    ops = [h["op"] for h in tbl.history()]
    assert ops == ["append", "append"]


def test_overwrite_is_atomic_snapshot_and_time_travel(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    tbl.overwrite(_mk(spark, [(9, "z", 2)]))
    assert [r["k"] for r in tbl.read().collect()] == [9]
    # time travel: version 1 still fully readable
    assert [r["k"] for r in tbl.read(version=1).collect()] == [1]
    # old data file still on disk but absent from the live snapshot
    assert len(tbl.snapshot()) < len(glob.glob(os.path.join(tbl.path, "*.parquet")))


def test_uncommitted_files_are_invisible(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    before = {r["k"] for r in tbl.read().collect()}
    # simulate a writer that crashed after staging data but before commit
    tbl._stage_files(_mk(spark, [(99, "ghost", 9)]))
    assert {r["k"] for r in tbl.read().collect()} == before
    # default retention refuses the fresh orphan: it may belong to an
    # in-flight writer whose commit has not landed yet (ADVICE r3 medium)
    assert tbl.vacuum() == 0
    # with retention waived (exclusive access) the orphan is removed
    assert tbl.vacuum(retention_seconds=0) >= 1
    assert {r["k"] for r in tbl.read().collect()} == before


def test_commit_file_never_observable_partial(spark, tbl, monkeypatch):
    """ADVICE r3 high: _commit must publish the commit file with its full
    contents atomically. Interpose on os.link to prove the payload is
    complete and fsynced *before* the version becomes visible, and that
    no <version>.json exists at write time."""
    import end_to_end_data_lakehouse_pipeline_spark.sources.txnlog as txn_mod

    seen = {}
    real_link = os.link

    def spy_link(src, dst):
        # at publish time: dst must not exist, src must hold complete JSON
        assert not os.path.exists(dst)
        with open(src) as f:
            lines = [json.loads(line) for line in f.read().splitlines()]
        seen["n_actions"] = len(lines)
        real_link(src, dst)

    monkeypatch.setattr(txn_mod.os, "link", spy_link)
    tbl.append(_mk(spark, [(1, "a", 1)]))
    assert seen["n_actions"] >= 2  # meta + at least one add
    # losing a version race must raise ConcurrentCommitError and leave
    # no tmp litter in the log dir
    monkeypatch.setattr(txn_mod.os, "link", real_link)
    with pytest.raises(ConcurrentCommitError):
        tbl._commit(tbl.latest_version(), [{"meta": {"op": "dupe"}}])
    log_dir = os.path.join(tbl.path, "_txn_log")
    assert not [n for n in os.listdir(log_dir) if ".tmp" in n]


def test_merge_rewrites_only_touched_files(spark, tbl):
    # two appends with disjoint sorted key ranges -> separate files
    tbl.append(_mk(spark, [(i, f"lo{i}", 1) for i in range(0, 50)]), sort_by=["k"])
    tbl.append(
        _mk(spark, [(i, f"hi{i}", 1) for i in range(1000, 1050)]), sort_by=["k"]
    )
    snap = tbl.snapshot()
    before = _digest(tbl.path)
    # update keys only in the low range
    v = tbl.merge(
        _mk(spark, [(5, "NEW", 2), (7, "NEW", 2)]), pks=["k"], order_col="updated_at"
    )
    after = _digest(tbl.path)
    live = set(tbl.snapshot())
    # the high-range files survive byte-identical under the same names
    hi_files = [
        n
        for n, e in snap.items()
        if e["stats"]["k"]["min"] >= 1000
    ]
    assert hi_files
    for n in hi_files:
        assert n in live and before[n] == after[n]
    # values merged correctly
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got[5] == "NEW" and got[7] == "NEW" and got[4] == "lo4"
    assert got[1000] == "hi1000" and len(got) == 100
    assert tbl.history()[-1]["op"] == "merge" and v == 3


def test_merge_applies_deletes_and_late_events(spark, tbl):
    tbl.merge(
        _mk(
            spark,
            [(1, "a", 5, False), (2, "b", 5, False)],
            cols=("k", "v", "updated_at", "_deleted"),
        ),
        pks=["k"],
        order_col="updated_at",
    )
    tbl.merge(
        _mk(
            spark,
            # late event for k=1 (older ts, must lose), delete for k=2
            [(1, "LATE", 3, False), (2, "b", 6, True), (3, "c", 6, False)],
            cols=("k", "v", "updated_at", "_deleted"),
        ),
        pks=["k"],
        order_col="updated_at",
    )
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {1: "a", 3: "c"}


def test_merge_pk_width_mismatch_and_full_delete_reinsert(spark, tbl):
    # an INT-keyed update batch matches the LONG keys it updates: no key
    # is duplicated and the stored type stays LONG
    tbl.overwrite(spark.range(0, 50).selectExpr("id AS k", "'old' AS v", "0 AS updated_at"))
    tbl.merge(
        spark.range(0, 50, 5).selectExpr("CAST(id AS INT) AS k", "'new' AS v", "1 AS updated_at"),
        pks=["k"],
        order_col="updated_at",
    )
    out = tbl.read()
    assert dict(out.dtypes)["k"] == "bigint"
    assert out.count() == 50 and out.filter(F.col("v") == "new").count() == 10
    assert out.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    # a merge that deletes every key empties the table but keeps its schema
    tbl.merge(
        spark.range(0, 50).selectExpr("id AS k", "'x' AS v", "2 AS updated_at", "true AS _deleted"),
        pks=["k"],
        order_col="updated_at",
    )
    emptied = tbl.read()
    assert emptied.count() == 0
    assert set(emptied.columns) == {"k", "v", "updated_at"}
    # a re-insert after the delete lands, and replaying it converges
    ins = _mk(spark, [(1, "z", 3)])
    tbl.merge(ins, pks=["k"], order_col="updated_at")
    tbl.merge(ins, pks=["k"], order_col="updated_at")
    assert [(r["k"], r["v"]) for r in tbl.read().collect()] == [(1, "z")]


def test_read_pruned_skips_files_and_matches_full_scan(spark, tbl):
    tbl.append(_mk(spark, [(i, "x", 1) for i in range(0, 100)]), sort_by=["k"])
    tbl.append(_mk(spark, [(i, "x", 1) for i in range(1000, 1100)]), sort_by=["k"])
    all_files = tbl.snapshot()
    pruned = tbl.pruned_files("k", lo=1040, hi=1060)
    assert 0 < len(pruned) < len(all_files)
    got = sorted(r["k"] for r in tbl.read_pruned("k", lo=1040, hi=1060).collect())
    want = sorted(
        r["k"]
        for r in tbl.read().filter((F.col("k") >= 1040) & (F.col("k") <= 1060)).collect()
    )
    assert got == want == list(range(1040, 1061))


def test_delete_where_file_level(spark, tbl):
    tbl.append(_mk(spark, [(i, "lo", 1) for i in range(0, 50)]), sort_by=["k"])
    tbl.append(_mk(spark, [(i, "hi", 1) for i in range(1000, 1050)]), sort_by=["k"])
    before = _digest(tbl.path)
    snap = tbl.snapshot()
    tbl.delete_where("k >= 1000 AND k < 1010")
    after = _digest(tbl.path)
    lo_files = [n for n, e in snap.items() if e["stats"]["k"]["max"] < 1000]
    assert lo_files
    for n in lo_files:  # untouched files keep exact bytes
        assert before[n] == after[n] and n in tbl.snapshot()
    ks = {r["k"] for r in tbl.read().collect()}
    assert len(ks) == 90 and not any(1000 <= k < 1010 for k in ks)


def test_optimistic_concurrency_append_race(spark, tmp_path):
    """Two writers race: exclusive create serializes them; both appends
    land (no lost update)."""
    path = str(tmp_path / "race")
    t1 = TransactionLogTable(spark, path, stats_cols=("k",))
    t2 = TransactionLogTable(spark, path, stats_cols=("k",))
    t1.append(_mk(spark, [(0, "seed", 1)]))
    # stage both sets of files first, then race the commits at the same
    # target version: exactly one _commit(2) succeeds, the loser retries
    adds1 = t1._stage_files(_mk(spark, [(1, "w1", 1)]))
    adds2 = t2._stage_files(_mk(spark, [(2, "w2", 1)]))
    t1._commit(2, [t1._meta("append"), *adds1])
    with pytest.raises(ConcurrentCommitError):
        t2._commit(2, [t2._meta("append"), *adds2])
    t2._commit(3, [t2._meta("append"), *adds2])  # the retry
    assert {r["k"] for r in t1.read().collect()} == {0, 1, 2}


def test_concurrent_appends_threads(spark, tmp_path):
    path = str(tmp_path / "threads")
    errs = []

    def writer(i):
        try:
            t = TransactionLogTable(spark, path)
            t.append(_mk(spark, [(i, f"w{i}", 1)]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errs
    t = TransactionLogTable(spark, path)
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2, 3}
    assert t.latest_version() == 4


def test_checkpoint_bounds_replay_and_matches_full_replay(spark, tbl):
    for i in range(12):  # interval=5 -> checkpoints at v5 and v10
        tbl.append(_mk(spark, [(i, "x", 1)]))
    cp = glob.glob(os.path.join(tbl.path, "_txn_log", "*.checkpoint.json"))
    assert len(cp) == 2
    # snapshot from checkpoint equals brute-force replay of all commits
    with open(sorted(cp)[-1]) as f:
        assert json.load(f)["version"] == 10
    live = tbl.snapshot()
    assert len(live) >= 12 and len({r["k"] for r in tbl.read().collect()}) == 12


def test_restore_reuses_files_without_rewrite(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    tbl.overwrite(_mk(spark, [(2, "b", 2)]))
    files_before = set(glob.glob(os.path.join(tbl.path, "*.parquet")))
    v = tbl.restore(1)
    assert {r["k"] for r in tbl.read().collect()} == {1}
    # restore wrote no data files, just log actions
    assert set(glob.glob(os.path.join(tbl.path, "*.parquet"))) == files_before
    assert v == 3 and tbl.history()[-1]["op"] == "restore"


def test_vacuum_trims_history_but_keeps_retained(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    tbl.overwrite(_mk(spark, [(2, "b", 2)]))
    tbl.overwrite(_mk(spark, [(3, "c", 3)]))
    removed = tbl.vacuum(retain_versions=1, retention_seconds=0)
    assert removed >= 1
    # latest and latest-1 still readable; version 1's file is gone
    assert {r["k"] for r in tbl.read().collect()} == {3}
    assert {r["k"] for r in tbl.read(version=2).collect()} == {2}
    with pytest.raises(Exception):
        tbl.read(version=1).collect()


def test_empty_table_after_full_delete_keeps_schema(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    tbl.delete_where("k = 1")
    df = tbl.read()
    assert df.count() == 0
    assert set(df.columns) == {"k", "v", "updated_at"}


def test_append_txn_idempotent_under_redelivery(spark, tbl):
    """The Delta ``txn`` action: same (app, batch) commits at most once."""
    df = _mk(spark, [(1, "a", 1)])
    v1 = tbl.append(df, txn=("streamA", 0))
    assert v1 == 1
    # redelivery of the SAME batch id -> no-op, no duplicate rows
    assert tbl.append(df, txn=("streamA", 0)) is None
    assert tbl.read().count() == 1
    # next batch lands; an independent app's batch 0 also lands
    assert tbl.append(_mk(spark, [(2, "b", 1)]), txn=("streamA", 1)) == 2
    assert tbl.append(_mk(spark, [(3, "c", 1)]), txn=("streamB", 0)) == 3
    assert tbl.read().count() == 3
    assert tbl.txn_versions() == {"streamA": 1, "streamB": 0}


def test_txn_versions_survive_checkpoint(spark, tbl):
    # interval=5: versions 1..6 cross a checkpoint at v5
    for i in range(6):
        tbl.append(_mk(spark, [(i, "x", 1)]), txn=("app", i))
    assert os.path.isfile(
        os.path.join(tbl.path, "_txn_log", f"{5:020d}.checkpoint.json")
    )
    # watermark reconstructed THROUGH the checkpoint, so a redelivery of
    # an old batch is still recognized
    assert tbl.txn_versions() == {"app": 5}
    assert tbl.append(_mk(spark, [(99, "dup", 1)]), txn=("app", 2)) is None
    assert tbl.read().count() == 6


def test_exactly_once_streaming_sink(spark, tbl, tmp_path):
    """Drive the real foreachBatch sink twice over the same source files
    with the same checkpoint: the second run redelivers nothing new and
    the table has no duplicates."""
    from end_to_end_data_lakehouse_pipeline_spark.streaming.txn_sink import (
        txnlog_append_sink,
    )

    src = str(tmp_path / "src")
    _mk(spark, [(i, f"r{i}", 1) for i in range(10)]).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = txnlog_append_sink(
            stream, tbl, "bronzeA", ckpt, sort_by=("k",), available_now=True
        )
        q.awaitTermination()

    run()
    assert tbl.read().count() == 10
    run()  # same checkpoint: no new files -> no batches -> unchanged
    assert tbl.read().count() == 10
    # crash-redelivery simulation: new checkpoint replays batch 0 with the
    # same app id -> the txn action dedupes it
    stream = spark.readStream.schema(schema).parquet(src)
    q = txnlog_append_sink(
        stream, tbl, "bronzeA", str(tmp_path / "ckpt2"), available_now=True
    )
    q.awaitTermination()
    assert tbl.read().count() == 10


def test_compact_binpacks_small_files_atomically(spark, tbl):
    for i in range(6):  # 6 tiny single-file appends
        tbl.append(_mk(spark, [(i, f"r{i}", 1)]), sort_by=["k"])
    before_rows = sorted(
        (r["k"], r["v"]) for r in tbl.read().collect()
    )
    n_before = len(tbl.snapshot())
    v = tbl.compact()
    assert v is not None
    assert len(tbl.snapshot()) < n_before
    assert sorted((r["k"], r["v"]) for r in tbl.read().collect()) == before_rows
    # time travel across the compaction still works
    assert tbl.read(version=v - 1).count() == 6
    assert tbl.history()[-1]["op"] == "optimize"
    # steady state: compacting again is a no-op (one packed file left)
    assert tbl.compact() is None


def test_schema_evolution_merge_schema_read(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    tbl.append(
        spark.createDataFrame([(2, "b", 1, "extra")], ["k", "v", "updated_at", "new_col"])
    )
    df = tbl.read()
    assert set(df.columns) == {"k", "v", "updated_at", "new_col"}
    got = {r["k"]: r["new_col"] for r in df.collect()}
    assert got == {1: None, 2: "extra"}


def test_zorder_append_prunes_on_both_keys(spark, tmp_path):
    t = TransactionLogTable(
        spark, str(tmp_path / "z"), stats_cols=("a", "b"), checkpoint_interval=50
    )
    rows = [(i % 64, i // 64, i) for i in range(4096)]
    df = spark.createDataFrame(rows, ["a", "b", "payload"])
    t.append(df, zorder_by=("a", "b"), n_files=16)
    n = len(t.snapshot())
    assert n >= 8
    # point-range on EITHER key prunes (a linear sort would only prune a)
    pa = t.pruned_files("a", lo=3, hi=4)
    pb = t.pruned_files("b", lo=3, hi=4)
    assert len(pa) < n and len(pb) < n
    got_a = sorted(r["payload"] for r in t.read_pruned("a", 3, 4).collect())
    want_a = sorted(r["payload"] for r in df.filter("a between 3 and 4").collect())
    assert got_a == want_a
    got_b = sorted(r["payload"] for r in t.read_pruned("b", 3, 4).collect())
    want_b = sorted(r["payload"] for r in df.filter("b between 3 and 4").collect())
    assert got_b == want_b


def test_read_changes_cdf_classification(spark, tbl):
    tbl.append(
        _mk(spark, [(i, f"v{i}", 1) for i in range(100)], cols=("k", "v", "updated_at")),
        sort_by=["k"],
    )
    v1 = tbl.latest_version()
    upd = spark.createDataFrame(
        [(5, "NEW", 2, False), (200, "ins", 2, False), (7, "v7", 2, True)],
        ["k", "v", "updated_at", "_deleted"],
    )
    tbl.merge(upd, pks=["k"], order_col="updated_at")
    changes = tbl.read_changes(v1, pks=["k"]).collect()
    by_type = {}
    for r in changes:
        by_type.setdefault(r["_change_type"], []).append(r["k"])
    assert sorted(by_type["update_preimage"]) == [5]
    assert sorted(by_type["update_postimage"]) == [5]
    assert by_type["delete"] == [7]
    assert by_type["insert"] == [200]
    # rewritten-but-unchanged co-located rows are cancelled, not reported
    all_keys = [r["k"] for r in changes]
    assert set(all_keys) == {5, 7, 200}


def test_read_changes_without_pks_is_file_diff_net(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    v1 = tbl.latest_version()
    tbl.overwrite(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    changes = tbl.read_changes(v1).collect()
    # row (1,a,1) exists in both snapshots but in DIFFERENT files; the
    # exceptAll cancellation still suppresses it
    assert [(r["k"], r["_change_type"]) for r in changes] == [(2, "insert")]


def test_delete_where_reexecutes_after_lost_race(spark, tbl):
    """A delete that loses its commit race must RE-EXECUTE against the
    winner's snapshot: the winner here is a merge that rewrites a
    matching row — a stale blind retry would resurrect the old image."""
    tbl.append(
        _mk(spark, [(i, "old", 1) for i in range(10)]), sort_by=["k"]
    )
    real_commit = tbl._commit
    fired = {"n": 0}

    def racing_commit(version, actions):
        if fired["n"] == 0 and any("remove" in a for a in actions):
            fired["n"] = 1
            # interleave a merge that rewrites k=3 (which the delete
            # targets) to "new" BEFORE the delete's commit lands
            t2 = TransactionLogTable(spark, tbl.path, stats_cols=("k",))
            t2.merge(
                _mk(spark, [(3, "new", 2)]), pks=["k"], order_col="updated_at"
            )
            raise ConcurrentCommitError("simulated lost race")
        return real_commit(version, actions)

    tbl._commit = racing_commit
    try:
        tbl.delete_where("v = 'old' AND k >= 5")
    finally:
        tbl._commit = real_commit
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    # k>=5 old rows deleted; k=3 carries the merge's value, not a stale
    # resurrection; no duplicates anywhere
    assert got == {0: "old", 1: "old", 2: "old", 3: "new", 4: "old"}
    assert tbl.read().count() == 5


def test_detail_and_multi_column_pruning(spark, tmp_path):
    t = TransactionLogTable(spark, str(tmp_path / "d"), stats_cols=("a", "b"))
    df = spark.createDataFrame(
        [(i % 64, i // 64, i) for i in range(4096)], ["a", "b", "payload"]
    )
    t.append(df, zorder_by=("a", "b"), n_files=16)
    det = t.detail().collect()
    assert len(det) == len(t.snapshot())
    assert all(r.bytes > 0 and "a" in r.stats and "b" in r.stats for r in det)
    # AND-composed pruning is at least as tight as either single-column cut
    pa = set(t.pruned_files("a", 3, 4))
    pb = set(t.pruned_files("b", 3, 4))
    both = set(t.pruned_files_multi({"a": (3, 4), "b": (3, 4)}))
    assert both <= pa and both <= pb and both
    got = sorted(
        r["payload"]
        for r in spark.read.parquet(*both)
        .filter("a between 3 and 4 and b between 3 and 4")
        .collect()
    )
    want = sorted(
        r["payload"]
        for r in df.filter("a between 3 and 4 and b between 3 and 4").collect()
    )
    assert got == want


def test_compact_conflicts_instead_of_absorbing_concurrent_merge(spark, tbl):
    """compact() pins its commit to base_version+1: a merge landing
    between its snapshot read and its commit forces re-execution, so the
    packed output contains the merged row, never the stale pre-merge
    image (which a later-version blind commit would have resurrected)."""
    for i in range(4):
        tbl.append(_mk(spark, [(i, "old", 1)]), sort_by=["k"])
    real_commit = tbl._commit
    fired = {"n": 0}

    def racing_commit(version, actions):
        if fired["n"] == 0 and any(
            a.get("meta", {}).get("op") == "optimize" for a in actions
        ):
            fired["n"] = 1
            t2 = TransactionLogTable(spark, tbl.path, stats_cols=("k",))
            t2.merge(_mk(spark, [(2, "merged", 9)]), pks=["k"], order_col="updated_at")
        return real_commit(version, actions)

    tbl._commit = racing_commit
    try:
        v = tbl.compact()
    finally:
        tbl._commit = real_commit
    assert v is not None and fired["n"] == 1
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {0: "old", 1: "old", 2: "merged", 3: "old"}
    assert tbl.read().count() == 4  # no duplicated key 2


def test_append_txn_same_batch_race_single_landing(spark, tbl):
    """The dedup check is pinned to the commit's base version: a same-
    batch commit interleaving between check and create forces a conflict
    and a re-check — the second delivery must NOT land."""
    tbl.append(_mk(spark, [(0, "seed", 1)]))
    real_commit = tbl._commit
    fired = {"n": 0}

    def racing_commit(version, actions):
        if fired["n"] == 0 and any("txn" in a for a in actions):
            fired["n"] = 1
            # the twin delivery of the SAME (app, batch) lands first
            t2 = TransactionLogTable(spark, tbl.path, stats_cols=("k",))
            assert t2.append(_mk(spark, [(1, "twin", 1)]), txn=("app", 7)) == 2
        return real_commit(version, actions)

    tbl._commit = racing_commit
    try:
        out = tbl.append(_mk(spark, [(1, "mine", 1)]), txn=("app", 7))
    finally:
        tbl._commit = real_commit
    assert out is None and fired["n"] == 1
    rows = [(r["k"], r["v"]) for r in tbl.read().collect()]
    assert sorted(rows) == [(0, "seed"), (1, "twin")]  # exactly once


def test_read_changes_across_schema_evolution(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1)]))
    v1 = tbl.latest_version()
    tbl.overwrite(
        spark.createDataFrame(
            [(1, "a", 1, "x"), (2, "b", 1, "y")],
            ["k", "v", "updated_at", "new_col"],
        )
    )
    changes = tbl.read_changes(v1).collect()
    by = {(r["k"], r["_change_type"]): r for r in changes}
    # k=1 changed: its new image materializes new_col ('x' vs absent/NULL)
    assert (1, "delete") in by and by[(1, "delete")]["new_col"] is None
    assert (1, "insert") in by and by[(1, "insert")]["new_col"] == "x"
    assert (2, "insert") in by and by[(2, "insert")]["new_col"] == "y"
    assert len(changes) == 3


def test_layout_report_overlap_metric(spark, tmp_path):
    t = TransactionLogTable(spark, str(tmp_path / "lay"), stats_cols=("k",))
    # disjoint sorted appends: perfectly clustered
    t.append(_mk(spark, [(i, "a", 1) for i in range(0, 50)]), sort_by=["k"], n_files=2)
    t.append(_mk(spark, [(i, "a", 1) for i in range(100, 150)]), sort_by=["k"], n_files=2)
    rep = t.layout_report()
    assert rep["n_files"] == 4 and rep["stats_col"] == "k"
    assert rep["overlap_fraction"] == 0.0
    # an append interleaving the whole key range degrades clustering
    t.append(_mk(spark, [(i, "b", 2) for i in range(0, 150, 3)]), n_files=1)
    rep2 = t.layout_report()
    assert rep2["n_overlapping_files"] == 5  # the wide file + all 4 others
    assert rep2["overlap_fraction"] == 1.0
    assert rep2["total_bytes"] > 0 and rep2["p50_bytes"] <= rep2["max_bytes"]


def test_alter_add_columns_metadata_only_evolution(spark, tmp_path):
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
        TransactionLogTable,
    )

    t = TransactionLogTable(spark, str(tmp_path / "evo"), stats_cols=("k",))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    files_before = set(t.snapshot())
    v = t.alter_add_columns("tier STRING, score DOUBLE")
    # metadata-only: no data file touched
    assert set(t.snapshot()) == files_before
    assert t.latest_version() == v
    # declared projection: evolved columns appear as typed NULL
    df = t.read()
    assert df.columns == ["k", "v", "tier", "score"]
    assert all(r.tier is None and r.score is None for r in df.collect())
    # UPDATE on the evolved column applies (would silently no-op if the
    # rewrite read raw file schemas)
    t.update_where("k = 1", {"tier": "'gold'"})
    got = {r.k: r.tier for r in t.read().collect()}
    assert got == {1: "gold", 2: None}
    # time travel to the pre-ALTER version keeps the old schema
    assert t.read(version=1).columns == ["k", "v"]
    # duplicate column rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.alter_add_columns("v STRING")


_STAGE_ONCE_WRITES = {
    "append": lambda t, df: t.append(df),
    "append_txn": lambda t, df: t.append(df, txn=("app", 0)),
    "overwrite": lambda t, df: t.overwrite(df),
    "overwrite_txn": lambda t, df: t.overwrite(df, txn=("app", 0)),
}


@pytest.mark.parametrize("write", sorted(_STAGE_ONCE_WRITES))
def test_append_lost_race_revalidates_new_constraint(spark, tmp_path, write):
    """A constraint committed between an append's staging and its commit
    must reject the append on the retry path (metadata conflict check).
    The writes that reuse their staged files on a retry all take it,
    with or without a txn watermark."""
    from end_to_end_data_lakehouse_pipeline_spark.sources import txnlog as T

    t = T.TransactionLogTable(spark, str(tmp_path / "race"), stats_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))

    orig_commit = t._commit
    state = {"raced": False}

    def racing_commit(version, actions):
        if not state["raced"] and any("add" in a for a in actions):
            state["raced"] = True
            # winner lands a constraint the staged rows violate
            t2 = T.TransactionLogTable(spark, t.path, stats_cols=("k",))
            t2.add_constraint("k_pos", "k >= 0")
            raise T.ConcurrentCommitError("simulated lost race")
        return orig_commit(version, actions)

    t._commit = racing_commit
    import pytest as _pytest

    with _pytest.raises(T.ConstraintViolation):
        _STAGE_ONCE_WRITES[write](t, spark.createDataFrame([(-7, "bad")], ["k", "v"]))
    t._commit = orig_commit
    # nothing committed, no orphan staged files referenced, table readable
    assert {r.k for r in t.read().collect()} == {1}
    assert t.constraints() == {"k_pos": "k >= 0"}
    assert set(_digest(t.path)) == set(t.snapshot())


def test_add_constraint_revalidates_after_lost_race(spark, tmp_path):
    """ADVICE r4 medium: add_constraint that loses its commit race to a
    concurrent append of VIOLATING rows must re-validate the winner's
    snapshot on retry — a blind retry would commit the constraint over
    data that was never checked (mirror of the append-side check)."""
    from end_to_end_data_lakehouse_pipeline_spark.sources import txnlog as T

    t = T.TransactionLogTable(spark, str(tmp_path / "race_ac"), stats_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))

    orig_commit = t._commit
    state = {"raced": False}

    def racing_commit(version, actions):
        if not state["raced"] and any(
            a.get("meta", {}).get("op") == "add_constraint" for a in actions
        ):
            state["raced"] = True
            t2 = T.TransactionLogTable(spark, t.path, stats_cols=("k",))
            t2.append(spark.createDataFrame([(-7, "bad")], ["k", "v"]))
            raise T.ConcurrentCommitError("simulated lost race")
        return orig_commit(version, actions)

    t._commit = racing_commit
    import pytest as _pytest

    try:
        with _pytest.raises(T.ConstraintViolation):
            t.add_constraint("k_pos", "k >= 0")
    finally:
        t._commit = orig_commit
    # constraint NOT committed; both appends visible
    assert t.constraints() == {}
    assert {r.k for r in t.read().collect()} == {1, -7}


def test_alter_add_columns_merges_concurrent_alter(spark, tmp_path):
    """ADVICE r4 medium: an ALTER ADD COLUMNS that loses the version race
    to ANOTHER alter must rebuild its evolved schema on the winner's —
    a stale retry would commit a full-replacement schema missing the
    winner's column (lost update)."""
    from end_to_end_data_lakehouse_pipeline_spark.sources import txnlog as T

    t = T.TransactionLogTable(spark, str(tmp_path / "race_alter"), stats_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))

    orig_commit = t._commit
    state = {"raced": False}

    def racing_commit(version, actions):
        if not state["raced"] and any(
            a.get("meta", {}).get("op") == "alter_add_columns" for a in actions
        ):
            state["raced"] = True
            t2 = T.TransactionLogTable(spark, t.path, stats_cols=("k",))
            t2.alter_add_columns("w INT")
            raise T.ConcurrentCommitError("simulated lost race")
        return orig_commit(version, actions)

    t._commit = racing_commit
    try:
        t.alter_add_columns("z STRING")
    finally:
        t._commit = orig_commit
    cols = [f.name for f in t._schema_at(None).fields]
    assert cols == ["k", "v", "w", "z"]  # winner's column survives
    # duplicate-name check must also be fresh: racing the SAME column
    state2 = {"raced": False}

    def racing_commit_dup(version, actions):
        if not state2["raced"] and any(
            a.get("meta", {}).get("op") == "alter_add_columns" for a in actions
        ):
            state2["raced"] = True
            t2 = T.TransactionLogTable(spark, t.path, stats_cols=("k",))
            t2.alter_add_columns("dup DOUBLE")
            raise T.ConcurrentCommitError("simulated lost race")
        return orig_commit(version, actions)

    t._commit = racing_commit_dup
    import pytest as _pytest

    try:
        with _pytest.raises(ValueError):
            t.alter_add_columns("dup DOUBLE")
    finally:
        t._commit = orig_commit
    cols = [f.name for f in t._schema_at(None).fields]
    assert cols == ["k", "v", "w", "z", "dup"]  # exactly one dup column


@pytest.mark.parametrize("txn", [None, ("app", 0)], ids=["append", "append_txn"])
def test_append_lost_race_keeps_concurrent_alter(spark, tmp_path, txn):
    """An append that loses its race to ALTER ADD COLUMNS records the
    winner's schema plus its own columns: a schema built before the race
    would drop the added column from the declared schema."""
    t = TransactionLogTable(spark, str(tmp_path / "race_alter"), stats_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))
    orig_commit = t._commit
    state = {"raced": False}

    def racing_commit(version, actions):
        if not state["raced"] and any("add" in a for a in actions):
            state["raced"] = True
            t2 = TransactionLogTable(spark, t.path, stats_cols=("k",))
            t2.alter_add_columns("tier STRING")
            raise ConcurrentCommitError("simulated lost race")
        return orig_commit(version, actions)

    t._commit = racing_commit
    try:
        assert t.append(spark.createDataFrame([(2, "b")], ["k", "v"]), txn=txn) == 3
    finally:
        t._commit = orig_commit
    assert t.read().columns == ["k", "v", "tier"]
    assert sorted((r.k, r.tier) for r in t.read().collect()) == [(1, None), (2, None)]


_WRITES = {
    **_STAGE_ONCE_WRITES,
    "merge": lambda t, df: t.merge(df, pks=["k"], order_col="updated_at"),
    "merge_txns": lambda t, df: t.merge(
        df, pks=["k"], order_col="updated_at", txns={"feed": 1}
    ),
    "delete_where": lambda t, df: t.delete_where("k = 1"),
    "update_where": lambda t, df: t.update_where("k = 1", {"v": "'z'"}),
    "compact": lambda t, df: t.compact(),
    "restore": lambda t, df: t.restore(1),
    "add_constraint": lambda t, df: t.add_constraint("k_pos", "k >= 0"),
    "drop_constraint": lambda t, df: t.drop_constraint("k_small"),
    "alter_add_columns": lambda t, df: t.alter_add_columns("tier STRING"),
    "sql_merge": lambda t, df: execute_dml(
        t.spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        tables={"t": t},
        sources={"s": df},
    ),
}


@pytest.mark.parametrize("write", sorted(_WRITES))
def test_every_write_gives_up_after_commit_attempts(spark, tbl, write):
    """Every committing write shares one retry limit: when each commit
    loses its race it raises after COMMIT_ATTEMPTS tries and leaves none
    of its staged files behind."""
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import COMMIT_ATTEMPTS

    tbl.append(_mk(spark, [(1, "a", 1)]))
    tbl.append(_mk(spark, [(2, "b", 1)]))
    tbl.add_constraint("k_small", "k < 100")
    files = set(_digest(tbl.path))
    calls = []

    def lose(version, actions):
        calls.append(version)
        if len(calls) > 50:
            pytest.fail("the commit is retried without a limit")
        raise ConcurrentCommitError("simulated lost race")

    tbl._commit = lose
    try:
        with pytest.raises(ConcurrentCommitError, match="lost the commit race"):
            _WRITES[write](tbl, _mk(spark, [(1, "z", 2), (3, "c", 2)]))
    finally:
        del tbl._commit
    assert len(calls) == COMMIT_ATTEMPTS
    assert set(_digest(tbl.path)) == files


def test_update_delete_discovery_is_stats_seeded(spark, tmp_path):
    """VERDICT r4 task 2: update_where/delete_where must seed their
    touched-file discovery from log stats — a 1%-range predicate plans a
    discovery scan over ~1 of 8 files (mirror of the DataSource's 8->1
    partitions assert), with full-scan fallback ONLY for opaque
    predicates. End-to-end: untouched files keep their exact bytes."""
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
        _stats_bounds_from_condition,
    )

    t = TransactionLogTable(spark, str(tmp_path / "disc"), stats_cols=("k",))
    t.append(
        spark.range(0, 8000).selectExpr("id AS k", "id % 5 AS v"),
        sort_by=["k"],
        n_files=8,
    )
    v0 = t.latest_version()
    # parser: conjunct shapes
    assert _stats_bounds_from_condition("k >= 7000", ("k",)) == {"k": (7000, None)}
    assert _stats_bounds_from_condition("k BETWEEN 100 AND 199 AND v = 3", ("k",)) == {
        "k": (100, 199)
    }
    assert _stats_bounds_from_condition("42 > k", ("k",)) == {"k": (None, 42)}
    assert _stats_bounds_from_condition("k IN (5, 9, 7)", ("k",)) == {"k": (5, 9)}
    assert _stats_bounds_from_condition("k % 2 = 0", ("k",)) == {}
    assert _stats_bounds_from_condition("k >= 5 OR v = 1", ("k",)) == {}
    assert _stats_bounds_from_condition("NOT (k > 5)", ("k",)) == {}
    # candidate discovery: 8 -> 1 file on a range / point predicate
    assert len(t._discovery_candidates("k >= 7000", v0)) == 1
    assert len(t._discovery_candidates("k = 42", v0)) == 1
    assert len(t._discovery_candidates("k BETWEEN 100 AND 199 AND v = 3", v0)) == 1
    # untracked column or opaque predicate: full snapshot (sound fallback)
    assert len(t._discovery_candidates("v = 3", v0)) == 8
    assert len(t._discovery_candidates("k % 2 = 0", v0)) == 8
    # end-to-end: the range UPDATE removes exactly one file from the
    # snapshot; the other 7 live entries are carried over untouched
    before = set(t.snapshot())
    t.update_where("k >= 7000", {"v": "v + 100"})
    after = set(t.snapshot())
    assert len(before - after) == 1 and len(before & after) == 7
    got = {r.k: r.v for r in t.read().collect()}
    assert got[7999] == 7999 % 5 + 100 and got[0] == 0
    # range DELETE: only the low file rewritten, rows gone
    before = set(t.snapshot())
    t.delete_where("k BETWEEN 0 AND 99")
    after = set(t.snapshot())
    assert len(before - after) == 1 and len(before & after) == 7
    assert t.read().filter("k < 100").count() == 0
    assert t.read().count() == 7900


def test_ivm_multibatch_exactly_once(spark, tmp_path):
    """Incremental MV maintenance as a multi-batch loop with the Delta
    txn watermark: three CDC merges into the source, each folding its
    signed CDF delta into a result table via overwrite(txn=...). Batch 2 is
    REDELIVERED with a stale payload — the watermark must no-op it —
    and the final MV must equal the direct recompute."""
    from pyspark.sql import functions as F

    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
        TransactionLogTable,
    )

    src = TransactionLogTable(spark, str(tmp_path / "src"), stats_cols=("k",))
    rows = [(k, k % 5, 100 + k) for k in range(100)]
    src.append(
        spark.createDataFrame(rows, ["k", "bucket", "cents"]).withColumn(
            "updated_at", F.lit(1).cast("long")
        ),
        sort_by=["k"],
    )
    mv = TransactionLogTable(spark, str(tmp_path / "mv"))

    def fold(from_v: int, to_v: int) -> None:
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        d = src.read_changes(from_v, to_v).select(
            "bucket", sign.alias("s"), "cents"
        )
        delta = d.groupBy("bucket").agg(
            F.sum("s").alias("d_n"), F.sum(F.col("s") * F.col("cents")).alias("d_c")
        )
        old = (
            mv.read()
            if mv.latest_version() is not None
            else spark.createDataFrame([], "bucket long, n long, total long")
        )
        new = (
            old.join(delta, "bucket", "full_outer")
            .select(
                "bucket",
                (F.coalesce("n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n"),
                (F.coalesce("total", F.lit(0)) + F.coalesce("d_c", F.lit(0))).alias(
                    "total"
                ),
            )
            .filter(F.col("n") > 0)
        )
        mv.overwrite(new, sort_by=["bucket"], txn=("ivm", to_v))

    # bootstrap: fold from the empty state (version 0 has no files)
    fold(0, 1)
    prev = 1
    for batch, (mod, bump) in enumerate(((3, 7), (4, 11), (6, 13)), start=2):
        cdc = (
            spark.createDataFrame(rows, ["k", "bucket", "cents"])
            .filter(F.col("k") % mod == 0)
            .withColumn("cents", F.col("cents") + bump)
            .withColumn("updated_at", F.lit(batch).cast("long"))
            .withColumn("_deleted", F.col("k") % (mod * 10) == 0)
        )
        v = src.merge(cdc, pks=["k"], order_col="updated_at")
        fold(prev, v)
        prev = v

    final = {r.bucket: (r.n, r.total) for r in mv.read().collect()}

    # redelivery of the LAST batch with a stale (empty) payload: no-op
    stale = spark.createDataFrame([], "bucket long, n long, total long")
    assert mv.overwrite(stale, txn=("ivm", prev)) is None
    assert {r.bucket: (r.n, r.total) for r in mv.read().collect()} == final

    # direct recompute from the source's final snapshot must agree
    direct = {
        r.bucket: (r.n, r.total)
        for r in src.read()
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total"))
        .collect()
    }
    assert final == direct


def test_reads_take_the_schema_from_the_log(spark, tbl, jobs_launched):
    """read / read_pruned / time travel build their frame from the log's
    recorded schema: no footer-inference job runs before an action."""
    tbl.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]), sort_by=["k"])
    tbl.append(_mk(spark, [(10, "x", 1)]), sort_by=["k"])
    frames = {}
    assert jobs_launched(lambda: frames.update(latest=tbl.read())) == []
    assert jobs_launched(lambda: frames.update(pruned=tbl.read_pruned("k", 10, 10))) == []
    assert jobs_launched(lambda: frames.update(v1=tbl.read(version=1))) == []
    assert frames["latest"].count() == 3
    assert [r.k for r in frames["pruned"].collect()] == [10]
    assert sorted(r.k for r in frames["v1"].collect()) == [1, 2]


def test_merge_after_alter_keeps_evolved_values(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]), sort_by=["k"])
    tbl.append(_mk(spark, [(10, "x", 1), (11, "y", 1)]), sort_by=["k"])
    tbl.alter_add_columns("tier STRING")
    tbl.update_where("k = 10", {"tier": "'gold'"})
    # touches only the post-ALTER file: its untouched row keeps 'gold'
    tbl.merge(_mk(spark, [(11, "Y", 2)]), pks=["k"], order_col="updated_at")
    got = {r.k: (r.v, r.tier) for r in tbl.read().collect()}
    assert got == {1: ("a", None), 2: ("b", None), 10: ("x", "gold"), 11: ("Y", None)}
    # touches only a pre-ALTER file, which has no tier column: the merged
    # schema must still carry tier, or the untouched 'gold' disappears
    tbl.merge(_mk(spark, [(1, "A", 2)]), pks=["k"], order_col="updated_at")
    assert tbl.read().columns == ["k", "v", "updated_at", "tier"]
    got = {r.k: (r.v, r.tier) for r in tbl.read().collect()}
    assert got == {1: ("A", None), 2: ("b", None), 10: ("x", "gold"), 11: ("Y", None)}


def test_log_without_schema_reads_by_inference(spark, tbl):
    tbl.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]), sort_by=["k"])
    tbl.append(
        spark.createDataFrame([(3, "c", 1, "e")], ["k", "v", "updated_at", "extra"]),
        sort_by=["k"],
    )
    # strip the recorded schema, as in a log written before it was kept
    for v in tbl._log_versions():
        path = tbl._log_path(v)
        with open(path) as f:
            actions = [json.loads(line) for line in f]
        for a in actions:
            a.get("meta", {}).pop("schema", None)
        with open(path, "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in actions))
    assert tbl._schema_at(None) is None
    got = {r.k: r.extra for r in tbl.read().collect()}
    assert got == {1: None, 2: None, 3: "e"}
    assert [r.v for r in tbl.read_pruned("k", 2, 3).orderBy("k").collect()] == ["b", "c"]


def test_merge_or_append_omitting_a_column_keeps_its_values(spark, tbl):
    """Only an overwrite narrows the schema: a MERGE that touches no file
    and an append, each without ``extra``, leave it in the log, so the
    next rewrite of the file that stores it keeps its values."""
    cols = ("k", "v", "updated_at", "extra")
    tbl.append(_mk(spark, [(1, "a", 1, "e1"), (2, "b", 1, "e2")], cols), sort_by=["k"])
    # every key is new: no file is touched
    tbl.merge(_mk(spark, [(100, "n", 2)]), pks=["k"], order_col="updated_at")
    tbl.append(_mk(spark, [(200, "m", 2)]), sort_by=["k"])
    assert tbl.read().columns == list(cols)
    # rewrites the file holding k=1 and k=2
    tbl.merge(_mk(spark, [(1, "A", 3)]), pks=["k"], order_col="updated_at")
    got = {r.k: (r.v, r.extra) for r in tbl.read().collect()}
    assert got == {
        1: ("A", None), 2: ("b", "e2"), 100: ("n", None), 200: ("m", None)
    }
    assert {r.k: r.extra for r in tbl.read_pruned("k", 2, 2).collect()} == {2: "e2"}
    # an overwrite still replaces the schema
    tbl.overwrite(_mk(spark, [(7, "z", 4)]))
    assert tbl.read().columns == ["k", "v", "updated_at"]


def test_local_frames_run_no_python_worker(spark, tbl, tmp_path, monkeypatch):
    """MERGE's (_file, _min, _max) ranges frame and an empty read are
    Arrow-backed local scans: no PythonRDD in their lineage."""
    from pyspark.sql import types as T

    from end_to_end_data_lakehouse_pipeline_spark.sources import txnlog

    built, original = [], txnlog.local_frame

    def spy(*args, **kwargs):
        built.append(original(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(txnlog, "local_frame", spy)
    tbl.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]), sort_by=["k"])
    tbl.merge(_mk(spark, [(2, "B", 2)]), pks=["k"], order_col="updated_at")
    ranges = [df for df in built if df.columns == ["_file", "_min", "_max"]]
    assert len(ranges) == 1
    empty = TransactionLogTable(spark, str(tmp_path / "empty"))
    empty.create_empty(T.StructType([T.StructField("k", T.LongType())]))
    for df in [*ranges, empty.read()]:
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert empty.read().collect() == []


def test_row_counts_come_from_the_log(spark, tbl, jobs_launched):
    tbl.append(_mk(spark, [(i, "a", 1) for i in range(5)]), sort_by=["k"])
    upd = spark.createDataFrame(
        [(0, "x", 2, True), (9, "n", 2, False)], ["k", "v", "updated_at", "_deleted"]
    )
    tbl.merge(upd, pks=["k"], order_col="updated_at")
    counts = {}
    assert jobs_launched(lambda: counts.update(n=tbl.num_rows(), v1=tbl.num_rows(1))) == []
    assert counts == {"n": 5, "v1": 5} and tbl.read().count() == 5
    # a log written before the footer counts were recorded reads the footers
    for v in tbl._log_versions():
        path = tbl._log_path(v)
        with open(path) as f:
            actions = [json.loads(line) for line in f]
        for a in actions:
            a.get("add", {}).pop("num_rows", None)
        with open(path, "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in actions))
    assert (tbl.num_rows(), tbl.num_rows(1)) == (5, 5)


def test_read_changes_builds_without_a_job(spark, tbl, jobs_launched):
    """Both sides of the change feed read with their version's log schema:
    building the frame infers no footer."""
    tbl.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]), sort_by=["k"])
    v1 = tbl.latest_version()
    tbl.merge(_mk(spark, [(2, "B", 2)]), pks=["k"], order_col="updated_at")
    frames = {}
    assert jobs_launched(lambda: frames.update(c=tbl.read_changes(v1, pks=["k"]))) == []
    got = sorted((r.k, r.v, r._change_type) for r in frames["c"].collect())
    assert got == [(2, "B", "update_postimage"), (2, "b", "update_preimage")]
