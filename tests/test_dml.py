"""SQL DML text surface (sources/dml.py): MERGE INTO / UPDATE / DELETE
routed to TransactionLogTable ops — parser shapes, generic WHEN-clause
execution, file-level pruning, and the cardinality rule."""

import glob
import os

import pytest

from end_to_end_data_lakehouse_pipeline_spark.sources.dml import execute_dml
from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import (
    TransactionLogTable,
)


def _mk(spark, rows, cols=("k", "v", "updated_at")):
    return spark.createDataFrame(rows, list(cols))


@pytest.fixture()
def tbl(spark, tmp_path):
    t = TransactionLogTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(_mk(spark, [(i, f"v{i}", 1) for i in range(10)]), sort_by=["k"])
    return t


def _state(t):
    return {r.k: (r.v, r.updated_at) for r in t.read().collect()}


def test_sql_update_where(spark, tbl):
    v = execute_dml(
        spark,
        "UPDATE t SET v = upper(v), updated_at = updated_at + 1 WHERE k >= 8",
        tables={"t": tbl},
    )
    assert v == tbl.latest_version()
    got = _state(tbl)
    assert got[9] == ("V9", 2) and got[8] == ("V8", 2)
    assert got[0] == ("v0", 1)  # untouched rows keep values


def test_sql_delete_from(spark, tbl):
    execute_dml(spark, "DELETE FROM t WHERE k % 2 = 0", tables={"t": tbl})
    assert sorted(_state(tbl)) == [1, 3, 5, 7, 9]


def test_sql_merge_update_delete_insert(spark, tbl):
    src = _mk(
        spark,
        [
            (5, "UPD", 9, False),   # matched -> update
            (7, "ignored", 9, True),  # matched + guard -> delete
            (100, "NEW", 9, False),   # not matched -> insert
            (101, "dead", 9, True),   # not matched + deleted -> skipped
        ],
        ("k", "v", "updated_at", "_del"),
    )
    execute_dml(
        spark,
        """MERGE INTO t USING s ON t.k = s.k
           WHEN MATCHED AND s._del THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED AND NOT s._del THEN
               INSERT (k, v, updated_at) VALUES (s.k, s.v, s.updated_at)""",
        tables={"t": tbl},
        sources={"s": src},
    )
    got = _state(tbl)
    assert got[5] == ("UPD", 9)
    assert 7 not in got
    assert got[100] == ("NEW", 9)
    assert 101 not in got
    assert got[0] == ("v0", 1)


def test_sql_merge_prunes_untouched_files(spark, tmp_path):
    t = TransactionLogTable(spark, str(tmp_path / "p"), stats_cols=("k",))
    t.append(_mk(spark, [(i, "lo", 1) for i in range(0, 50)]), sort_by=["k"])
    t.append(_mk(spark, [(i, "hi", 1) for i in range(1000, 1050)]), sort_by=["k"])
    lo_files = set(t.snapshot())
    digests = {
        f: os.path.getmtime(f) for f in glob.glob(os.path.join(t.path, "*.parquet"))
    }
    execute_dml(
        spark,
        """MERGE INTO p USING s ON p.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v""",
        tables={"p": t},
        sources={"s": _mk(spark, [(1025, "MERGED", 2)])},
    )
    snap = t.snapshot()
    # low-range files survive byte-identical (same name, same mtime)
    survivors = set(snap) & lo_files
    assert survivors, "stats pruning should keep the untouched range"
    for f in glob.glob(os.path.join(t.path, "*.parquet")):
        if os.path.basename(f) in survivors:
            assert digests[f] == os.path.getmtime(f)
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1025] == "MERGED" and got[0] == "lo" and len(got) == 100


def test_sql_merge_cardinality_violation_raises(spark, tbl):
    src = _mk(spark, [(5, "a", 9), (5, "b", 9)])
    with pytest.raises(ValueError, match="multiple source rows"):
        execute_dml(
            spark,
            "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *",
            tables={"t": tbl},
            sources={"s": src},
        )


def test_sql_merge_resolves_temp_view_source(spark, tbl):
    _mk(spark, [(3, "VIEWED", 9)]).createOrReplaceTempView("dml_src_view")
    try:
        execute_dml(
            spark,
            """MERGE INTO t USING dml_src_view AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET v = s.v""",
            tables={"t": tbl},
        )
        assert _state(tbl)[3][0] == "VIEWED"
    finally:
        spark.catalog.dropTempView("dml_src_view")


def test_unparseable_statements_raise(spark, tbl):
    for bad in (
        "TRUNCATE TABLE t",
        "MERGE INTO t USING s WHEN MATCHED THEN DELETE",
        "UPDATE t WHERE k = 1",
    ):
        with pytest.raises(ValueError):
            execute_dml(spark, bad, tables={"t": tbl}, sources={"s": tbl.read()})


def test_update_where_api_type_stability(spark, tbl):
    """SET exprs cast back to the column's type so the snapshot schema
    never forks (e.g. int arithmetic widening)."""
    before = dict(tbl.read().dtypes)
    tbl.update_where("k = 1", {"updated_at": "updated_at * 2.5"})
    assert dict(tbl.read().dtypes) == before
    assert _state(tbl)[1][1] == 2  # 2.5 cast back to long


def test_sql_insert_into_values_and_select(spark, tbl):
    execute_dml(
        spark,
        "INSERT INTO t VALUES (50, 'fifty', 9), (51, 'fiftyone', 9)",
        tables={"t": tbl},
    )
    got = _state(tbl)
    assert got[50] == ("fifty", 9) and got[51] == ("fiftyone", 9)
    # SELECT form through a temp view, positionally aligned + cast
    _mk(spark, [(60, "sixty", 1.5)], ("a", "b", "c")).createOrReplaceTempView(
        "ins_src"
    )
    try:
        execute_dml(
            spark, "INSERT INTO t SELECT a, b, c FROM ins_src", tables={"t": tbl}
        )
    finally:
        spark.catalog.dropTempView("ins_src")
    assert _state(tbl)[60] == ("sixty", 1)  # 1.5 cast to target long
    # width mismatch fails closed before any commit
    v = tbl.latest_version()
    with pytest.raises(ValueError, match="column count"):
        execute_dml(spark, "INSERT INTO t SELECT 1, 'x'", tables={"t": tbl})
    assert tbl.latest_version() == v


def test_concurrent_sql_merges_serialize(spark, tmp_path):
    """Two racing SQL MERGEs on disjoint key ranges: optimistic
    concurrency retries the loser against the winner's snapshot, so BOTH
    effects land (serializable outcome), no lost update."""
    import threading

    t = TransactionLogTable(spark, str(tmp_path / "r"), stats_cols=("k",))
    t.append(_mk(spark, [(i, "v", 1) for i in range(20)]), sort_by=["k"])
    errs = []

    def run(lo, hi, tag):
        try:
            src = _mk(spark, [(k, tag, 2) for k in range(lo, hi)])
            execute_dml(
                spark,
                "MERGE INTO r USING s ON r.k = s.k "
                "WHEN MATCHED THEN UPDATE SET v = s.v",
                tables={"r": t},
                sources={"s": src},
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    th1 = threading.Thread(target=run, args=(0, 5, "A"))
    th2 = threading.Thread(target=run, args=(15, 20, "B"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs, errs
    got = {r.k: r.v for r in t.read().collect()}
    assert all(got[k] == "A" for k in range(0, 5))
    assert all(got[k] == "B" for k in range(15, 20))
    assert all(got[k] == "v" for k in range(5, 15))


def test_sql_merge_reads_declared_schema_after_alter(spark, tmp_path):
    """ADVICE r4 medium: MERGE's touched-file read must project onto the
    DECLARED log schema. After ALTER ADD COLUMNS, touched files span
    both schema versions — bare spark.read.parquet (first-file wins)
    silently dropped evolved-column values from newer files and made
    UPDATE SET on the evolved column a no-op."""
    t = TransactionLogTable(spark, str(tmp_path / "ev"), stats_cols=("k",))
    # file 1: pre-evolution schema (k, v, updated_at)
    t.append(_mk(spark, [(1, "a", 1), (2, "b", 1)]), sort_by=["k"])
    t.alter_add_columns("tier STRING")
    # file 2: post-evolution, carries tier values
    t.append(
        spark.createDataFrame(
            [(3, "c", 1, "gold")], ["k", "v", "updated_at", "tier"]
        ),
        sort_by=["k"],
    )
    src = spark.createDataFrame(
        [(2, "B2", 2, "silver"), (3, "C2", 2, "plat")],
        ["k", "v", "updated_at", "tier"],
    )
    src.createOrReplaceTempView("ev_src")
    execute_dml(
        spark,
        """
        MERGE INTO ev t USING ev_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v, tier = s.tier
        WHEN NOT MATCHED THEN INSERT *
        """,
        tables={"ev": t},
    )
    got = {r.k: (r.v, r.tier) for r in t.read().collect()}
    # evolved column updated on BOTH the pre-evolution file's row (k=2)
    # and the post-evolution file's row (k=3); untouched row NULL-fills
    assert got[2] == ("B2", "silver")
    assert got[3] == ("C2", "plat")
    assert got[1] == ("a", None)


def test_sql_merge_using_subquery_source(spark, tbl):
    """VERDICT r4 task 6: MERGE ... USING (SELECT ...) AS alias — the
    subquery routes through spark.sql into the DataFrame-source path
    (temp views resolve inside it), including nested parens and a
    WHEN NOT MATCHED insert."""
    _mk(
        spark,
        [(5, "five", 9), (6, "six", 9), (200, "new", 9)],
    ).createOrReplaceTempView("sub_src")
    execute_dml(
        spark,
        """
        MERGE INTO t USING (
            SELECT k, upper(v) AS v, updated_at + (1 + 1) AS updated_at
            FROM sub_src WHERE k <> 6
        ) AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v, updated_at = s.updated_at
        WHEN NOT MATCHED THEN INSERT *
        """,
        tables={"t": tbl},
    )
    got = _state(tbl)
    assert got[5] == ("FIVE", 11)
    assert got[6] == ("v6", 1)  # filtered out of the subquery
    assert got[200] == ("NEW", 11)
    assert got[0] == ("v0", 1)
    # missing alias is a parse error, not silent misbehavior
    with pytest.raises(ValueError):
        execute_dml(
            spark,
            "MERGE INTO t USING (SELECT * FROM sub_src) ON t.k = k "
            "WHEN MATCHED THEN DELETE",
            tables={"t": tbl},
        )


def test_sql_merge_non_equi_residual_on(spark, tbl):
    """ON t.k = s.k AND s.updated_at > t.updated_at — the upsert-if-newer
    shape: the equality still drives file pruning, the residual decides
    MATCHED. A stale source row (residual false) is NOT MATCHED per SQL
    semantics; the guarded INSERT keeps it out of the table."""
    src = _mk(
        spark,
        [
            (5, "NEWER", 9),   # residual true -> update
            (7, "stale", 0),   # residual false -> NOT MATCHED, guard drops
            (300, "NEW", 3),   # no key match -> insert
        ],
    )
    execute_dml(
        spark,
        """
        MERGE INTO t USING s ON t.k = s.k AND s.updated_at > t.updated_at
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND s.updated_at > 0 THEN INSERT *
        """,
        tables={"t": tbl},
        sources={"s": src},
    )
    got = _state(tbl)
    assert got[5] == ("NEWER", 9)
    assert got[7] == ("v7", 1)  # stale row neither updated nor inserted
    assert got[300] == ("NEW", 3)
    assert len(got) == 11


def test_sql_merge_residual_only_on(spark, tbl):
    """Zero equality conjuncts: candidate discovery falls back to the
    full live file set; the join condition is the raw residual."""
    src = _mk(spark, [(90, "HIT", 5)])
    execute_dml(
        spark,
        """
        MERGE INTO t USING s ON t.k * 10 = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        """,
        tables={"t": tbl},
        sources={"s": src},
    )
    got = _state(tbl)
    assert got[9] == ("HIT", 1)
    assert got[8] == ("v8", 1) and len(got) == 10


def test_split_top_and_respects_parens():
    from end_to_end_data_lakehouse_pipeline_spark.sources.dml import (
        _split_top_and,
    )

    assert _split_top_and("t.k = s.k AND s.ts > t.ts") == [
        "t.k = s.k",
        "s.ts > t.ts",
    ]
    assert _split_top_and("t.k = s.k AND (s.a AND s.b)") == [
        "t.k = s.k",
        "(s.a AND s.b)",
    ]
    assert _split_top_and("t.brand = s.brand") == ["t.brand = s.brand"]
    assert _split_top_and("coalesce(a, b) and c") == ["coalesce(a, b)", "c"]
