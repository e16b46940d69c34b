"""catalog.table's per-session schema memo: a warm call launches no
Spark job, yet every call is a fresh scan, entries never cross sessions
and a rewritten table file is re-inferred."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from end_to_end_data_lakehouse_pipeline_spark import catalog


def _key(sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    return (path, st.st_mtime_ns, st.st_size)


def test_sessions_never_share_a_memo_entry(spark, sf_dir):
    other = spark.newSession()
    catalog.table(spark, sf_dir, "region")
    catalog.table(other, sf_dir, "region")
    mine, theirs = catalog._SCHEMAS[spark], catalog._SCHEMAS[other]
    assert mine is not theirs
    key = _key(sf_dir, "region")
    # each session inferred its own entry; neither reused the other's
    assert mine[key] is not theirs[key]
    assert mine[key] == theirs[key]


def test_each_call_is_a_fresh_scan_so_self_joins_resolve(spark, sf_dir):
    n1 = catalog.table(spark, sf_dir, "nation")
    n2 = catalog.table(spark, sf_dir, "nation")
    assert n1 is not n2
    # 25 nations over 5 regions, 5 each: 5 * 5 * 5 = 125 pairs. A memo
    # handing back one shared frame makes this an ambiguous self-join.
    joined = n1.join(n2, n1["n_regionkey"] == n2["n_regionkey"])
    assert joined.count() == 125


def test_rewritten_table_file_is_reinferred(spark, sf_dir, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(f"{sf_dir}/region.parquet", f"{sf}/region.parquet")
    before = catalog.table(spark, sf, "region")
    assert "r_extra" not in before.columns
    n = before.count()
    rewritten = pq.read_table(f"{sf}/region.parquet")
    rewritten = rewritten.append_column("r_extra", pa.array(range(n), pa.int64()))
    pq.write_table(rewritten, f"{sf}/region.parquet")
    after = catalog.table(spark, sf, "region")
    assert after.columns == [*before.columns, "r_extra"]
    assert sorted(r.r_extra for r in after.collect()) == list(range(n))


def test_warm_call_launches_no_job(spark, sf_dir, tmp_path, jobs_launched):
    # a private copy so the first call is cold whatever ran before
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(f"{sf_dir}/orders.parquet", f"{sf}/orders.parquet")
    assert jobs_launched(lambda: catalog.table(spark, sf, "orders"))  # inference
    assert jobs_launched(lambda: catalog.table(spark, sf, "orders")) == []
    # the nanos conversion still applies on the warm path
    df = catalog.table(spark, sf, "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp_ntz"
