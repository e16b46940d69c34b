"""Table catalog over the driver-provided parquet test tables.

``/root/testdata/sf*/{name}.parquet`` — TPC-H-ish star schema plus an
``events`` stream table, ``documents`` (text corpus) and ``embeddings``
(array<float> vectors). See TESTDATA.md / FIXTURES.md §3 for the role
mapping onto the reference's Olist model (reference schemas:
postgres_init/init.sql).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# The driver-generated parquet stores timestamps as INT64 TIMESTAMP(NANOS),
# which vanilla Spark rejects. Read them as longs (legacy conf) and convert
# with integer division — double division of epoch-nanos (~1.7e18) would
# lose precision past the 53-bit mantissa.
NANOS_TS_COLUMNS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def ensure_read_confs(spark: SparkSession) -> None:
    """Pin the two read confs the testdata requires, idempotently.

    The driver harness calls ``queries()`` with its OWN vanilla session,
    so these cannot live only in the session factory (session.py also
    sets them for repo-created sessions): nanosAsLong lets the reader
    accept INT64 TIMESTAMP(NANOS) parquet; UTC session tz keeps
    timestamp rendering parity with the UTC-naive DuckDB oracle. Both
    are checked before setting — no per-query conf mutation once a
    session is pinned — and any failure propagates: silently swallowing
    it would surface later as wrong-timezone RESULTS, not an error."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# Per-session schema memo: session -> {(path, st_mtime_ns, st_size):
# (inferred schema, nanos columns to convert)}. Weak-keyed so a stopped,
# dropped session takes its entries with it.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _schema(spark: SparkSession, path: str, name: str) -> tuple[StructType, tuple[str, ...]]:
    """The table's inferred parquet schema and the bigint epoch-nanos
    columns in it, memoized per session and file stamp. A path that
    cannot be stat'ed locally is inferred on every call."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(key)
    if hit is None:
        df = spark.read.parquet(path)
        dtypes = dict(df.dtypes)
        nanos = tuple(c for c in NANOS_TS_COLUMNS.get(name, ()) if dtypes.get(c) == "bigint")
        hit = (df.schema, nanos)
        if key is not None:
            memo[key] = hit
    return hit


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one table. Catalyst pushes filters/projections into
    this scan (check ``PushedFilters`` / ``ReadSchema`` in .explain).

    Footer inference runs a Spark job, so its result is memoized: the
    inferred schema and the list of ``NANOS_TS_COLUMNS`` to convert,
    keyed by session (weakly — entries are never shared across sessions;
    ``__spark_entry__`` callers pass their own) and then by ``(path,
    st_mtime_ns, st_size)``, so a rewritten table file misses and is
    re-inferred. A warm call launches no job. Every call still returns a FRESH scan
    (``spark.read.schema(s).parquet(path)``): a shared DataFrame would
    give both sides of a self-join (``nation`` n1/n2) the same attribute
    ids. ``ensure_read_confs`` runs on every call."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_read_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema, nanos = _schema(spark, path, name)
    df = spark.read.schema(schema).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def spread(df: DataFrame, spark: SparkSession, parts: int | None = None) -> DataFrame:
    """Repartition a scan up to cluster parallelism — but only when needed.

    The local testdata parquet is a single row-group per table, so a bare
    scan runs as ONE task and every pre-shuffle expression (md5 keys,
    tokenization, higher-order array functions) is single-threaded. On real
    multi-file/multi-row-group data (the 100 TB case) the scan already has
    >= cores partitions and this is a no-op — no extra shuffle at scale.
    """
    parts = parts or spark.sparkContext.defaultParallelism
    # File count, not df.rdd.getNumPartitions(): touching .rdd forces full
    # plan analysis plus a Python RDD handle on every call — the kind of
    # driver-side cost that must stay out of hot paths. inputFiles() reads
    # the already-built file index. Multi-file tables (the scale case)
    # short-circuit to a no-op with no shuffle.
    if len(df.inputFiles()) < parts:
        return df.repartition(parts)
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the tables as temp views so Spark SQL text can reference
    them under the same names the DuckDB oracle uses."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
