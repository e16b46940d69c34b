"""Bronze: the append-only plain-parquet directory (S4).

The reference appends raw Delta per topic with mergeSchema
(streaming_bronze.py:95-110). Here bronze is a plain parquet directory,
partitioned by source table, that only ever grows: every write that
replaces or upserts rows (silver MERGE, gold overwrite, erasure) goes
through :class:`~.txnlog.TransactionLogTable` instead. Silver tracks
which bronze files it has merged in its own log, so bronze needs no log
of its own.

:class:`LakehouseTable` owns the format: how a batch is appended, which
files a reader sees, and how a chosen set of them is read back.
``write_bucketed`` is the catalog-table writer for co-located joins.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_bucketed(
    df: DataFrame,
    table_name: str,
    buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] = (),
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """Bucketed catalog table: co-locates join/agg keys at write time so a
    later join of two tables bucketed the same way needs NO exchange —
    the 100 TB fact-fact join strategy (SURVEY.md §7: 'bucketing for
    co-located joins'). Requires saveAsTable (bucket metadata lives in
    the catalog, not the files). ``path`` pins the file location (external
    table) so callers control where data lands instead of the session's
    warehouse default."""
    w = df.write.format(fmt).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.mode("overwrite").saveAsTable(table_name)


class LakehouseTable:
    """Append-only plain-parquet directory: the bronze format."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def append(self, df: DataFrame, partition_by: Sequence[str] = ()) -> None:
        """S4 bronze append (streaming_bronze.py:99-103); partitioned by
        e.g. the source-table or date column so downstream reads prune."""
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path)

    def files(self) -> list[str]:
        """Data files as sorted paths relative to the table root, skipping
        what Spark's reader hides: names starting with ``.`` or ``_``,
        except ``key=value`` partition directories."""
        out = []
        for d, dirs, names in os.walk(self.path):
            dirs[:] = sorted(n for n in dirs if not n.startswith(".") and (n[0] != "_" or "=" in n))
            rel = os.path.relpath(d, self.path)
            out += [
                os.path.normpath(os.path.join(rel, n))
                for n in sorted(names)
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            ]
        return out

    def read(self, files: Sequence[str] | None = None, schema: StructType | None = None) -> DataFrame:
        """The whole table, or only ``files`` (paths relative to the root,
        as :meth:`files` lists them). A declared ``schema`` skips footer
        inference; files written before a column existed read it as
        NULL."""
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        if files is None:
            return r.parquet(self.path)
        return r.parquet(*[os.path.join(self.path, f) for f in files])
