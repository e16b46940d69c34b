"""``format("txnlog")``: Spark DataSource over the transaction-log table.

Gives the ACID layer (sources/txnlog.py) the same first-class read API
Delta tables have:

- ``spark.read.format("txnlog").option("path", p).load()`` — batch read
  of the current snapshot (or ``option("version", n)`` time travel),
  planned one task per live file straight from the log (no directory
  listing), rows streamed as Arrow batches.
- ``spark.readStream.format("txnlog")...`` — stream the table: each
  micro-batch covers the log versions committed since the last offset,
  reading ONLY the files those commits added (the Delta streaming-source
  model). Offsets are log versions, so restarts resume exactly from the
  checkpointed version. Non-append commits (merge/delete/optimize remove
  files) abort the stream by default — re-emitting rewritten rows would
  silently duplicate; ``option("ignore_changes", "true")`` opts into
  Delta's ignoreChanges contract (added files stream anyway, rewritten
  rows may re-emit).

Executors unpickle these classes by module reference — ship the package
to workers (--py-files / PYTHONPATH), same as any Python UDF module.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from .txnlog import TransactionLogTable


def _table(options) -> TransactionLogTable:
    # spark=None: only the driver-side log layer is used here
    return TransactionLogTable(None, options["path"])


class TxnlogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txnlog"

    def schema(self):
        t = _table(self.options)
        schema = t._schema_at(
            int(self.options["version"]) if "version" in self.options else None
        )
        if schema is None:
            raise FileNotFoundError(f"no committed data at {self.options['path']}")
        return schema

    def reader(self, schema) -> "TxnlogBatchReader":
        # Stats-based file skipping is OPT-IN via option("pushdown",
        # "true"): Spark refuses a reader that defines pushFilters when
        # `spark.sql.python.filterPushdown.enabled` is off, and this
        # method runs in the data-source planner worker where the live
        # session conf is unreachable — so the caller who enables the
        # conf passes the option too (set both, get Delta-style skipping;
        # default stays safe in any vanilla session).
        push = self.options.get("pushdown", "false").lower() == "true"
        cls = TxnlogPruningReader if push else TxnlogBatchReader
        return cls(self.options, schema)

    def streamReader(self, schema) -> "TxnlogStreamReader":
        return TxnlogStreamReader(self.options, schema)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _read_file(path: str, schema):
    """Stream a parquet file's Arrow batches PROJECTED onto the declared
    table schema: snapshots that straddle a schema evolution contain
    older files missing later-added columns — those surface as typed
    nulls, mirroring ``TransactionLogTable.read``
    (ADVICE r3 medium). Columns are emitted in declared order; a type
    drift (e.g. int32 file vs int64 declared) is cast."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    pf = pq.ParquetFile(path)
    present = set(pf.schema_arrow.names)
    cols = [f.name for f in target if f.name in present]
    for batch in pf.iter_batches(batch_size=10000, columns=cols):
        by_name = {n: c for n, c in zip(batch.schema.names, batch.columns)}
        arrays = []
        for field in target:
            arr = by_name.get(field.name)
            if arr is None:
                arr = pa.nulls(batch.num_rows, type=field.type)
            elif arr.type != field.type:
                arr = arr.cast(field.type)
            arrays.append(arr)
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


class TxnlogBatchReader(DataSourceReader):
    def __init__(self, options, schema):
        self.options = dict(options)
        self.schema = schema
        t = _table(self.options)
        version = (
            int(self.options["version"]) if "version" in self.options else None
        )
        self.files = [
            os.path.join(t.path, n) for n in sorted(t.snapshot(version))
        ]

    def partitions(self):
        return [_FilePartition(f) for f in self.files] or [InputPartition(None)]

    def read(self, partition):
        if getattr(partition, "path", None) is None:
            return iter(())
        return _read_file(partition.path, self.schema)


class TxnlogPruningReader(TxnlogBatchReader):
    """Batch reader with log-stats file skipping from Catalyst-pushed
    predicates (Delta's data-skipping behavior through the public
    DataSource pushdown API): range/equality filters on stats-tracked
    columns shrink the snapshot to files whose footer [min, max] can
    match. EVERY filter is handed back as unsupported — skipping is
    file-granular, Spark re-applies the row-level predicate — so this is
    pure pruning, never a semantics change. Unknown columns, struct
    paths, missing stats, or non-comparable literals keep the file
    (never skip on missing information, same rule as pruned_files)."""

    def pushFilters(self, filters):
        bounds: dict[str, list] = {}  # col -> [lo, hi] (None = unbounded)

        def tighten(col, lo=None, hi=None):
            b = bounds.setdefault(col, [None, None])
            if lo is not None and (b[0] is None or lo > b[0]):
                b[0] = lo
            if hi is not None and (b[1] is None or hi < b[1]):
                b[1] = hi

        for f in filters:
            attr = f.attribute if isinstance(f.attribute, tuple) else (f.attribute,)
            if len(attr) == 1:
                col = attr[0]
                if isinstance(f, EqualTo):
                    tighten(col, lo=f.value, hi=f.value)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    tighten(col, lo=f.value)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    tighten(col, hi=f.value)
                elif isinstance(f, In) and f.value:
                    try:
                        tighten(col, lo=min(f.value), hi=max(f.value))
                    except TypeError:
                        pass
            yield f  # all filters re-applied by Spark post-scan

        if bounds:
            t = _table(self.options)
            version = (
                int(self.options["version"])
                if "version" in self.options
                else None
            )
            keep = []
            for name, entry in sorted(t.snapshot(version).items()):
                stats = entry.get("stats", {})
                ok = True
                for col, (lo, hi) in bounds.items():
                    st = stats.get(col)
                    if st is None:
                        continue  # no stats: never skip
                    try:
                        if lo is not None and st["max"] < lo:
                            ok = False
                            break
                        if hi is not None and st["min"] > hi:
                            ok = False
                            break
                    except TypeError:
                        continue  # incomparable literal: keep the file
                if ok:
                    keep.append(os.path.join(t.path, name))
            self.files = keep


class TxnlogStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.options = dict(options)
        self.schema = schema
        self.ignore_changes = (
            self.options.get("ignore_changes", "false").lower() == "true"
        )

    def initialOffset(self) -> dict:
        # stream the table from the beginning of its log
        return {"version": 0}

    def latestOffset(self) -> dict:
        t = _table(self.options)
        return {"version": t.latest_version() or 0}

    def partitions(self, start: dict, end: dict):
        t = _table(self.options)
        v0, v1 = int(start["version"]), int(end["version"])
        if v1 <= v0:
            return []
        before = set(t.snapshot(v0)) if v0 > 0 else set()
        after = t.snapshot(v1)
        removed = before - set(after)
        if removed and not self.ignore_changes:
            raise RuntimeError(
                f"txnlog stream source: versions ({v0}, {v1}] remove "
                f"{len(removed)} file(s) (merge/delete/optimize). Streaming "
                "a non-append table re-emits rewritten rows; restart from "
                "a fresh checkpoint or set option(ignore_changes, true) to "
                "accept Delta ignoreChanges semantics."
            )
        added = sorted(set(after) - before)
        return [_FilePartition(os.path.join(t.path, n)) for n in added]

    def read(self, partition):
        return _read_file(partition.path, self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; the log is immutable
