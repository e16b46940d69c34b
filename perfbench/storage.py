"""Storage accounting read from the lake itself, outside any timed op.

Transaction-log tables record every data file they ever added (with its
size) in append-only commit files, so bytes written, rewrites included,
are summed from the log even after vacuum deleted the files.
"""

from __future__ import annotations

import json
import os

LOG_DIR = "_txn_log"


def _log_dirs(root: str):
    for dirpath, dirnames, _files in os.walk(root):
        if LOG_DIR in dirnames:
            yield dirpath, os.path.join(dirpath, LOG_DIR)


def txnlog_bytes(root: str) -> int:
    """Data bytes added by every commit plus the log files themselves."""
    total = 0
    for _table, log in _log_dirs(root):
        for name in os.listdir(log):
            path = os.path.join(log, name)
            total += os.path.getsize(path)
            if name.endswith(".json") and not name.endswith(".checkpoint.json"):
                with open(path) as f:
                    for line in f:
                        if '"add"' in line:
                            total += json.loads(line)["add"].get("bytes", 0)
    return total


def txnlog_tables(root: str) -> list[str]:
    return [table for table, _log in _log_dirs(root)]


def tree_bytes(root: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _s, names in os.walk(root)
        for n in names
        if n.endswith(suffix)
    )


def parquet_rows(root: str) -> int:
    """Rows in every parquet file under ``root``, from the footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
        for d, _s, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )
