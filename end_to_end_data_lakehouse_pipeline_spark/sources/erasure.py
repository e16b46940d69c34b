"""Subject-erasure propagation (GDPR "right to be forgotten").

Given a set of subject keys, rewrite every table that carries the key so
no row for those subjects survives — atomically per table via one
:class:`~.txnlog.TransactionLogTable` overwrite commit, so a crash
mid-erasure leaves each table either fully erased or untouched at its
previous version, and an audit record (per-table before/after counts,
read from the log) is returned for the compliance trail.

Spark shape: one broadcast LEFT ANTI join per table — the erase set is
always tiny relative to the table, so the rewrite is a single scan with
no shuffle. At 100 TB you run this per partition window (the same
anti-join under a partition predicate) instead of whole-table; with
Delta/Iceberg the rewrite becomes a DELETE with file pruning — this
module is the parquet-local analog with the same semantics.

Reference parity: the reference has no deletion story beyond CDC delete
ops (batch_silver.py filters `op = 'd'`); erasure-by-subject across all
derived tables is an engine addition the lakehouse mandate needs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .txnlog import TransactionLogTable


@dataclass
class ErasureRecord:
    table: str
    key_column: str
    rows_before: int
    rows_after: int
    version: int

    @property
    def rows_erased(self) -> int:
        return self.rows_before - self.rows_after


def erase_subjects(
    spark: SparkSession,
    tables: dict[str, tuple[TransactionLogTable, str]],
    subject_keys: DataFrame,
) -> list[ErasureRecord]:
    """Erase all rows whose key appears in ``subject_keys`` (one column).

    ``tables`` maps a logical name to (TransactionLogTable, key_column).
    Each table gets a new committed version containing only surviving
    rows; ``read(version=...)`` still reaches the pre-erasure versions
    until ``vacuum`` drops their files (run it once the legal hold
    expires to make erasure physical).
    """
    key_col = subject_keys.columns[0]
    keys = F.broadcast(subject_keys.select(key_col).distinct())
    audit: list[ErasureRecord] = []
    for name, (t, column) in tables.items():
        before = t.num_rows()
        survivors = t.read().join(
            keys.withColumnRenamed(key_col, column), column, "left_anti"
        )
        version = t.overwrite(survivors)
        audit.append(
            ErasureRecord(
                table=name,
                key_column=column,
                rows_before=before,
                rows_after=t.num_rows(version),
                version=version,
            )
        )
    return audit
