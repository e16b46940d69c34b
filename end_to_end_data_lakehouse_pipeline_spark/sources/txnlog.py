"""Transaction-log table: Delta-protocol-style ACID commits on parquet.

The reference is Delta end-to-end (streaming_bronze.py:101
``mergeSchema`` append, batch_silver.py:146-159 ``DeltaTable.merge``),
and ``delta-spark`` is not a dependency of this engine. This is the
engine's one table format for every write that replaces or upserts rows
(silver MERGE, gold overwrite, erasure); only the append-only bronze
directory stays plain parquet (``lakehouse.LakehouseTable``). It is
atomic the way Delta itself is — with a transaction log:

- **Immutable data files + an append-only log.** Data files land under
  the table root with unique names and are NEVER mutated; each commit is
  one JSON file ``_txn_log/<version>.json`` holding ``add``/``remove``
  file actions. Readers reconstruct the live file set from the log, so a
  half-finished write (data files present, commit absent) is simply
  invisible — atomicity without rename games.
- **Optimistic concurrency.** A commit is written in full to a temp
  file and published with ``os.link``, which fails if the version
  already exists — the put-if-absent primitive Delta uses on HDFS/ABFS
  (and emulates with a coordination service on S3). Two writers racing
  for version N: exactly one wins. Every committing write runs through
  one loop, ``TransactionLogTable._transact``: pin the base version,
  build the actions against it, commit base+1, and after a lost race
  rebuild against the winner's snapshot (appends and overwrites reuse
  their staged files after re-checking the winner's CHECK constraints;
  MERGE, UPDATE, DELETE and OPTIMIZE re-execute). It gives up after
  ``COMMIT_ATTEMPTS`` lost races.
- **Snapshot isolation + time travel.** ``read(version=...)`` replays the
  log to that version (DESCRIBE HISTORY ↔ ``history()``, RESTORE ↔
  ``restore()``).
- **Per-file column stats → data skipping.** Each ``add`` action carries
  min/max/null-count per tracked column, harvested from the parquet
  footers (a metadata-only read, no data scan). ``read_pruned`` and the
  file-level ``merge`` use them to touch only files whose key range
  intersects the predicate — at 100 TB a merge touching 1 % of the key
  space rewrites ~1 % of the files, and the log lists files without a
  directory walk over millions of objects.
- **Checkpoints.** Every ``checkpoint_interval`` commits, the full live
  file set is written to ``<version>.checkpoint.json`` so snapshot
  reconstruction replays O(interval) tail commits, not the whole history
  — Delta's ``_last_checkpoint`` idea.

Driver-side work is O(#files in the snapshot) — the same envelope as
Delta's own log replay, fine for the millions-of-files regime when
checkpointed; the data path stays fully distributed.

In production you would still reach for delta-spark/Iceberg (Spark SQL
integration, column mapping, deletion vectors); this class exists so the
capability — atomic commit, snapshot isolation, file-level merge, data
skipping, time travel — is real, local, and tested, not a docstring
promise.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Iterable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

LOG_DIR = "_txn_log"
# compact()'s output file size, also the unit a MERGE rewrite is sized in
TARGET_FILE_BYTES = 128 * 1024 * 1024
# lost commit races a write tolerates before it raises ConcurrentCommitError
COMMIT_ATTEMPTS = 5
# stats are harvested only for these physical types — min/max on
# complex/binary columns is not useful for range pruning
_STATABLE = ("int32", "int64", "float", "double", "string", "date32")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class ConstraintViolation(RuntimeError):
    """A write staged rows that fail a table CHECK constraint."""


_LIT = r"-?\d+(?:\.\d+)?|'[^']*'"
_BETWEEN_RE = re.compile(
    rf"(\w+)\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})", re.IGNORECASE
)
_CMP_RE = re.compile(
    rf"^\s*(?:(?P<col>\w+)\s*(?P<op><=|>=|<|>|==?)\s*(?P<lit>{_LIT})"
    rf"|(?P<lit2>{_LIT})\s*(?P<op2><=|>=|<|>|==?)\s*(?P<col2>\w+))\s*$"
)
_IN_RE = re.compile(
    rf"^\s*(?P<col>\w+)\s+IN\s*\(\s*(?P<vals>(?:{_LIT})(?:\s*,\s*(?:{_LIT}))*)\s*\)\s*$",
    re.IGNORECASE,
)
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _parse_lit(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def _split_conjuncts(s: str) -> list[str]:
    """Top-level AND split, respecting parentheses and string literals."""
    parts, depth, start, i, n = [], 0, 0, 0, len(s)
    in_str = False
    while i < n:
        ch = s[i]
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and s[i : i + 3].upper() == "AND"
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and (i + 3 >= n or not (s[i + 3].isalnum() or s[i + 3] == "_"))
        ):
            parts.append(s[start:i])
            start = i + 3
            i += 3
            continue
        i += 1
    parts.append(s[start:])
    return parts


def _strip_parens(p: str) -> str:
    p = p.strip()
    while p.startswith("(") and p.endswith(")"):
        depth = 0
        for i, ch in enumerate(p):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(p) - 1:
                    return p  # outer parens don't wrap the whole part
        p = p[1:-1].strip()
    return p


def _stats_bounds_from_condition(
    condition: str, stats_cols: Sequence[str]
) -> dict:
    """Extract ``{col: (lo, hi)}`` ranges over stats-tracked columns from
    the predicate's top-level AND conjuncts (=, <, <=, >, >=, BETWEEN,
    IN). Conjuncts that don't parse — ORs, NOTs, function calls, other
    columns — are simply ignored: under AND, pruning on any SUBSET of
    conjuncts is sound (kept files are a superset of matching files).
    Returns ``{}`` when nothing usable is found (caller falls back to the
    full snapshot)."""
    if not stats_cols:
        return {}
    tracked = set(stats_cols)
    s = _BETWEEN_RE.sub(
        lambda m: f"{m.group(1)} >= {m.group(2)} AND {m.group(1)} <= {m.group(3)}",
        condition,
    )
    bounds: dict = {}

    def tighten(col, lo=None, hi=None):
        b = bounds.setdefault(col, [None, None])
        try:
            if lo is not None and (b[0] is None or lo > b[0]):
                b[0] = lo
            if hi is not None and (b[1] is None or hi < b[1]):
                b[1] = hi
        except TypeError:
            bounds.pop(col, None)  # mixed-type bounds: drop the column

    for part in _split_conjuncts(s):
        if re.search(r"\bOR\b|\bNOT\b", part, re.IGNORECASE):
            continue
        p = _strip_parens(part)
        m = _IN_RE.match(p)
        if m and m.group("col") in tracked:
            try:
                vals = [
                    _parse_lit(v)
                    for v in re.findall(_LIT, m.group("vals"))
                ]
                tighten(m.group("col"), lo=min(vals), hi=max(vals))
            except TypeError:
                pass
            continue
        m = _CMP_RE.match(p)
        if not m:
            continue
        col = m.group("col") or m.group("col2")
        op = m.group("op") or _FLIP.get(m.group("op2"), "=")
        lit = _parse_lit(m.group("lit") or m.group("lit2"))
        if col not in tracked:
            continue
        if op in ("=", "=="):
            tighten(col, lo=lit, hi=lit)
        elif op in (">", ">="):
            tighten(col, lo=lit)
        elif op in ("<", "<="):
            tighten(col, hi=lit)
    return {c: tuple(b) for c, b in bounds.items()}


def _all_nullable(dt):
    """Recursively mark every field/element nullable. The declared log
    schema must never inherit the non-nullability of one write's literal
    DataFrame — other files in the snapshot (or NULL-filled evolved
    columns) may legitimately hold nulls."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _all_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_all_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_all_nullable(dt.keyType), _all_nullable(dt.valueType), True)
    return dt


def local_frame(
    spark: SparkSession, table: pa.Table | None = None, schema: StructType | None = None
) -> DataFrame:
    """A driver-side table as a DataFrame, through the JVM Arrow reader:
    it plans as a ``LocalTableScan``, so scanning it runs no Python worker
    and no job (``createDataFrame(list)`` plans a ``PythonRDD``).
    ``table=None`` gives the empty frame of ``schema``."""
    if table is None:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


def _file_stats(md: pq.FileMetaData, cols: Sequence[str]) -> dict:
    """min/max/null-count per tracked column from a parquet FOOTER
    (row-group metadata only — no data pages are read)."""
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, dict] = {}
    for col in cols:
        if col not in names:
            continue
        idx = names[col]
        if md.schema.column(idx).physical_type.lower() not in (
            "int32",
            "int64",
            "float",
            "double",
            "byte_array",
        ):
            continue
        mn = mx = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    ok = False
                    break
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            nulls += st.null_count or 0
        if ok and mn is not None:
            try:
                json.dumps([mn, mx])
            except TypeError:
                mn, mx = str(mn), str(mx)
            out[col] = {"min": mn, "max": mx, "nulls": nulls}
    return out


def _lww_window(pks: Sequence[str], order_col: str, tiebreak: Sequence[str]):
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in tiebreak]
    return Window.partitionBy(*pks).orderBy(*order)


def merge_upsert(
    current: DataFrame | None,
    updates: DataFrame,
    pks: Sequence[str],
    order_col: str,
    deleted_col: str = "_deleted",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """S7 MERGE as a pure DataFrame transform: last write per PK wins
    across current+updates; rows whose final image is a delete drop out
    (P5, batch_silver.py:115). ``current`` rows sort below any update with
    the same order_col value (updates carry fresher lineage).
    :meth:`TransactionLogTable.merge` applies it to the touched files.

    Determinism contract: two rows in the SAME batch with equal
    (pk, order_col) need ``tiebreak`` columns (appended after _src_rank) to
    pick a total-order winner; without them the winner among exact
    duplicates-by-(pk, order_col, src) is row_number-arbitrary (the
    reference's bare timestamp sort, SURVEY.md §4 'quirks to not copy').
    Pass e.g. an ingest offset or payload hash when the source can emit
    such ties.

    Built from a handful of projections: every DataFrame step costs a
    driver-side analysis pass, which dominates a small MERGE."""
    upd_types = {f.name: f.dataType for f in updates.schema.fields}
    if current is None:
        out_cols = list(upd_types)
        unioned = updates.select("*", F.lit(1).alias("_src_rank"))
    else:
        # schema evolution (Delta mergeSchema semantics, round 9): the
        # merged schema is the UNION of both sides — a column only the
        # updates carry back-fills NULL on stored rows, a column the
        # updates dropped keeps its stored values and NULL-fills update
        # rows. Types come from whichever side has the column. A stored
        # table written before any delete arrived has no soft-delete
        # column; its rows are by definition live.
        cur_types = {f.name: f.dataType for f in current.schema.fields}
        out_cols = list(upd_types) + [c for c in cur_types if c not in upd_types]
        types = {**cur_types, **upd_types}

        def aligned(df: DataFrame, have: dict, rank: int) -> DataFrame:
            fill = {deleted_col: F.lit(False)} if rank == 0 else {}
            return df.select(
                *[
                    c if c in have else fill.get(c, F.lit(None)).cast(types[c]).alias(c)
                    for c in out_cols
                ],
                F.lit(rank).alias("_src_rank"),
            )

        unioned = aligned(current, cur_types, 0).unionByName(aligned(updates, upd_types, 1))
    w = _lww_window(pks, order_col, ["_src_rank", *tiebreak])
    keep = F.col("_row_num") == 1
    if deleted_col in out_cols:
        keep = keep & ~F.coalesce(F.col(deleted_col), F.lit(False))
    ranked = unioned.select("*", F.row_number().over(w).alias("_row_num"))
    return ranked.filter(keep).select(*out_cols)


class TransactionLogTable:
    """ACID parquet table addressed by a transaction log (see module doc).

    ``stats_cols`` — columns whose per-file min/max are recorded on every
    add action (the data-skipping index; put the merge PK and the common
    filter columns here). ``checkpoint_interval`` — commits between full
    snapshot checkpoints.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        stats_cols: Sequence[str] = (),
        checkpoint_interval: int = 10,
        partition_by: Sequence[str] = (),
    ):
        """``partition_by`` — hive-style partition columns (reference
        streaming_bronze.py:102 / 03_fact_tables.sql:53 ``PARTITION BY
        toYYYYMM``): every staged file holds EXACTLY ONE value tuple of
        these columns, the tuple is recorded on the add action
        (``partition``) and the columns auto-join ``stats_cols``, so
        per-file min==max and every existing stats-pruning path
        (read_pruned, MERGE/UPDATE discovery, pushFilters) becomes an
        EXACT partition pruner on these columns — Delta's
        partition-values-in-the-log design, with the data columns kept in
        the files so every reader works unchanged. Best with low-
        cardinality int/string derivations (yyyymm, region)."""
        self.spark = spark
        self.path = path
        self.partition_by = tuple(partition_by)
        self.stats_cols = tuple(stats_cols) + tuple(
            c for c in self.partition_by if c not in stats_cols
        )
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(os.path.join(path, LOG_DIR), exist_ok=True)

    # -- log plumbing -----------------------------------------------------

    def _log_path(self, version: int, checkpoint: bool = False) -> str:
        suffix = ".checkpoint.json" if checkpoint else ".json"
        return os.path.join(self.path, LOG_DIR, f"{version:020d}{suffix}")

    def _log_versions(self) -> list[int]:
        return sorted(
            int(n.split(".")[0])
            for n in os.listdir(os.path.join(self.path, LOG_DIR))
            if n.endswith(".json") and not n.endswith(".checkpoint.json")
        )

    def latest_version(self) -> int | None:
        versions = self._log_versions()
        return versions[-1] if versions else None

    def _replay(
        self, version: int | None, strict: bool = True
    ) -> tuple[dict[str, dict], dict[str, int]]:
        """One pass over the log: (live file set, txn watermarks) at
        ``version`` (default latest). Starts from the newest checkpoint at
        or below the target, then replays the tail commits — the single
        place that knows the checkpoint/replay protocol."""
        versions = self._log_versions()
        if version is None:
            if not versions:
                return {}, {}
            version = versions[-1]
        elif version == 0:
            # Commits start at version 1, so version 0 is the canonical
            # empty pre-table snapshot (Delta CDF ``startingVersion=0``
            # analog) — it lets read_changes(0, v) emit v's rows as the
            # bootstrap inserts an incremental MV needs.
            return {}, {}
        elif strict and version not in versions:
            raise FileNotFoundError(f"version {version} not in log at {self.path}")
        start = 0
        live: dict[str, dict] = {}
        txns: dict[str, int] = {}
        for v in reversed([x for x in versions if x <= version]):
            cp = self._log_path(v, checkpoint=True)
            if os.path.isfile(cp):
                with open(cp) as f:
                    state = json.load(f)
                live = state["files"]
                txns = dict(state.get("txns", {}))
                start = v + 1
                break
        for v in versions:
            if v < start or v > version:
                continue
            with open(self._log_path(v)) as f:
                for line in f:
                    action = json.loads(line)
                    if "add" in action:
                        live[action["add"]["name"]] = action["add"]
                    elif "remove" in action:
                        live.pop(action["remove"]["name"], None)
                    elif "txn" in action:
                        t = action["txn"]
                        txns[t["app"]] = max(txns.get(t["app"], -1), t["version"])
        return live, txns

    def snapshot(self, version: int | None = None) -> dict[str, dict]:
        """Live file set at ``version`` (default latest): relative file
        name -> its add-action entry."""
        return self._replay(version)[0]

    def txn_versions(self, version: int | None = None) -> dict[str, int]:
        """Writer-transaction watermarks at ``version``: app_id -> highest
        committed batch id (the Delta ``txn`` action — the state that
        makes a foreachBatch sink exactly-once under redelivery)."""
        return self._replay(version)[1]

    def history(self) -> list[dict]:
        """Commit metadata, oldest first (DESCRIBE HISTORY analog)."""
        out = []
        for v in self._log_versions():
            with open(self._log_path(v)) as f:
                for line in f:
                    action = json.loads(line)
                    if "meta" in action:
                        out.append({"version": v, **action["meta"]})
        return out

    def _commit(self, version: int, actions: list[dict]) -> None:
        """Atomically publish ``actions`` as ``version``. The payload is
        fully written and fsynced to a temp file first, then published
        with ``os.link`` — link(2) is atomic and fails with EEXIST if the
        version is taken, so a commit file is never observable without
        its complete contents and exactly one writer owns each version
        number (no torn reads for concurrent ``_replay``, no missed
        same-batch ``txn`` watermark for a redelivered batch)."""
        payload = "".join(json.dumps(a) + "\n" for a in actions)
        tmp = self._log_path(version) + f".tmp{os.getpid()}.{uuid.uuid4().hex[:8]}"
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, payload.encode())
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(tmp, self._log_path(version))
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {version} already committed at {self.path}"
            ) from e
        finally:
            os.unlink(tmp)
        if version % self.checkpoint_interval == 0:
            files, txns = self._replay(version)  # one pass for both maps
            tmp = self._log_path(version, checkpoint=True) + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "version": version,
                        "files": files,
                        "txns": txns,
                    },
                    f,
                )
            os.replace(tmp, self._log_path(version, checkpoint=True))

    def _transact(
        self,
        op: str,
        attempt,
        txn: tuple[str, int] | None = None,
        consumes: dict[str, int] | None = None,
    ):
        """The optimistic-concurrency protocol; every committing write
        runs through it. Each attempt reads the base version, checks the
        precondition on it, lets ``attempt(base, stage)`` build the
        actions against that snapshot, and commits them at base+1.

        ``attempt`` stages its data files through ``stage(df, keep=False,
        **layout)`` (the :meth:`_stage_files` layout options) and returns
        the action list, or, when there is nothing to commit, the value
        the write returns instead (anything but a list). After a lost
        race the files of a plain stage are deleted: they were built from
        a stale snapshot. ``keep=True`` marks files whose content does not
        depend on the base (append, overwrite): the next attempt's
        ``stage`` of the same frame hands them back, once the frame has
        passed the CHECK constraints at the new base, so a constraint the
        winner added still rejects the write.

        Preconditions, checked on each attempt's base (a True answer
        returns None, commits nothing and deletes what was staged):
        ``txn=(app_id, batch_id)`` is the Delta ``txn`` watermark — a
        batch id at or below the app's recorded one was already applied;
        ``consumes={app: version}`` holds when any of the apps is already
        recorded. Either way the apps ride in the commit as ``txn``
        actions. After ``COMMIT_ATTEMPTS`` lost races the write raises
        ConcurrentCommitError."""
        marks = dict(consumes or {})
        if txn is not None:
            marks[txn[0]] = txn[1]
        staged: list[dict] = []
        kept: dict[int, tuple[DataFrame, list[dict]]] = {}

        def stage(df: DataFrame, keep: bool = False, **layout) -> list[dict]:
            if keep and id(df) in kept:
                return kept[id(df)][1]
            adds = self._stage_files(df, **layout)
            if keep:
                kept[id(df)] = (df, adds)
            else:
                staged.extend(adds)
            return adds

        def discard(adds: list[dict]) -> None:
            for a in adds:
                os.remove(os.path.join(self.path, a["add"]["name"]))

        def discard_kept() -> None:
            discard([a for _df, adds in kept.values() for a in adds])

        for _ in range(COMMIT_ATTEMPTS):
            base = self.latest_version()
            if marks:
                seen = self.txn_versions(base)
                if (txn is not None and seen.get(txn[0], -1) >= txn[1]) or (
                    consumes and not seen.keys().isdisjoint(consumes)
                ):
                    discard_kept()
                    return None
            try:
                for df, _adds in kept.values():
                    self._validate(df, base)
            except ConstraintViolation:
                discard_kept()
                raise
            actions = attempt(base, stage)
            if not isinstance(actions, list):
                return actions
            actions += [{"txn": {"app": a, "version": v}} for a, v in marks.items()]
            try:
                self._commit((base or 0) + 1, actions)
                return (base or 0) + 1
            except ConcurrentCommitError:
                discard(staged)
                staged.clear()
        discard_kept()
        raise ConcurrentCommitError(
            f"{op} lost the commit race {COMMIT_ATTEMPTS} times at {self.path}"
        )

    # -- write path -------------------------------------------------------

    def _stage_files(
        self,
        df: DataFrame,
        sort_by: Sequence[str] = (),
        n_files: int | None = None,
        zorder_by: Sequence[str] = (),
    ) -> list[dict]:
        """Write ``df``'s files into the table root under unique names and
        return their add-action entries: bytes, and the row count and
        stats from each footer. Files are invisible to readers until a
        commit references them; a crash here strands orphans that
        ``vacuum`` removes.

        ``zorder_by=(a, b)`` clusters files by the Morton interleave of
        the two keys (functions/zorder.py — the Delta OPTIMIZE ZORDER
        analog): per-file [min,max] then prune on EITHER key via
        ``read_pruned``, not just the leading sort key. Mutually
        exclusive with ``sort_by``."""
        self._validate(df)
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex[:8]}")
        if self.partition_by:
            # One partition-value tuple per file: duplicate the partition
            # columns (the hive writer strips its partitioning columns —
            # the copies get stripped, the originals stay in the data),
            # co-locate each tuple with a hash repartition, then let
            # partitionBy split files exactly on value boundaries.
            # sort_by still orders rows within each partition's files.
            dups = [F.col(c).alias(f"__p_{c}") for c in self.partition_by]
            pdf = df.select("*", *dups).repartition(
                *[F.col(f"__p_{c}") for c in self.partition_by]
            )
            if sort_by:
                pdf = pdf.sortWithinPartitions(*sort_by)
            pdf.write.mode("overwrite").partitionBy(
                *[f"__p_{c}" for c in self.partition_by]
            ).parquet(staging)
        else:
            if zorder_by:
                from ..functions.zorder import zorder_cluster

                df = zorder_cluster(df, *zorder_by, n_files=n_files)
            elif sort_by and n_files == 1:
                # one file needs no range shuffle: a single sorted partition
                df = df.coalesce(1).sortWithinPartitions(*sort_by)
            elif sort_by:
                # range-partition + sort by the leading key so per-file
                # [min,max] ranges are disjoint and tight — this is what
                # makes stats-based skipping decisive for merge/read_pruned
                parts = [n_files] if n_files else []
                df = df.repartitionByRange(*parts, *sort_by).sortWithinPartitions(
                    *sort_by
                )
            elif n_files:
                df = df.coalesce(n_files)
            df.write.mode("overwrite").parquet(staging)
        adds = []
        try:
            staged = sorted(
                os.path.join(dirpath, name)
                for dirpath, _dirs, names in os.walk(staging)
                for name in names
                if name.endswith(".parquet")
            )
            for src in staged:
                unique = f"part-{uuid.uuid4().hex}.parquet"
                dst = os.path.join(self.path, unique)
                os.rename(src, dst)
                md = pq.ParquetFile(dst).metadata
                entry = {
                    "name": unique,
                    "bytes": os.path.getsize(dst),
                    "num_rows": md.num_rows,
                }
                if self.stats_cols:
                    entry["stats"] = _file_stats(md, self.stats_cols)
                if self.partition_by:
                    # exact per-file partition tuple: min==max by
                    # construction, recorded explicitly Delta-style
                    st = entry.get("stats", {})
                    entry["partition"] = {
                        c: st[c]["min"] for c in self.partition_by if c in st
                    }
                adds.append({"add": entry})
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return adds

    def _meta(
        self, op: str, df: DataFrame | None = None, base: int | None = None
    ) -> dict:
        """The commit's ``meta`` action. With ``df`` it records the
        schema: ``df``'s columns, plus those of the schema at ``base``
        (the snapshot the write builds on) that ``df`` lacks. An
        overwrite passes no base, so it replaces the schema; any other
        write keeps the columns it omits (Delta's contract), else the
        declared schema would narrow and every later read and rewrite
        would drop the values older files still store."""
        meta: dict = {"op": op, "ts": time.time()}
        if self.partition_by:
            meta["partition_by"] = list(self.partition_by)
        if df is not None:
            # Record the schema with every field nullable (recursively):
            # a lakehouse column is nullable unless constrained (Delta's
            # stance; NOT NULL here is a CHECK constraint). Otherwise an
            # INSERT of literals (non-nullable columns) would NARROW the
            # declared schema, and NULL-filled evolved columns on older
            # files would violate it at read time (executor NPE).
            schema = df.schema
            stored = self._schema_at(base) if base else None
            if stored is not None:
                have = {f.name.lower() for f in schema.fields}
                schema = StructType(
                    schema.fields
                    + [f for f in stored.fields if f.name.lower() not in have]
                )
            meta["schema"] = _all_nullable(schema).json()
        return {"meta": meta}

    def append(
        self,
        df: DataFrame,
        sort_by: Sequence[str] = (),
        n_files: int | None = None,
        zorder_by: Sequence[str] = (),
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Blind append: stages files once and on a lost commit race
        retries only the O(1) commit against the winner's snapshot
        (appends never conflict logically — EXCEPT against a concurrent
        ADD CONSTRAINT, so the staged rows are re-validated against the
        winner's constraint set first; Delta's metadata conflict check,
        same outcome). It raises ConcurrentCommitError after
        ``COMMIT_ATTEMPTS`` lost races in a row. ``n_files`` pins the
        output file count — size it for ~128 MB-1 GB per file; left
        None, AQE picks (and may coalesce small tables to one file, which
        blunts per-file stats pruning).

        ``txn=(app_id, batch_id)`` makes the append idempotent — the
        Delta ``txn`` action. The pair commits AT MOST once: a redelivered
        micro-batch (foreachBatch retry after a sink write that committed
        but a checkpoint that didn't) sees its batch id already recorded
        and becomes a no-op returning None instead of duplicating rows —
        how Delta's streaming sink gets exactly-once on top of Spark's
        at-least-once foreachBatch contract. The watermark is read at the
        pinned base version and the commit targets exactly base+1, so a
        twin delivery landing in between forces a lost race and a
        re-check."""

        def attempt(base, stage):
            adds = stage(
                df, keep=True, sort_by=sort_by, n_files=n_files, zorder_by=zorder_by
            )
            return [self._meta("append", df, base), *adds]

        return self._transact("append", attempt, txn=txn)

    def overwrite(
        self,
        df: DataFrame,
        sort_by: Sequence[str] = (),
        n_files: int | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Full refresh as one atomic commit: remove every live file, add
        the new ones. Readers see the old or the new snapshot, never a
        mix. ``txn=(app_id, batch_id)`` guards it with the Delta ``txn``
        watermark, as in :meth:`append` — the foreachBatch AGGREGATE-sink
        pattern: a redelivered batch returns None instead of clobbering a
        newer refresh."""

        def attempt(base, stage):
            adds = stage(df, keep=True, sort_by=sort_by, n_files=n_files)
            removes = [{"remove": {"name": n}} for n in self.snapshot(base)] if base else []
            return [self._meta("overwrite", df), *removes, *adds]

        return self._transact("overwrite", attempt, txn=txn)

    # -- read path --------------------------------------------------------

    def _abs(self, names) -> list[str]:
        return [os.path.join(self.path, n) for n in names]

    def _schema_at(self, version: int | None) -> StructType | None:
        """Declared schema at ``version`` (default latest): the newest
        commit at or below it that records one. Walks the log backwards,
        so it usually opens a single commit file."""
        for v in reversed(self._log_versions()):
            if version is not None and v > version:
                continue
            with open(self._log_path(v)) as f:
                for line in f:
                    meta = json.loads(line).get("meta")
                    if meta is not None and "schema" in meta:
                        return StructType.fromJson(json.loads(meta["schema"]))
        return None

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Live CHECK constraints at ``version`` (name -> SQL expr),
        replayed from the log's add/drop constraint metadata — the log is
        the only metadata store, same stance as the schema."""
        out: dict[str, str] = {}
        for m in self.history():
            if version is not None and m["version"] > version:
                break
            if m.get("op") == "add_constraint":
                out[m["constraint"]["name"]] = m["constraint"]["expr"]
            elif m.get("op") == "drop_constraint":
                out.pop(m["constraint"]["name"], None)
        return out

    def _validate(self, df: DataFrame, version: int | None = None) -> None:
        """SQL CHECK semantics against the constraints at ``version``
        (default latest): a row violates only when the expression is
        FALSE (NULL passes). One short-circuit probe per constraint —
        zero cost on unconstrained tables."""
        for name, expr in self.constraints(version).items():
            # filter(~expr) keeps exactly the FALSE rows (NULL drops out)
            bad = df.filter(~F.expr(expr)).limit(1).count()
            if bad:
                raise ConstraintViolation(
                    f"constraint {name!r} CHECK ({expr}) violated by write "
                    f"to {self.path}"
                )

    def add_constraint(self, name: str, expr: str) -> int:
        """Delta ``ALTER TABLE ADD CONSTRAINT`` analog: validate the
        EXISTING snapshot against the expression, then commit the
        constraint as metadata. Every subsequent write path stages
        through :meth:`_stage_files`, which enforces it.

        The check runs on every attempt's base: a concurrent append that
        wins the version race may have introduced violating rows (the
        write side only enforces constraints already in the log), so the
        winner's snapshot is re-checked — the mirror of write-side
        re-validation on retry."""
        meta = {
            "meta": {
                "op": "add_constraint",
                "ts": time.time(),
                "constraint": {"name": name, "expr": expr},
            }
        }

        def attempt(base, _stage):
            if name in self.constraints(base):
                raise ValueError(f"constraint {name!r} already exists")
            if base and self.snapshot(base):
                bad = self.read(base).filter(~F.expr(expr)).limit(1).count()
                if bad:
                    raise ConstraintViolation(
                        f"existing rows violate CHECK ({expr}); constraint "
                        f"{name!r} not added"
                    )
            return [meta]

        return self._transact("add_constraint", attempt)

    def create_empty(self, schema: StructType) -> int:
        """``CREATE TABLE`` with a declared schema and NO data: a
        version-1 metadata-only commit carrying the schema (nullable-
        normalized). Reads return an empty declared-schema DataFrame;
        appends/INSERTs align against it like any later commit. Delta's
        empty-table creation, log-only."""
        if self.latest_version() is not None:
            raise ValueError(f"table already exists at {self.path}")
        meta = {
            "meta": {
                "op": "create_table",
                "ts": time.time(),
                "schema": _all_nullable(schema).json(),
            }
        }
        self._commit(1, [meta])
        return 1

    def version_at_timestamp(self, ts: float) -> int:
        """Latest committed version whose commit timestamp <= ``ts``
        (``TIMESTAMP AS OF`` resolution — Delta's semantics: the state a
        reader at that wall-clock instant would have seen)."""
        best = None
        for h in self.history():
            if float(h.get("ts", 0.0)) <= ts:
                best = h["version"] if best is None else max(best, h["version"])
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {ts} in {self.path}"
            )
        return best

    def restore(self, version: int) -> int:
        """``RESTORE TABLE ... TO VERSION AS OF`` (Delta RESTORE
        semantics): a NEW commit whose live file set and declared schema
        equal the snapshot at ``version``. History rolls FORWARD — no log
        entry is deleted, so time travel to the states being undone still
        works, and a bad restore is itself restorable. Fails closed if
        vacuum already removed a file the old snapshot references.
        CHECK constraints are left at their current (latest) set — they
        guard future writes; narrowing them silently on restore would
        drop protections the operator added after ``version``."""
        if version not in self._log_versions():
            raise ValueError(f"no version {version} in {self.path}")
        target = self.snapshot(version)
        missing = [
            n for n in target if not os.path.exists(os.path.join(self.path, n))
        ]
        if missing:
            raise ValueError(
                f"cannot RESTORE to v{version}: {len(missing)} referenced "
                f"files already vacuumed (e.g. {missing[0]})"
            )
        schema = self._schema_at(version)

        def attempt(base, _stage):
            current = self.snapshot(base) if base else {}
            meta: dict = {
                "op": "restore",
                "ts": time.time(),
                "restore_version": version,
            }
            if schema is not None:
                meta["schema"] = schema.json()
            actions: list[dict] = [{"meta": meta}]
            actions += [
                {"remove": {"name": n}}
                for n in sorted(set(current) - set(target))
            ]
            actions += [
                {"add": e} for n, e in sorted(target.items()) if n not in current
            ]
            return actions

        return self._transact("restore", attempt)

    def drop_constraint(self, name: str) -> int:
        meta = {
            "meta": {
                "op": "drop_constraint",
                "ts": time.time(),
                "constraint": {"name": name},
            }
        }

        def attempt(base, _stage):
            if name not in self.constraints(base):
                raise ValueError(f"no constraint {name!r}")
            return [meta]

        return self._transact("drop_constraint", attempt)

    def alter_add_columns(self, cols_ddl: str) -> int:
        """Metadata-only schema evolution (Delta ``ALTER TABLE ... ADD
        COLUMNS``): commit the evolved schema to the log without touching
        any data file. ``cols_ddl`` is Spark DDL, e.g. ``"tier STRING,
        score DOUBLE"``; new columns are nullable and surface as NULL on
        every pre-evolution file via the declared-schema scan in
        :meth:`read` / the ``txnlog`` DataSource. O(1) commit; snapshot
        files unchanged, so time travel to pre-ALTER versions still reads
        the old schema."""
        added = StructType.fromDDL(cols_ddl)

        def attempt(base, _stage):
            # The schema comes from the attempt's base: if a concurrent
            # ALTER ADD COLUMNS wins the version race, the retry must
            # build on the WINNER's schema (else this commit would be a
            # full-replacement schema missing the winner's column — a
            # lost update), and the duplicate-name check must run against
            # the fresh schema too.
            current = self._schema_at(base) if base else None
            if current is None:
                raise FileNotFoundError(f"no committed schema at {self.path}")
            existing = {f.name.lower() for f in current.fields}
            for f in added.fields:
                if f.name.lower() in existing:
                    raise ValueError(f"column {f.name!r} already exists")
            evolved = StructType(
                current.fields
                + [StructField(f.name, f.dataType, True) for f in added.fields]
            )
            return [
                {
                    "meta": {
                        "op": "alter_add_columns",
                        "ts": time.time(),
                        "schema": evolved.json(),
                    }
                }
            ]

        return self._transact("alter_add_columns", attempt)

    def _scan(self, names: Iterable[str], version: int | None) -> DataFrame:
        """Scan the snapshot files ``names`` with the DECLARED log schema at
        ``version``: columns a file lacks (added by
        :meth:`alter_add_columns` or a later write, not in this file)
        surface as typed NULL, column order follows the log — exactly
        Delta's read-path contract. The schema comes from the log, so no
        footer-inference job runs. A log that records no schema falls
        back to inferring the union of the files' footers."""
        files = self._abs(names)
        schema = self._schema_at(version)
        if schema is None:
            return self.spark.read.option("mergeSchema", "true").parquet(*files)
        return self.spark.read.schema(schema).parquet(*files)

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot at ``version`` (default latest), read with the declared
        log schema via :meth:`_scan`: files written at different schema
        versions (streaming_bronze.py:101's ``mergeSchema`` bronze
        semantics — appends may add columns; older files surface them as
        NULL) and columns added by :meth:`alter_add_columns` that no file
        carries yet (typed NULL) line up with no footer pass."""
        files = list(self.snapshot(version))
        if not files:
            schema = self._schema_at(version)
            if schema is None:
                raise FileNotFoundError(f"no committed data at {self.path}")
            return local_frame(self.spark, schema=schema)
        return self._scan(files, version)

    def num_rows(self, version: int | None = None) -> int:
        """Row count of the snapshot at ``version`` (default latest), summed
        from the footer counts its add entries record: no Spark job. A
        file added by a log that predates those counts has its footer
        read instead."""
        return sum(
            e["num_rows"]
            if "num_rows" in e
            else pq.ParquetFile(os.path.join(self.path, n)).metadata.num_rows
            for n, e in self.snapshot(version).items()
        )

    def pruned_files(self, col: str, lo=None, hi=None, version: int | None = None) -> list[str]:
        """Data skipping: absolute paths of the live files whose [min,max]
        for ``col`` can intersect [lo,hi]. Files with no recorded stats
        are kept (never skip on missing information)."""
        return self._abs(self._pruned_names(col, lo, hi, version))

    def _pruned_names(self, col: str, lo, hi, version: int | None) -> list[str]:
        keep = []
        for name, entry in self.snapshot(version).items():
            st = entry.get("stats", {}).get(col)
            if st is None:
                keep.append(name)
                continue
            if lo is not None and st["max"] < lo:
                continue
            if hi is not None and st["min"] > hi:
                continue
            keep.append(name)
        return keep

    def detail(self) -> DataFrame:
        """DESCRIBE DETAIL analog: the live file inventory as a DataFrame
        — name, bytes, and per-tracked-column min/max/null stats (as a
        map of JSON-ish strings for type uniformity). Feeds maintenance
        decisions (what compact() will touch, how tight the ranges are)
        without opening a single data file."""
        rows = [
            (
                name,
                int(e.get("bytes", 0)),
                {
                    c: f"[{s['min']}, {s['max']}] nulls={s['nulls']}"
                    for c, s in e.get("stats", {}).items()
                },
            )
            for name, e in sorted(self.snapshot().items())
        ]
        return self.spark.createDataFrame(
            rows, "file string, bytes long, stats map<string,string>"
        )

    def pruned_files_multi(
        self, ranges: dict, version: int | None = None
    ) -> list[str]:
        """AND-composed skipping: keep files intersecting EVERY
        ``{col: (lo, hi)}`` range (None bounds are open). With Z-ordered
        files this is the two-key point-lookup path."""
        keep = set(self._abs(self.snapshot(version)))
        for col, (lo, hi) in ranges.items():
            keep &= set(self.pruned_files(col, lo, hi, version))
        return sorted(keep)

    def read_pruned(self, col: str, lo=None, hi=None) -> DataFrame:
        """Range read that skips non-intersecting files before Spark ever
        lists them, then applies the exact residual filter."""
        files = self._pruned_names(col, lo, hi, None)
        if not files:
            schema = self._schema_at(None)
            if schema is None:
                raise FileNotFoundError(f"no committed data at {self.path}")
            return local_frame(self.spark, schema=schema)
        df = self._scan(files, None)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        pks: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change Data Feed (Delta CDF analog): NET row-level changes
        between two snapshots, computed from the FILE diff alone — files
        present in both snapshots are never opened, so after a file-level
        merge the scan is O(changed files), which is what makes
        incremental MV refresh cheaper than recompute at 100 TB.

        Output = the table columns plus ``_change_type``:
        ``insert`` / ``delete`` when ``pks`` is None (file-diff rows that
        vanished vs appeared); with ``pks`` the key-matched pairs are
        reclassified ``update_preimage`` / ``update_postimage``.

        Rows that were merely REWRITTEN unchanged (co-located in a file a
        merge touched) are cancelled by exceptAll before classification —
        a file-only diff would misreport them as delete+insert."""
        snap_a = self.snapshot(from_version)
        snap_b = self.snapshot(to_version)
        removed = set(snap_a) - set(snap_b)
        added = set(snap_b) - set(snap_a)
        schema = self._schema_at(to_version)
        if schema is None:
            raise FileNotFoundError(f"no committed data at {self.path}")
        empty = local_frame(self.spark, schema=schema)
        # each side reads with ITS OWN version's log schema: the diff may
        # straddle a schema evolution (older files lack later-added
        # columns, which surface as NULL), and no footer is inferred
        old = self._scan(removed, from_version) if removed else empty
        new = self._scan(added, to_version) if added else empty
        # align to the UNION of columns; a column absent on one side
        # surfaces as NULL there (so materializing a value in a new
        # column IS a change, which is the honest CDF semantics)
        cols = list(dict.fromkeys([*old.columns, *new.columns]))
        types = {f.name: f.dataType for f in [*old.schema.fields, *new.schema.fields]}
        old = old.select(
            *[
                F.col(c) if c in old.columns else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )
        new = new.select(
            *[
                F.col(c) if c in new.columns else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )
        gone = old.exceptAll(new)  # deletes + update preimages
        came = new.exceptAll(old)  # inserts + update postimages
        if not pks:
            return gone.withColumn("_change_type", F.lit("delete")).unionByName(
                came.withColumn("_change_type", F.lit("insert"))
            )
        gone_keys = gone.select(*pks).distinct()
        came_keys = came.select(*pks).distinct()
        both = gone_keys.join(came_keys, list(pks), "inner")
        pre = gone.join(both, list(pks), "left_semi").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        dele = gone.join(both, list(pks), "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        post = came.join(both, list(pks), "left_semi").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        ins = came.join(both, list(pks), "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        return pre.unionByName(dele).unionByName(post).unionByName(ins)

    # -- file-level merge -------------------------------------------------

    def files_touched_by_keys(
        self, keys_df: DataFrame, key: str, base_version: int
    ) -> set[str]:
        """Stats-pruned candidate set: live files whose per-file
        [min,max] range on ``key`` contains at least one value of
        ``keys_df``'s ``key`` column (files without stats are always
        candidates). Runs as a broadcast range-join of the (small,
        O(#files)) stats list against the keys — no driver-side key
        collection, so it holds when keys_df carries millions of keys; the
        distinct over the hit files dedups repeated keys. Shared by
        merge() and the SQL MERGE surface (dml.py)."""
        snap = self.snapshot(base_version)
        ranged = {
            n: e["stats"][key] for n, e in snap.items() if e.get("stats", {}).get(key) is not None
        }
        touched = set(snap) - set(ranged)
        if ranged:
            ranges_df = local_frame(
                self.spark,
                pa.table(
                    {
                        "_file": list(ranged),
                        "_min": [st["min"] for st in ranged.values()],
                        "_max": [st["max"] for st in ranged.values()],
                    }
                ),
            )
            hits = (
                keys_df.select(F.col(key).alias("_k"))
                .join(
                    F.broadcast(ranges_df),
                    (F.col("_k") >= F.col("_min")) & (F.col("_k") <= F.col("_max")),
                )
                .select("_file")
                .distinct()
                .collect()
            )
            touched |= {r["_file"] for r in hits}
        return touched

    def merge(
        self,
        updates: DataFrame | None,
        pks: Sequence[str],
        order_col: str,
        deleted_col: str = "_deleted",
        txns: dict[str, int] | None = None,
    ) -> int | None:
        """File-level MERGE (DeltaTable.merge cost profile,
        batch_silver.py:146-159): rewrite ONLY files whose ``pks[0]``
        range contains at least one update key; every other live file is
        untouched — byte-identical, same log entry. The rewrite is sized
        like compact(): one file per ``TARGET_FILE_BYTES`` of touched
        files, at least one.

        Candidate selection runs as a broadcast range-join of the
        (small, O(#files)) stats list against the updates' keys — no
        driver-side key collection, so it holds when updates carry
        millions of keys. On a commit conflict the whole merge re-executes
        against the winner's snapshot (serializable outcome).

        ``txns`` ({app: version}) are recorded as ``txn`` actions in the
        same commit: the consumed-input watermark of an incremental
        caller. If any of those apps is already recorded at the base
        snapshot, another writer consumed that input first; nothing is
        committed and the merge returns None. ``updates=None`` commits a
        metadata-only ``merge`` version (with ``txns``) and runs no job.
        """
        key = pks[0]

        def attempt(base, stage):
            if updates is None:
                return [self._meta("merge")]
            touched: set[str] = set()
            n_files = None
            if base is not None:
                snap = self.snapshot(base)
                touched = self.files_touched_by_keys(updates, key, base)
                n_files = max(
                    1, sum(snap[n].get("bytes", 0) for n in touched) // TARGET_FILE_BYTES
                )
            current = self._scan(touched, base) if touched else None
            # drop the soft-delete flag from the STORED table: deleted
            # rows are already filtered, and keeping a constant-False
            # column would fork the snapshot schema between tables
            # written before vs after the first delete arrived
            merged = merge_upsert(current, updates, pks, order_col, deleted_col).drop(
                deleted_col
            )
            adds = stage(merged, sort_by=[key], n_files=n_files)
            removes = [{"remove": {"name": n}} for n in sorted(touched)]
            return [self._meta("merge", merged, base), *removes, *adds]

        return self._transact("merge", attempt, consumes=txns)

    def _discovery_candidates(self, condition: str, base_version: int) -> list[str]:
        """File set the verifying discovery scan must read (VERDICT r4
        task 2): range/equality conjuncts over stats-tracked columns seed
        the candidates via :meth:`pruned_files_multi` — a 1%-key-range
        DELETE/UPDATE reads ~1% of files, the same discipline as merge's
        ``files_touched_by_keys`` — with the full snapshot as the
        fallback for opaque predicates. Pruning is file-granular and
        conservative; the verifying scan still applies the exact
        predicate, so this is never a semantics change."""
        bounds = _stats_bounds_from_condition(condition, self.stats_cols)
        if bounds:
            try:
                return sorted(
                    os.path.basename(p)
                    for p in self.pruned_files_multi(bounds, base_version)
                )
            except TypeError:
                pass  # literal incomparable with stats: never skip
        return sorted(self.snapshot(base_version))

    def _rewrite_where(self, op: str, condition: str, rewrite) -> int:
        """File-level DELETE/UPDATE: stats-seeded candidates, then a
        verifying scan over ONLY the candidates finds the files actually
        containing matching rows (via ``_metadata.file_path`` — one
        distributed scan, no driver data), and only those are rewritten
        as ``rewrite(rows, hit)``, ``hit`` being the condition with NULL
        read as false. Files with no matching row keep their exact bytes;
        with none at all nothing is committed and the base version is
        returned.

        A lost commit race RE-EXECUTES the rewrite against the winner's
        snapshot (a blind version-bump retry would replay removes/keeps
        computed from a stale file set and resurrect rows a concurrent
        merge rewrote — the write must be serialized AFTER the winner)."""

        def attempt(base, stage):
            if base is None:
                raise FileNotFoundError(f"no committed data at {self.path}")
            cand = self._discovery_candidates(condition, base)
            if not cand:
                return base
            hits = (
                self._scan(cand, base)
                .filter(condition)
                .select(F.col("_metadata.file_path").alias("f"))
                .distinct()
                .collect()
            )
            if not hits:
                return base
            touched = {os.path.basename(r["f"].replace("file://", "")) for r in hits}
            out = rewrite(
                self._scan(touched, base), F.coalesce(F.expr(condition), F.lit(False))
            )
            adds = stage(out, sort_by=list(self.stats_cols[:1]))
            removes = [{"remove": {"name": n}} for n in sorted(touched)]
            return [self._meta(op, out, base), *removes, *adds]

        return self._transact(op, attempt)

    def delete_where(self, condition: str) -> int:
        """File-level DELETE (see :meth:`_rewrite_where`): the touched
        files keep the rows where the condition is NOT TRUE — a bare
        NOT(cond) would drop NULL-evaluating rows from both sides (silent
        loss)."""
        return self._rewrite_where("delete", condition, lambda rows, hit: rows.filter(~hit))

    def update_where(self, condition: str, assignments: dict[str, str]) -> int:
        """File-level UPDATE (Delta ``UPDATE t SET ... WHERE ...``, see
        :meth:`_rewrite_where`): the touched files apply each ``col -> SQL
        expr`` assignment to the matching rows and keep the rest
        verbatim."""

        def rewrite(rows: DataFrame, hit) -> DataFrame:
            return rows.select(
                *[
                    F.when(hit, F.expr(assignments[c]).cast(dt)).otherwise(F.col(c)).alias(c)
                    if c in assignments
                    else F.col(c)
                    for c, dt in rows.dtypes
                ]
            )

        return self._rewrite_where("update", condition, rewrite)

    # -- maintenance ------------------------------------------------------

    def compact(
        self,
        max_file_bytes: int = TARGET_FILE_BYTES,
        zorder_by: Sequence[str] = (),
    ) -> int | None:
        """OPTIMIZE: bin-pack the files SMALLER than ``max_file_bytes``
        into full-size sorted files in one atomic commit (remove smalls +
        add packed). Already-large files are left alone — their bytes and
        log entries are untouched, so a steady-state table converges
        instead of rewriting itself forever. Readers time-travel across
        the compaction freely; data content is identical before/after
        (the test asserts the full-row multiset).

        This is the maintenance op a streaming txnlog sink needs: high-
        frequency appends accumulate small files, and small files poison
        both scan planning (task per file) and stats pruning (overlapping
        tiny ranges). Returns the new version, or None if <2 small files.

        ``zorder_by=(a, b)`` is ``OPTIMIZE ... ZORDER BY``: rewrite ALL
        live files clustered by the Morton interleave of the two keys
        (functions/zorder.py) so later scans prune on EITHER key; the
        small-file threshold is ignored — a re-cluster is whole-table by
        definition (Delta's OPTIMIZE ZORDER contract).
        """
        if zorder_by:
            # stats on BOTH z-keys are the point of the re-cluster —
            # pruning on either key needs its per-file [min,max]
            self.stats_cols = tuple(dict.fromkeys([*self.stats_cols, *zorder_by]))

        # The commit is pinned to base+1: ANY interleaved commit (e.g. a
        # merge that rewrote one of our source files) forces a conflict
        # and a full re-execution — committing at a later version would
        # silently re-add the stale pre-merge rows.
        def attempt(base, stage):
            if base is None:
                return None
            snap = self.snapshot(base)
            if zorder_by:
                small = sorted(snap)
                if not small:
                    return None
            else:
                small = [
                    n for n, e in snap.items()
                    if e.get("bytes", 0) < max_file_bytes
                ]
                if len(small) < 2:
                    return None
            n_out = int(
                max(1, sum(snap[n].get("bytes", 0) for n in small) // max_file_bytes)
            )
            # declared-schema scan, NOT bare spark.read.parquet:
            # after ALTER ADD COLUMNS the smalls may straddle the
            # evolution — first-file-wins inference would silently drop
            # evolved-column values from newer files (same hazard ADVICE
            # r4 flagged for MERGE's touched-file read)
            df = self._scan(small, base)
            if zorder_by:
                adds = stage(df, zorder_by=tuple(zorder_by))
            else:
                adds = stage(df, sort_by=list(self.stats_cols[:1]), n_files=n_out)
            removes = [{"remove": {"name": n}} for n in sorted(small)]
            return [self._meta("optimize"), *removes, *adds]

        return self._transact("compact", attempt)

    def layout_report(self, col: str | None = None) -> dict:
        """Layout/clustering audit over the current snapshot — what an
        OPTIMIZE decision needs, computed from log metadata only (no data
        read, O(F log F) driver work — the same envelope as log replay):

        - file-count and byte-size distribution (small files poison scan
          planning: one task per file);
        - for ``col`` (default: the leading stats column): the fraction
          of files whose [min,max] range overlaps at least one other
          file's range, via a sorted interval sweep. 0.0 = perfectly
          clustered (range-pruning touches the minimum possible file
          set); near 1.0 = ranges interleave and stats pruning degrades
          to full scans — run compact()/Z-order.
        """
        snap = self.snapshot()
        sizes = sorted(e.get("bytes", 0) for e in snap.values())
        n = len(sizes)
        report: dict = {
            "n_files": n,
            "total_bytes": sum(sizes),
            "p50_bytes": sizes[n // 2] if n else 0,
            "max_bytes": sizes[-1] if n else 0,
        }
        col = col or (self.stats_cols[0] if self.stats_cols else None)
        if col is not None:
            ranges = sorted(
                (e["stats"][col]["min"], e["stats"][col]["max"])
                for e in snap.values()
                if e.get("stats", {}).get(col) is not None
            )
            overlapping = 0
            prev_max = None
            prev_overlapped = False
            for lo, hi in ranges:
                if prev_max is not None and lo <= prev_max:
                    overlapping += 1 + (not prev_overlapped)
                    prev_overlapped = True
                else:
                    prev_overlapped = False
                prev_max = hi if prev_max is None else max(prev_max, hi)
            report.update(
                {
                    "stats_col": col,
                    "n_ranged_files": len(ranges),
                    "n_overlapping_files": overlapping,
                    "overlap_fraction": (
                        round(overlapping / len(ranges), 4) if ranges else 0.0
                    ),
                }
            )
        return report

    def vacuum(self, retain_versions: int = 0, retention_seconds: float = 3600.0) -> int:
        """Delete data files referenced by NO snapshot in the retained
        window [latest-retain, latest] — crash orphans and files removed
        by overwrite/merge/delete. Time travel older than the window stops
        working (exactly Delta VACUUM's trade). Returns files deleted.

        ``retention_seconds`` is the Delta ``retentionDurationCheck``
        analog: only unreferenced files/staging dirs whose mtime is older
        than the window are deleted. The write protocol stages files into
        the table root *before* the commit that references them, so a
        vacuum concurrent with an in-flight append/merge would otherwise
        delete files the winning commit is about to reference and corrupt
        the snapshot permanently. Pass ``retention_seconds=0`` only with
        exclusive access (tests do)."""
        latest = self.latest_version()
        if latest is None:
            return 0
        versions = [v for v in self._log_versions() if v >= latest - retain_versions]
        referenced: set[str] = set()
        for v in versions:
            referenced |= set(self.snapshot(v))
        cutoff = time.time() - retention_seconds
        removed = 0
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            try:
                if os.path.getmtime(full) > cutoff:
                    continue  # possibly an in-flight writer's staged file
            except OSError:
                continue  # raced with a concurrent rename/commit — skip
            if name.endswith(".parquet") and name not in referenced:
                os.remove(full)
                removed += 1
            elif name.startswith("_staging_"):
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return removed
