"""SQL DML text surface over the transaction log (VERDICT r3 task 5).

The reference's user-visible MERGE is API-level (`DeltaTable.merge`,
batch_silver.py:146-159) *and* SQL-level (`spark.sql("MERGE INTO ...")`
works against any Delta catalog table). The txnlog layer reproduced the
API but a user typing SQL DML had no entry point. This module closes
that: :func:`execute_dml` parses the DML statement shapes and
routes them to ``TransactionLogTable`` operations — a thin parser, no
Catalyst work, exactly the scope a lakehouse user needs:

- ``MERGE INTO t [AS a] USING s [AS b] ON <equi-conjunction>
  [WHEN MATCHED [AND <cond>] THEN UPDATE SET * | SET c = expr, ...]
  [WHEN MATCHED [AND <cond>] THEN DELETE]
  [WHEN NOT MATCHED [AND <cond>] THEN INSERT * | (cols) VALUES (exprs)]``
  → a generic file-level merge: candidate files stats-pruned on the
  first join key (``files_touched_by_keys`` — the same broadcast
  range-join ``TransactionLogTable.merge`` uses), WHEN clauses applied
  first-match-wins, untouched files keep their bytes, one atomic commit
  with optimistic-concurrency retry. Duplicate source matches for one
  target row raise (the Delta/SQL-standard cardinality rule).
- ``INSERT INTO t SELECT ...`` / ``INSERT INTO t VALUES (...), (...)``
  → the SELECT runs through ``spark.sql`` (temp views resolve), the
  result is aligned POSITIONALLY to the target schema (names renamed,
  types cast — SQL INSERT semantics) and appended as one atomic commit.
- ``UPDATE t SET c = expr[, ...] [WHERE <pred>]`` →
  ``TransactionLogTable.update_where`` (file-level: only files holding
  matching rows are rewritten).
- ``DELETE FROM t [WHERE <pred>]`` → ``TransactionLogTable.delete_where``.

Name resolution: target names resolve through the ``tables`` mapping
(name → TransactionLogTable); MERGE sources resolve through ``sources``
(name → DataFrame) falling back to the session's temp views, and
``USING (SELECT ...) [AS] alias`` subquery sources run through
``spark.sql`` (temp views resolve inside the subquery) into the same
DataFrame-source path.

ON-clause shape: a top-level AND conjunction. ``alias.col = alias.col``
equality conjuncts become the merge keys (the FIRST seeds the stats-
pruned candidate-file discovery, ``files_touched_by_keys``); every
other conjunct — range comparisons, expressions, ``t.ts < s.ts`` — is a
NON-EQUI RESIDUAL evaluated as part of the full join condition (match =
equalities AND residuals, standard MERGE semantics: a source row that
matches the keys but fails a residual is NOT MATCHED). Residual-only ON
(zero equalities) is accepted and falls back to all-files candidate
discovery — correct but unpruned, the same cost Delta pays for a
non-equi-only MERGE. Remaining limit (parser-enforced): clause
predicates must not contain the bare token ``WHEN`` (no CASE WHEN
inside merge conditions).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .txnlog import TransactionLogTable, local_frame

_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>\w+)(?:\s+(?:AS\s+)?(?P<talias>\w+))?"
    r"\s+USING\s+(?P<source>\w+)(?:\s+(?:AS\s+)?(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>.+?)(?P<clauses>\bWHEN\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_MATCHED_RE = re.compile(
    r"^\s*MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?:(?P<delete>DELETE)|UPDATE\s+SET\s+(?P<sets>.+?))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_NOT_MATCHED_RE = re.compile(
    r"^\s*NOT\s+MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+INSERT\s+"
    r"(?:(?P<star>\*)|\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.+)\))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<target>\w+)\s+(?P<rest>(?:SELECT|VALUES|\().+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<target>\w+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<target>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EQ_RE = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")
_AND_RE = re.compile(r"(?i)^AND\b")


def _split_top_and(text: str) -> list[str]:
    """Split a predicate on top-level ``AND`` only — ``AND`` inside
    parentheses (subexpressions, function args) stays put."""
    parts, depth, start, i, n = [], 0, 0, 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and ch in "Aa"
            and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_"))
            and _AND_RE.match(text[i:])
            and (i + 3 >= n or not (text[i + 3].isalnum() or text[i + 3] == "_"))
        ):
            parts.append(text[start:i])
            i += 3
            start = i
            continue
        i += 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


@dataclass
class _MatchedClause:
    cond: str | None  # extra AND predicate, qualified by the aliases
    delete: bool
    sets: dict[str, str] = field(default_factory=dict)  # col -> expr ('*' pre-expanded)


@dataclass
class _NotMatchedClause:
    cond: str | None
    sets: dict[str, str] | None  # None => INSERT * (by-name from source)


def _split_assignments(text: str) -> dict[str, str]:
    """``a = expr, b = expr`` -> {a: expr}. Top-level comma split (the
    supported expression grammar keeps commas inside parentheses)."""
    out: dict[str, str] = {}
    depth, start, parts = 0, 0, []
    for i, ch in enumerate(text):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    for part in parts:
        col, _, expr = part.partition("=")
        if not expr:
            raise ValueError(f"malformed assignment: {part!r}")
        col = col.strip()
        # allow 'a.col = ...' qualification of the target column
        col = col.split(".")[-1]
        out[col] = expr.strip()
    return out


_USING_SUB_RE = re.compile(r"\bUSING\s*\(", re.IGNORECASE)


def _extract_using_subquery(sql: str) -> tuple[str, str | None]:
    """``USING (SELECT ...) [AS] alias`` → rewrite to ``USING alias`` and
    return the subquery text (VERDICT r4 task 6 — the first Delta-SQL
    shape a porting user hits). Balanced-paren scan, so nested
    parentheses inside the subquery are fine; the subquery itself runs
    through ``spark.sql`` in :func:`_exec_merge`."""
    m = _USING_SUB_RE.search(sql)
    if not m:
        return sql, None
    depth, i = 1, m.end()
    while i < len(sql) and depth:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError(f"unbalanced parentheses in MERGE USING: {sql!r}")
    sub = sql[m.end() : i - 1].strip()
    if not re.match(r"^(SELECT|WITH)\b", sub, re.IGNORECASE):
        raise ValueError(
            f"MERGE USING (...) must wrap a SELECT/WITH subquery; got {sub!r}"
        )
    am = re.match(r"\s*(?:AS\s+)?(\w+)", sql[i:], re.IGNORECASE)
    if not am or am.group(1).upper() == "ON":
        raise ValueError("MERGE USING (subquery) requires an alias")
    rewritten = sql[: m.start()] + f"USING {am.group(1)}" + sql[i + am.end() :]
    return rewritten, sub


def _parse_merge(sql: str):
    m = _MERGE_RE.match(sql.strip().rstrip(";"))
    if not m:
        raise ValueError(f"unparseable MERGE statement: {sql!r}")
    on = m.group("on").strip()
    keys: list[tuple[str, str]] = []
    talias = m.group("talias") or m.group("target")
    salias = m.group("salias") or m.group("source")
    # equality conjuncts become merge keys (the first drives candidate-
    # file pruning); anything else is a non-equi residual left inside
    # the full ON expression (evaluated by the join itself)
    for part in _split_top_and(on):
        eq = _EQ_RE.match(part)
        if eq:
            a1, c1, a2, c2 = eq.groups()
            pair = {a1: c1, a2: c2}
            if set(pair) == {talias, salias}:
                keys.append((pair[talias], pair[salias]))
    matched: list[_MatchedClause] = []
    not_matched: list[_NotMatchedClause] = []
    raw = re.split(r"(?i)\bWHEN\b", m.group("clauses"))
    for chunk in raw:
        if not chunk.strip():
            continue
        mm = _MATCHED_RE.match(chunk)
        if mm:
            sets = {}
            if not mm.group("delete"):
                text = mm.group("sets").strip()
                sets = {"*": "*"} if text == "*" else _split_assignments(text)
            matched.append(
                _MatchedClause(mm.group("cond"), bool(mm.group("delete")), sets)
            )
            continue
        nm = _NOT_MATCHED_RE.match(chunk)
        if nm:
            if nm.group("star"):
                not_matched.append(_NotMatchedClause(nm.group("cond"), None))
            else:
                cols = [c.strip().split(".")[-1] for c in nm.group("cols").split(",")]
                vals_text = nm.group("vals")
                vals = list(_split_assignments(
                    ", ".join(f"_c{i} = {v}" for i, v in enumerate(
                        _split_csv(vals_text)))
                ).values())
                if len(cols) != len(vals):
                    raise ValueError("INSERT column/value count mismatch")
                not_matched.append(
                    _NotMatchedClause(nm.group("cond"), dict(zip(cols, vals)))
                )
            continue
        raise ValueError(f"unparseable WHEN clause: {chunk!r}")
    return (
        m.group("target"),
        talias,
        m.group("source"),
        salias,
        on,
        keys,
        matched,
        not_matched,
    )


def _split_csv(text: str) -> list[str]:
    out, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(text[start:i].strip())
            start = i + 1
    out.append(text[start:].strip())
    return out


def _exec_merge(
    spark: SparkSession,
    sql: str,
    tables: dict[str, TransactionLogTable],
    sources: dict[str, DataFrame],
) -> int:
    sql, subquery = _extract_using_subquery(sql)
    tname, ta, sname, sa, on, keys, matched_cls, not_matched_cls = _parse_merge(sql)
    t = tables[tname]
    if subquery is not None:
        src = spark.sql(subquery)
    else:
        src = sources.get(sname)
        if src is None:
            src = spark.table(sname)
    tkey, skey = keys[0] if keys else (None, None)
    sort_by = [tkey] if tkey else ()

    def q(alias: str, col: str) -> F.Column:
        return F.col(f"{alias}.{col}")

    def attempt(base_version, stage):
        if base_version is None:
            # empty target: every source row is NOT MATCHED
            inserts = _insert_rows(None, src.alias(sa), sa, not_matched_cls, None)
            if inserts is None:
                return 0
            return [t._meta("merge_sql", inserts), *stage(inserts, sort_by=sort_by)]
        if keys:
            touched = t.files_touched_by_keys(
                src.select(F.col(skey).alias(tkey)), tkey, base_version
            )
        else:
            # residual-only ON: no key to prune on — every live file is
            # a candidate (the cost Delta pays for a non-equi MERGE too)
            touched = set(t.snapshot(base_version))
        # Declared-schema read (NOT bare spark.read.parquet): after ALTER
        # ADD COLUMNS the touched files may predate the evolved schema —
        # first-file-wins inference would silently drop evolved-column
        # values from newer files and make UPDATE SET on an evolved
        # column a no-op (absent from tcols). _scan reads with the log
        # schema at base_version (evolved columns NULL-fill), matching
        # update_where/delete_where.
        current = (
            t._scan(touched, base_version)
            if touched
            else local_frame(spark, schema=t._schema_at(base_version))
        )
        tcols = current.columns
        ttypes = dict(current.dtypes)
        cur = current.withColumn("_tid", F.monotonically_increasing_id()).alias(ta)
        sdf = src.alias(sa)
        on_expr = F.expr(on)
        joined = cur.join(sdf, on_expr, "inner")
        # SQL-standard cardinality rule: >1 source match for one target
        # row is an error, not a nondeterministic winner
        dup = (
            joined.groupBy(q(ta, "_tid"))
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "MERGE: a target row matches multiple source rows "
                "(ON is not unique on the source side)"
            )
        # first-match-wins action index over the matched clauses
        action = F.lit(-1)
        for i in range(len(matched_cls) - 1, -1, -1):
            cond = (
                F.coalesce(F.expr(matched_cls[i].cond), F.lit(False))
                if matched_cls[i].cond
                else F.lit(True)
            )
            action = F.when(cond, F.lit(i)).otherwise(action)
        tagged = joined.withColumn("_action", action)
        pieces = []
        # untouched-by-clause matched rows + unmatched target rows
        pieces.append(
            tagged.filter(F.col("_action") == -1).select(
                *[q(ta, c).alias(c) for c in tcols]
            )
        )
        pieces.append(
            cur.join(sdf, on_expr, "left_anti").select(
                *[q(ta, c).alias(c) for c in tcols]
            )
        )
        for i, cl in enumerate(matched_cls):
            rows = tagged.filter(F.col("_action") == i)
            if cl.delete:
                continue  # dropped
            sets = cl.sets
            if "*" in sets:
                sets = {c: f"{sa}.{c}" for c in tcols}
            pieces.append(
                rows.select(
                    *[
                        F.expr(sets[c]).cast(ttypes[c]).alias(c)
                        if c in sets
                        else q(ta, c).alias(c)
                        for c in tcols
                    ]
                )
            )
        inserts = _insert_rows(
            cur, sdf, sa, not_matched_cls, on_expr, tcols, ttypes
        )
        if inserts is not None:
            pieces.append(inserts)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        adds = stage(out, sort_by=sort_by)
        removes = [{"remove": {"name": n}} for n in sorted(touched)]
        return [t._meta("merge_sql", out, base_version), *removes, *adds]

    return t._transact("SQL MERGE", attempt)


def _insert_rows(
    cur, sdf, sa, not_matched_cls, on_expr, tcols=None, ttypes=None
):
    """NOT MATCHED source rows projected onto the target schema (or the
    raw source schema when the target is empty and has none yet)."""
    if not not_matched_cls:
        return None
    unmatched = sdf if cur is None else sdf.join(cur, on_expr, "left_anti")
    pieces = []
    remaining = unmatched
    for cl in not_matched_cls:
        if cl.cond:
            cond = F.coalesce(F.expr(cl.cond), F.lit(False))
            rows = remaining.filter(cond)
            remaining = remaining.filter(~cond)
        else:
            rows = remaining
            remaining = remaining.filter(F.lit(False))
        if cl.sets is None:  # INSERT *: by-name from source
            if tcols is None:
                pieces.append(rows.select("*"))
            else:
                pieces.append(
                    rows.select(
                        *[
                            F.col(f"{sa}.{c}").cast(ttypes[c]).alias(c)
                            for c in tcols
                        ]
                    )
                )
        else:
            cols = tcols if tcols is not None else list(cl.sets)
            types = ttypes or {}
            pieces.append(
                rows.select(
                    *[
                        (
                            F.expr(cl.sets[c]).cast(types[c])
                            if c in types
                            else F.expr(cl.sets[c])
                        ).alias(c)
                        if c in cl.sets
                        else F.lit(None).cast(types.get(c, "string")).alias(c)
                        for c in cols
                    ]
                )
            )
    if not pieces:
        return None
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _exec_insert(spark: SparkSession, sql: str, tables) -> int:
    m = _INSERT_RE.match(sql)
    if not m:
        raise ValueError(f"unparseable INSERT statement: {sql!r}")
    t = tables[m.group("target")]
    rest = m.group("rest").strip()
    if rest.upper().startswith("VALUES"):
        df = spark.sql(f"SELECT * FROM ({rest})")
    else:
        df = spark.sql(rest)
    schema = t._schema_at(None)
    if schema is not None:
        if len(df.columns) != len(schema.fields):
            raise ValueError(
                f"INSERT column count {len(df.columns)} != target "
                f"schema width {len(schema.fields)}"
            )
        # positional alignment, SQL INSERT semantics: rename + cast
        df = df.select(
            *[
                F.col(c).cast(fld.dataType).alias(fld.name)
                for c, fld in zip(df.columns, schema.fields)
            ]
        )
    return t.append(df, sort_by=list(t.stats_cols[:1]))


def execute_dml(
    spark: SparkSession,
    sql: str,
    tables: dict[str, TransactionLogTable],
    sources: dict[str, DataFrame] | None = None,
) -> int:
    """Execute one DML statement (MERGE INTO / INSERT INTO / UPDATE /
    DELETE) against transaction-log tables; returns the committed
    version."""
    sources = sources or {}
    head = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
    if head == "MERGE":
        return _exec_merge(spark, sql, tables, sources)
    if head == "INSERT":
        return _exec_insert(spark, sql, tables)
    if head == "UPDATE":
        m = _UPDATE_RE.match(sql)
        if not m:
            raise ValueError(f"unparseable UPDATE statement: {sql!r}")
        t = tables[m.group("target")]
        return t.update_where(
            m.group("where") or "true", _split_assignments(m.group("sets"))
        )
    if head == "DELETE":
        m = _DELETE_RE.match(sql)
        if not m:
            raise ValueError(f"unparseable DELETE statement: {sql!r}")
        return tables[m.group("target")].delete_where(m.group("where") or "true")
    raise ValueError(f"unsupported DML statement: {sql!r}")
