"""Local differential harness — mimics the driver's correctness gate.

For every registered query: run the Spark plan and the DuckDB oracle on the
same parquet tables, then compare row count, column names/dtypes, and exact
values after sorting rows (strictly stronger than the driver's
order-insensitive value hash — if this passes, the driver's hash matches).

Usage:  python tools/diffcheck.py [sf_dir] [query ...]
        python tools/diffcheck.py --touched <git-ref> [sf_dir] [query ...]

``--touched`` checks the queries a change touches: the files in
``git diff --name-only <git-ref>`` (plus untracked files) select
registered queries — a changed builder module selects the queries it
defines and those of every builder module that imports it, directly or
through another builder; any other changed package module (``catalog.py``,
``session.py``, ``sources/``, shared helpers) or ``__spark_entry__.py``
selects every query. Given query names narrow that selection. The
selected queries are diffed at sf0.001, sf0.01 and sf0.1 (siblings of
``sf_dir``), then run through ``tools/tz_probe.py`` at sf0.01, which
uses a vanilla non-UTC session.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
PACKAGE = "end_to_end_data_lakehouse_pipeline_spark/"
TOUCHED_SFS = ("sf0.001", "sf0.01", "sf0.1")

import duckdb
import numpy as np
import pandas as pd


def load_oracle(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    from end_to_end_data_lakehouse_pipeline_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            s = s.map(lambda v: None if v is None else str(v))
        elif str(s.dtype).startswith(("datetime", "date")):
            s = s.astype("datetime64[us]").astype(str)
        elif s.dtype.kind in "iu":
            s = s.astype("int64")
        elif s.dtype.kind == "f":
            s = s.astype("float64")
        elif s.dtype.kind == "b":
            s = s.astype("int64")
        out[c] = s
    norm = pd.DataFrame(out)
    return norm.sort_values(by=list(norm.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
        return problems
    sdt = {c: spark_pdf[c].dtype.kind for c in sc}
    odt = {c: oracle_pdf[c].dtype.kind for c in oc}
    for c in sc:
        # int vs float is a real mismatch; everything object-ish is fine
        if sdt[c] != odt[c] and {sdt[c], odt[c]} <= {"i", "u", "f"} and sdt[c] != odt[c]:
            if {sdt[c], odt[c]} == {"i", "u"}:
                continue
            problems.append(f"dtype[{c}] spark={spark_pdf[c].dtype} oracle={oracle_pdf[c].dtype}")
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f":
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
            if not eq.all():
                idx = (~eq).idxmax()
                diff = np.nanmax(np.abs(av.fillna(0) - bv.fillna(0)))
                problems.append(
                    f"values[{c}] first mismatch row {idx}: "
                    f"spark={av[idx]!r} oracle={bv[idx]!r} maxabsdiff={diff:g}"
                )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"values[{c}] first mismatch row {idx}: spark={av[idx]!r} oracle={bv[idx]!r}"
                )
    return problems


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    ref = None
    if "--touched" in argv:
        i = argv.index("--touched")
        ref = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    from end_to_end_data_lakehouse_pipeline_spark import plans
    from end_to_end_data_lakehouse_pipeline_spark.session import get_spark

    specs = plans.specs()
    if ref is None:
        names = [n for n in specs if not only or n in only]
        return 1 if check(get_spark("diffcheck"), sf_dir, specs, names, json_out) else 0
    names = [n for n in touched_queries(changed_files(ref), specs) if not only or n in only]
    print(f"{len(names)} queries touched since {ref}: {' '.join(names)}")
    if not names:
        return 0
    spark = get_spark("diffcheck")
    root = os.path.dirname(sf_dir.rstrip("/"))
    failed = {}
    for sf in TOUCHED_SFS:
        print(f"\n== {sf}")
        failed[sf] = check(spark, os.path.join(root, sf), specs, names)
    spark.stop()  # the probe starts its own vanilla session
    probe = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "tz_probe.py"), os.path.join(root, "sf0.01"), *names]
    )
    print(f"\ntouched: {len(names)} queries; failed per sf: {failed}; tz probe exit {probe.returncode}")
    return 1 if any(failed.values()) or probe.returncode else 0


def changed_files(ref: str) -> list[str]:
    """Repo-relative paths changed in the working tree since ``ref``,
    plus untracked files."""

    def git(*args: str) -> list[str]:
        out = subprocess.run(
            ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
        ).stdout
        return [line for line in out.splitlines() if line]

    return git("diff", "--name-only", ref) + git("ls-files", "--others", "--exclude-standard")


def touched_queries(changed: list[str], specs: dict) -> list[str]:
    """Registered queries that ``changed`` paths touch (see the module
    doc for the mapping), in registry order."""
    module_file = {
        name: os.path.relpath(sys.modules[spec.fn.__module__].__file__, ROOT)
        for name, spec in specs.items()
    }
    builders = set(module_file.values())
    imports = {b: module_imports(b) for b in builders}
    touched: set[str] = set()
    for path in changed:
        if not path.endswith(".py"):
            continue
        if path == "__spark_entry__.py" or (path.startswith(PACKAGE) and path not in builders):
            return list(specs)
        touched.add(path)
    # builder modules import each other (plans/text.py's tokenizer feeds
    # most text builders): a change reaches every builder that imports a
    # touched one, directly or through another builder
    while True:
        more = {b for b, deps in imports.items() if deps & touched} - touched
        if not more:
            break
        touched |= more
    return [n for n in specs if module_file[n] in touched]


def module_imports(path: str) -> set[str]:
    """Repo-relative files of the package modules that the module at
    ``path`` imports anywhere in its body (function-level imports too)."""
    package = os.path.dirname(path).split("/")
    found: set[str] = set()
    for node in ast.walk(ast.parse(open(os.path.join(ROOT, path)).read())):
        if isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = base + (node.module.split(".") if node.module else [])
            candidates = [mod] + [mod + [a.name] for a in node.names]
        elif isinstance(node, ast.Import):
            candidates = [a.name.split(".") for a in node.names]
        else:
            continue
        for parts in candidates:
            for rel in ("/".join(parts) + ".py", "/".join(parts) + "/__init__.py"):
                if rel.startswith(PACKAGE) and os.path.isfile(os.path.join(ROOT, rel)):
                    found.add(rel)
    return found


def check(spark, sf_dir: str, specs: dict, names: list[str], json_out: str | None = None) -> list[str]:
    """Diff ``names`` against their oracles on ``sf_dir``; returns the
    names that failed."""
    con = duckdb.connect()
    load_oracle(con, sf_dir)

    failed = []
    # --json: the driver's CORRECTNESS artifact shape per query, so the
    # never-driver-sampled families (txnlog/connector/drain/tpch/mv) have
    # an auditable self-measured record (VERDICT r4 task 4). The local
    # compare is exact-value (strictly stronger than the driver's hash),
    # so hash_match=true here implies the driver's hash would match.
    results: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        t0 = time.time()
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "err": None,
            "spark_rows": None,
        }
        results[name] = rec
        try:
            sdf = spec.fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
            rec["spark_rows"] = len(spark_pdf)
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            rec["err"] = "spark_error"
            failed.append(name)
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows={len(spark_pdf)} (no oracle; rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            rec["err"] = "no_oracle"
            continue
        try:
            oracle_pdf = con.execute(spec.oracle).df()
        except Exception:
            print(f"FAIL {name}: oracle error\n{traceback.format_exc()}")
            rec["err"] = "oracle_error"
            failed.append(name)
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        rec["rows_match"] = not any(p.startswith("rowcount") for p in problems)
        rec["schema_match"] = not any(
            p.startswith(("columns", "dtype")) for p in problems
        )
        rec["hash_match"] = not problems
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: rows={len(spark_pdf)} match [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - len(failed)}/{len(names)} queries match", f"failed: {failed}" if failed else "")
    if json_out:
        import json

        payload = {
            "sf_dir": sf_dir,
            "n_queries": len(names),
            "n_match": len(names) - len(failed),
            "failed": failed,
            "compare": "exact-value (sorted rows; stronger than value-hash)",
            "queries": results,
        }
        with open(json_out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return failed


if __name__ == "__main__":
    sys.exit(main())
