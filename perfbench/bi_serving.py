"""bi_serving: analysts' registered BI queries plus the gold refreshes they read.

The input is the repository's own sf0.001 test tables, the directory the
test suite reads (``SF_DIR`` in ``tests/conftest.py``), resolved through
``catalog.table`` as every registered query does.

Query ops run a registered query and force it with the ``noop`` sink.
The sequence is Zipf-skewed over ``QUERIES`` (rank = list position) with
fixed per-query counts; the seed sets the order, so the mix is the same on
every seed and the repeats give per-session memoization something to hit.
Write ops refresh one served gold table: rebuild a registered
materialized view and publish it atomically through
``TransactionLogTable.overwrite`` (then vacuum, as ``jobs.run_gold`` does).
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np

from end_to_end_data_lakehouse_pipeline_spark import plans
from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

from perfbench import storage

QUERIES = [
    "tpch_q1",
    "mv_category_sales",
    "tpch_q6",
    "orders_enriched",
    "mv_daily_sales",
    "tpch_q3",
    "daily_sales_summary",
    "mv_hourly_pattern",
    "tpch_q5",
    "rollup_sales",
    "mv_seller_performance",
    "customer_rfm_segments",
    "tpch_q10",
    "window_analytics",
]
REFRESHED = ["mv_category_sales", "mv_daily_sales"]
# ops per measured second on two cores; the count is fixed per run so
# makespan_s measures a fixed amount of work
QUERIES_PER_S = 1.6
REFRESHES_PER_S = 0.6
ZIPF_S = 1.0


def test_tables_dir() -> str:
    """``SF_DIR`` as ``tests/conftest.py`` defines it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    return conftest.SF_DIR


class BiServing:
    def __init__(self, ctx):
        self.ctx = ctx
        self.data = test_tables_dir()
        self.gold = os.path.join(ctx.run_dir, "lake", "gold")
        self.specs = plans.specs()
        self.refresh_json_bytes: dict[str, int] = {}

    # -- inputs -----------------------------------------------------------

    def stage(self) -> dict:
        from end_to_end_data_lakehouse_pipeline_spark.catalog import TABLES

        nbytes = sum(os.path.getsize(f"{self.data}/{t}.parquet") for t in TABLES)
        return {"tables": self.data, "table_bytes": nbytes}

    def sequence(self, seconds: float) -> list[tuple[str, str]]:
        n_q = max(len(QUERIES), round(QUERIES_PER_S * seconds))
        n_w = max(len(REFRESHED), round(REFRESHES_PER_S * seconds))
        weights = 1.0 / np.arange(1, len(QUERIES) + 1) ** ZIPF_S
        extra = n_q - len(QUERIES)
        counts = 1 + np.floor(weights / weights.sum() * extra).astype(int)
        # largest remainders take the ops the floor left over
        short = n_q - counts.sum()
        order = np.argsort(-(weights / weights.sum() * extra % 1), kind="stable")
        counts[order[:short]] += 1
        ops = [("query", q) for q, c in zip(QUERIES, counts) for _ in range(c)]
        ops += [("write", REFRESHED[i % len(REFRESHED)]) for i in range(n_w)]
        rng = np.random.default_rng([self.ctx.seed, 0xB1])
        return [ops[i] for i in rng.permutation(len(ops))]

    # -- ops --------------------------------------------------------------

    def build(self, name: str):
        with self.ctx.phase("build"), self.ctx.span("plans.build"):
            df = self.specs[name].fn(self.ctx.spark, self.data)
        self.ctx.catalyst(df)
        return df

    def run(self, kind: str, name: str):
        df = self.build(name)
        with self.ctx.phase("exec"):
            if kind == "query":
                df.write.format("noop").mode("overwrite").save()
            else:
                table = TransactionLogTable(self.ctx.spark, os.path.join(self.gold, name))
                table.overwrite(df)
                table.vacuum(retain_versions=0, retention_seconds=0)
        self.ctx.sample_cache()
        return None

    def warmup(self, sequence) -> None:
        """Every distinct op once, as the measured phase runs it."""
        for kind, name in dict.fromkeys(sequence):
            self.run(kind, name)

    # -- correctness --------------------------------------------------------

    def verify(self, records) -> list[str]:
        import duckdb

        from tools.diffcheck import compare, load_oracle

        con = duckdb.connect()
        load_oracle(con, self.data)
        problems: dict[str, list[str]] = {}
        # built again after the phase, through whatever the session kept
        # from the measured repeats, so a stale reuse shows here
        for name in dict.fromkeys(r["name"] for r in records if r["kind"] == "query"):
            got = self.build(name).toPandas()
            problems[name] = compare(name, got, con.execute(self.specs[name].oracle).df())
        for name in {r["name"] for r in records if r["kind"] == "write"}:
            got = TransactionLogTable(self.ctx.spark, os.path.join(self.gold, name)).read().toPandas()
            problems[f"refresh:{name}"] = compare(
                name, got, con.execute(self.specs[name].oracle).df()
            )
            self.refresh_json_bytes[name] = len(got.to_json(orient="records", lines=True).encode())
        con.close()
        for r in records:
            key = r["name"] if r["kind"] == "query" else f"refresh:{r['name']}"
            if r["error"] is None and not problems.get(key):
                r["ok"] = True
        return [f"{k}: {'; '.join(v)}" for k, v in problems.items() if v]

    # -- write accounting ------------------------------------------------------

    def storage_bytes(self) -> int:
        return storage.txnlog_bytes(self.gold)

    def input_bytes(self, records) -> int:
        return sum(self.refresh_json_bytes.get(r["name"], 0) for r in records if r["kind"] == "write")
