"""cdc_lakehouse: the CDC write path with reads between the writes.

An ingest op lands one generated Debezium batch as a file, drains it into
bronze with ``streaming.bronze.process_cdc_stream(..., available_now=True)``
and runs ``jobs.run_silver`` and ``jobs.run_gold``: its latency is the time
from the batch landing until gold reflects it. Between ingests sit read
ops at a fixed ratio: silver point lookups (``read_pruned``), gold reads
and time-travel reads of an earlier silver version. Every
``COMPACT_EVERY`` ingests the workload compacts silver. Nothing here
touches ``catalog``.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np

from end_to_end_data_lakehouse_pipeline_spark import jobs
from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable
from end_to_end_data_lakehouse_pipeline_spark.streaming.bronze import process_cdc_stream

from perfbench import datagen, storage

BATCH_EVENTS = 400
# the reads after every ingest, in a seeded order
READS_PER_INGEST = ("lookup", "lookup", "lookup", "gold", "time_travel")
COMPACT_EVERY = 4
WARMUP_INGESTS = 4
# ingests per measured second on two cores (fixed count per run)
INGESTS_PER_S = 0.32


class CdcLakehouse:
    def __init__(self, ctx):
        self.ctx = ctx
        self.lake = os.path.join(ctx.run_dir, "lake")
        self.landing = os.path.join(ctx.run_dir, "landing")
        self.gen = datagen.CdcGenerator(ctx.seed)
        self.batches: list[str] = []
        self.ingested = 0
        self.silver_versions: list[tuple[int, int]] = []  # (version, batches)
        self.quarantined_before = 0
        self.progress: list[dict] = []

    def silver(self) -> TransactionLogTable:
        return TransactionLogTable(
            self.ctx.spark, f"{self.lake}/silver/orders", stats_cols=("order_id",)
        )

    def gold(self) -> TransactionLogTable:
        return TransactionLogTable(self.ctx.spark, f"{self.lake}/gold/status_summary")

    # -- inputs -----------------------------------------------------------

    def stage(self) -> dict:
        os.makedirs(self.landing, exist_ok=True)
        n = WARMUP_INGESTS + max(2, round(INGESTS_PER_S * self.ctx.seconds))
        self.batches = [self.gen.batch(BATCH_EVENTS) for _ in range(n)]
        return {"cdc_batches": n, "cdc_events": self.gen.events, "cdc_corrupt": self.gen.corrupt}

    def sequence(self, seconds: float) -> list[tuple[str, object]]:
        rng = np.random.default_rng([self.ctx.seed, 0xCD])
        n_ingest = len(self.batches) - WARMUP_INGESTS
        ops: list[tuple[str, object]] = []
        for i in range(n_ingest):
            ops.append(("write", WARMUP_INGESTS + i))
            for j in rng.permutation(len(READS_PER_INGEST)):
                kind = READS_PER_INGEST[j]
                if kind == "lookup":
                    arg = int(rng.zipf(self.gen.zipf_a) - 1) % self.gen.n_keys
                else:
                    arg = int(rng.integers(0, 1 << 30))
                ops.append(("query", (kind, arg)))
            if (i + 1) % COMPACT_EVERY == 0:
                ops.append(("maint", "compact"))
        return ops

    # -- ops --------------------------------------------------------------

    def ingest(self, idx: int):
        spark = self.ctx.spark
        with self.ctx.phase("exec"):
            with open(os.path.join(self.landing, f"batch-{idx:05d}.json"), "w") as f:
                f.write(self.batches[idx])
            stream = spark.readStream.format("text").load(self.landing)
            with self.ctx.span("streaming.start"):
                q = process_cdc_stream(
                    stream,
                    "orders",
                    f"{self.lake}/bronze/orders",
                    f"{self.lake}/_checkpoints/bronze_orders",
                    available_now=True,
                )
            q.awaitTermination()
            with self.ctx.span("jobs.silver"):
                n_silver, _ = jobs.run_silver(spark, self.lake)
            with self.ctx.span("jobs.gold"):
                n_gold = jobs.run_gold(spark, self.lake)
        self.ingested = idx + 1
        if self.ctx.tracer is not None and self.ctx.tracer.op is not None:
            self.progress.extend(_progress(p) for p in q.recentProgress)
        self.silver_versions.append((self.silver().latest_version(), self.ingested))
        self.ctx.sample_cache()
        return (self.ingested, n_silver, n_gold)

    def read(self, kind: str, arg: int):
        with self.ctx.phase("exec"):
            if kind == "lookup":
                key = f"o{arg:05d}"
                rows = self.silver().read_pruned("order_id", key, key).collect()
                answer = [(r.order_id, r.order_status, r.amount) for r in rows]
                return (self.ingested, kind, key, answer)
            if kind == "gold":
                rows = self.gold().read().collect()
                return (self.ingested, kind, None, {r.order_status: (r.n_orders, r.revenue) for r in rows})
            # time travel: a seeded earlier silver version
            version, batches = self.silver_versions[arg % len(self.silver_versions)]
            rows = self.silver().read(version=version).groupBy("order_status").count().collect()
            return (batches, kind, version, {r.order_status: r["count"] for r in rows})

    def run(self, kind: str, arg):
        if kind == "write":
            return self.ingest(arg)
        if kind == "maint":
            with self.ctx.phase("exec"):
                return self.silver().compact()
        return self.read(*arg)

    def warmup(self, sequence) -> None:
        """The warm-up batches, then one op of every read kind and a compaction."""
        for idx in range(WARMUP_INGESTS):
            self.ingest(idx)
        for kind in dict.fromkeys(READS_PER_INGEST):
            self.read(kind, 0)
        self.run("maint", "compact")
        self.quarantined_before = storage.parquet_rows(f"{self.lake}/quarantine/orders")

    # -- correctness --------------------------------------------------------

    def verify(self, records) -> list[str]:
        problems = []
        states = self.gen.states
        for r in records:
            if r["error"] is not None:
                continue
            if r["kind"] == "write":
                batches, n_silver, n_gold = r["answer"]
                want = states[batches]
                r["ok"] = n_silver == len(want) and n_gold == len(set(v[0] for v in want.values()))
            elif r["kind"] == "maint":
                # a compaction is checked by the reads after it and the final snapshot
                r["ok"] = True
            else:
                batches, kind, arg, answer = r["answer"]
                want = states[batches]
                if kind == "lookup":
                    exp = [(arg, *want[arg])] if arg in want else []
                    r["ok"] = answer == exp
                elif kind == "gold":
                    r["ok"] = _gold_matches(answer, want)
                else:
                    r["ok"] = answer == dict(Counter(v[0] for v in want.values()))
            if not r["ok"]:
                problems.append(f"op {r['id']} {r['kind']} {r['name']}: wrong answer")
        final = {
            r.order_id: (r.order_status, r.amount)
            for r in self.silver().read().select("order_id", "order_status", "amount").collect()
        }
        gold = {r.order_status: (r.n_orders, r.revenue) for r in self.gold().read().collect()}
        if final != self.gen.state or not _gold_matches(gold, self.gen.state):
            problems.append("final silver/gold snapshot differs from the replay")
            for r in records:
                if r["kind"] == "write":
                    r["ok"] = False
        return problems

    # -- write accounting ------------------------------------------------------

    def storage_bytes(self) -> int:
        """bronze, silver, gold and their logs (rewrites included)."""
        return storage.tree_bytes(f"{self.lake}/bronze") + storage.txnlog_bytes(self.lake)

    def input_bytes(self, records) -> int:
        return sum(
            len(self.batches[r["arg"]].encode()) for r in records if r["kind"] == "write"
        )

    # -- per-layer extras ------------------------------------------------------

    def layer_counts(self, records) -> dict[str, float]:
        written = [r for r in records if r["kind"] == "write"]
        quarantine = f"{self.lake}/quarantine/orders"
        return {
            "cdc.rows_in": sum(self.batches[r["arg"]].count("\n") for r in written),
            "cdc.rows_quarantined": storage.parquet_rows(quarantine) - self.quarantined_before,
            "streaming.batches": len(self.progress),
            "streaming.input_rows": sum(p["rows"] for p in self.progress),
            "streaming.trigger_s": sum(p["trigger_s"] for p in self.progress),
            "streaming.add_batch_s": sum(p["add_batch_s"] for p in self.progress),
        }


def _progress(p) -> dict:
    """One ``StreamingQueryProgress`` (object or dict form) as numbers."""
    get = p.get if isinstance(p, dict) else lambda k, d=None: getattr(p, k, d)
    dur = get("durationMs") or {}
    return {
        "rows": get("numInputRows") or 0,
        "trigger_s": dur.get("triggerExecution", 0) / 1e3,
        "add_batch_s": dur.get("addBatch", 0) / 1e3,
    }


def _gold_matches(answer: dict, state: dict) -> bool:
    want: dict[str, list] = {}
    for status, amount in state.values():
        want.setdefault(status, []).append(amount)
    if set(answer) != set(want):
        return False
    return all(
        answer[s][0] == len(a) and abs(answer[s][1] - sum(a)) <= 1e-6 * max(1.0, sum(a))
        for s, a in want.items()
    )
