"""Traced-run instrumentation, built entirely from the benchmark's side.

``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
writes them out once at the end. ``install`` wraps the repository's
public functions at their module boundaries so every call into a layer
becomes a span; nothing in the repository is edited. ``eventlog_rollup``
reads Spark's own event log (enabled in the traced session only) and
rolls task metrics up per op and phase by job group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "end_to_end_data_lakehouse_pipeline_spark"
GROUP_PREFIX = "perfbench"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **counts):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn, after=None):
        """``fn`` timed as span ``name``; ``after(rec, result, args,
        kwargs)`` may add counts once the span has closed, so whatever it
        costs stays out of the span's time."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
            if after is not None:
                after(rec, result, args, kwargs)
            return result

        return traced


def _patch(undo: list, owner, attr: str, tracer: Tracer, name: str, after=None) -> None:
    fn = getattr(owner, attr)
    setattr(owner, attr, tracer.wrap(name, fn, after))
    undo.append((owner, attr, fn))


def install(tracer: Tracer) -> list:
    """Wrap the layer boundaries; returns the undo list for ``uninstall``."""
    from end_to_end_data_lakehouse_pipeline_spark import catalog, jobs
    from end_to_end_data_lakehouse_pipeline_spark.sources import cdc
    from end_to_end_data_lakehouse_pipeline_spark.sources.lakehouse import LakehouseTable
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

    undo: list = []
    original_table = catalog.table
    traced_table = tracer.wrap("catalog.table", original_table)
    # every plans.* module that did ``from ..catalog import table`` holds
    # its own reference; rebind each one, plus the catalog attribute that
    # function-local imports resolve at call time
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(f"{PKG}.plans.") and getattr(mod, "table", None) is original_table:
            undo.append((mod, "table", original_table))
            mod.table = traced_table
    undo.append((catalog, "table", original_table))
    catalog.table = traced_table

    for owner in (cdc, jobs):
        _patch(undo, owner, "split_corrupt_cdc", tracer, "cdc.parse")
        _patch(undo, owner, "parse_cdc_envelope", tracer, "cdc.parse")

    def lake_files(rec, _result, args, _kwargs):
        rec["counts"]["files"] = sum(
            n.endswith(".parquet") for _d, _s, names in os.walk(args[0].path) for n in names
        )

    _patch(undo, LakehouseTable, "read", tracer, "lakehouse.read", lake_files)

    def rewritten(rec, version, args, _kwargs):
        table = args[0]
        with open(table._log_path(version)) as f:
            rec["counts"]["removed"] = sum('"remove"' in line for line in f)

    def scanned(rec, _result, args, kwargs):
        table, col, *bounds = args
        lo = kwargs.get("lo", bounds[0] if bounds else None)
        hi = kwargs.get("hi", bounds[1] if len(bounds) > 1 else None)
        rec["counts"]["files"] = len(table.pruned_files(col, lo, hi))

    _patch(undo, TransactionLogTable, "merge", tracer, "txnlog.merge", rewritten)
    _patch(undo, TransactionLogTable, "read_pruned", tracer, "txnlog.read_pruned", scanned)
    for method in ("overwrite", "vacuum", "compact"):
        _patch(undo, TransactionLogTable, method, tracer, f"txnlog.{method}")
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, fn in reversed(undo):
        setattr(owner, attr, fn)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds from the frame's own
    ``QueryExecution.tracker()``. Planning is forced here so the tracker
    records it; the forced plan is the one the frame would execute."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def cached_mb(spark) -> float:
    """Persisted/checkpointed RDD bytes currently held by the block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def job_group(op: int, phase: str) -> str:
    return f"{GROUP_PREFIX}:{op}:{phase}"


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path) as f:
                for line in f:
                    if line.startswith("{"):
                        yield json.loads(line)


def eventlog_rollup(log_dir: str, op_windows: dict[int, tuple[float, float]]) -> dict:
    """Per-op and per-phase task metrics from the event log.

    A job belongs to the op and phase named by its job group; jobs started
    on other threads (streaming micro-batches) carry no benchmark group
    and are assigned by submission time to the op whose window holds it,
    phase ``exec``.
    """
    job_of_stage: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            sub = ev["Submission Time"] / 1000.0
            op, phase = None, "exec"
            parts = group.split(":")
            if len(parts) == 3 and parts[0] == GROUP_PREFIX:
                op, phase = int(parts[1]), parts[2]
            else:
                for oid, (lo, hi) in op_windows.items():
                    if lo <= sub <= hi:
                        op = oid
                        break
            jobs[ev["Job ID"]] = {"op": op, "phase": phase, "start": sub, "end": sub}
            for sid in ev["Stage IDs"]:
                job_of_stage[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev)

    per_op: dict = defaultdict(lambda: defaultdict(float))
    intervals: dict = defaultdict(list)
    skew = 1.0
    for job in jobs.values():
        if job["op"] is None:
            continue
        key = (job["op"], job["phase"])
        per_op[key]["jobs"] += 1
        intervals[key].append((job["start"], job["end"]))
    for sid, evs in tasks.items():
        job = jobs.get(job_of_stage.get(sid, -1))
        if job is None or job["op"] is None:
            continue
        acc = per_op[(job["op"], job["phase"])]
        durs = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            durs.append(info["Finish Time"] - info["Launch Time"])
            sr = m.get("Shuffle Read Metrics", {})
            acc["tasks"] += 1
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            acc["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            acc["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
        if len(durs) >= 2 and job["phase"] == "exec":
            ratio = max(durs) / max(statistics.median(durs), 1.0)
            acc["stage_skew"] = max(acc.get("stage_skew", 1.0), ratio)
            skew = max(skew, ratio)
    for key, spans in intervals.items():
        per_op[key]["busy_s"] = _union(spans)
    return {"per_op": {f"{k[0]}:{k[1]}": dict(v) for k, v in per_op.items()}, "stage_skew": skew}


def _union(spans: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
