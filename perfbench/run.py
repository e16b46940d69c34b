"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bi_serving --seed 1 --seconds 20 --trace 0

Run from the repository root. The run pins its environment (cores, driver
memory, scratch dirs), stages seeded inputs, warms every distinct op once,
then runs a fixed, seeded sequence of ops in a closed loop with one
client. After the timed phase it checks every op's output (DuckDB oracles
for registered queries, a Python replay of the CDC stream for the
lakehouse) and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
first runs the same seed untraced in a child process to report the tracing
overhead. Spans, per-op roll-ups and run details go to
``.perfbench_out/`` under the repository root.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = ("bi_serving", "cdc_lakehouse")
MAX_CPUS = 2
MAX_DRIVER_MEM_MB = 2048


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_env(run_dir: str) -> dict:
    """Cores, driver memory and scratch dirs for this run only."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_mb = int(next(line for line in f if line.startswith("MemTotal")).split()[1]) // 1024
    mem_mb = min(MAX_DRIVER_MEM_MB, total_mb // 4)
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    # every JVM the launcher starts keeps its temp files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "warehouse": dirs["warehouse"],
        "host_mem_mb": total_mb,
    }


class Ctx:
    """What a workload needs from the runner: the session, its inputs and
    the (optional) tracer hooks, which cost nothing in untraced runs."""

    def __init__(self, args, run_dir: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None
        self.cache_peak_mb = 0.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def phase(self, name: str):
        if self.tracer is None or self.tracer.op is None:
            return contextlib.nullcontext()
        from perfbench.tracing import job_group

        self.spark.sparkContext.setJobGroup(job_group(self.tracer.op, name), name)
        return self.tracer.span(f"phase.{name}")

    def catalyst(self, df) -> None:
        if self.tracer is None or self.tracer.op is None:
            return
        from perfbench.tracing import catalyst_phases

        with self.tracer.span("catalyst") as rec:
            rec["counts"].update(catalyst_phases(df))

    def sample_cache(self) -> None:
        if self.tracer is None or self.tracer.op is None:
            return
        from perfbench.tracing import cached_mb

        self.cache_peak_mb = max(self.cache_peak_mb, cached_mb(self.spark))


def start_spark(ctx: Ctx, env: dict, traced: bool):
    from end_to_end_data_lakehouse_pipeline_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": env["warehouse"],
        # a fixed-size heap: no run-to-run heap resizing decisions
        "spark.driver.extraJavaOptions": f"-Xms{env['SPARK_DRIVER_MEM']}",
    }
    if traced:
        log_dir = os.path.join(ctx.run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    return session.get_spark(f"perfbench-{ctx.seed}", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile with at least
    ten samples beyond it, by nearest rank. Under 20 samples no percentile
    above the median qualifies, and p75 is reported instead."""
    n = len(samples)
    pct = math.floor(100 * (1 - 10 / n)) if n >= 20 else 75
    rank = max(1, math.ceil(pct / 100 * n))
    return sorted(samples)[rank - 1], pct, n


def make_workload(name: str, ctx: Ctx):
    if name == "bi_serving":
        from perfbench.bi_serving import BiServing as cls
    else:
        from perfbench.cdc_lakehouse import CdcLakehouse as cls
    return cls(ctx)


def run_ops(ctx: Ctx, wl, sequence) -> list[dict]:
    records = []
    for i, (kind, arg) in enumerate(sequence):
        rec = {"id": i, "kind": kind, "name": str(arg), "arg": arg, "ok": False, "error": None}
        if ctx.tracer is not None:
            ctx.tracer.op = i
        rec["start"] = time.time()
        try:
            with ctx.span("op"):
                rec["answer"] = wl.run(kind, arg)
        except Exception:  # an op that raises counts as failed; the run goes on
            rec["error"] = traceback.format_exc(limit=3)
            rec["answer"] = None
        rec["end"] = time.time()
        records.append(rec)
    if ctx.tracer is not None:
        ctx.tracer.op = None
    return records


def end_to_end(records, wl, timings, written, hwm) -> tuple[dict, dict]:
    def lat(kind):
        return [r["end"] - r["start"] for r in records if r["kind"] == kind and r["error"] is None]

    q, w = lat("query"), lat("write")
    q_tail, q_pct, q_n = tail(q)
    w_tail, w_pct, w_n = tail(w)
    metrics = {
        "setup_s": (timings["setup_s"], "s"),
        "makespan_s": (timings["makespan_s"], "s"),
        "query_p50_s": (statistics.median(q), "s"),
        "query_tail_s": (q_tail, "s"),
        "write_p50_s": (statistics.median(w), "s"),
        "write_tail_s": (w_tail, "s"),
        "write_amp": (written / max(1, wl.input_bytes(records)), "ratio"),
        "ok_share": (sum(r["ok"] for r in records) / len(records), "ratio"),
        "jvm_peak_rss_mb": (hwm, "MB"),
    }
    detail = {
        "query_tail": {"percentile": q_pct, "samples": q_n},
        "write_tail": {"percentile": w_pct, "samples": w_n},
    }
    return metrics, detail


def per_layer(ctx: Ctx, wl, records, timings, rollup, overhead) -> dict:
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

    from perfbench import storage

    # spans of the measured ops only, not of the warm-up
    spans = [s for s in ctx.tracer.spans if s["op"] is not None]

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def calls(name):
        return [s for s in spans if s["name"] == name]

    def child(parent_name, name):
        idx = {id(s): i for i, s in enumerate(ctx.tracer.spans)}
        parents = {idx[id(s)] for s in calls(parent_name)}
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name and s["parent"] in parents)

    def mean_count(name, key):
        c = calls(name)
        return sum(s["counts"].get(key, 0) for s in c) / len(c) if c else 0.0

    def roll(key, phase_filter):
        return sum(v.get(key, 0.0) for k, v in rollup["per_op"].items() if phase_filter(k.split(":")[1]))

    def is_exec(p):
        return p != "build"

    lake = os.path.join(ctx.run_dir, "lake")
    tables = [TransactionLogTable(ctx.spark, p) for p in storage.txnlog_tables(lake)]
    m = {
        "session.start_s": (timings["session_start_s"], "s"),
        "session.warmup_s": (timings["warmup_s"], "s"),
        "catalog.calls": (len(calls("catalog.table")), "count"),
        "catalog.time_s": (dur("catalog.table"), "s"),
        "plans.build_s": (dur("plans.build") - child("plans.build", "catalog.table"), "s"),
        "plans.build_jobs": (roll("jobs", lambda p: p == "build"), "count"),
        "plans.cached_mb_peak": (ctx.cache_peak_mb, "MB"),
        "catalyst.analysis_s": (sum(s["counts"]["analysis"] for s in calls("catalyst")), "s"),
        "catalyst.optimization_s": (sum(s["counts"]["optimization"] for s in calls("catalyst")), "s"),
        "catalyst.planning_s": (sum(s["counts"]["planning"] for s in calls("catalyst")), "s"),
        "exec.s": (roll("busy_s", is_exec), "s"),
        "exec.jobs": (roll("jobs", is_exec), "count"),
        "exec.tasks": (roll("tasks", is_exec), "count"),
        "exec.executor_run_s": (roll("executor_run_s", is_exec), "s"),
        "exec.executor_cpu_s": (roll("executor_cpu_s", is_exec), "s"),
        "exec.deserialize_s": (roll("deserialize_s", is_exec), "s"),
        "exec.gc_s": (roll("gc_s", is_exec), "s"),
        "exec.shuffle_read_mb": (roll("shuffle_read_mb", is_exec), "MB"),
        "exec.shuffle_write_mb": (roll("shuffle_write_mb", is_exec), "MB"),
        "exec.spill_mb": (roll("spill_mb", is_exec), "MB"),
        "exec.stage_skew": (rollup["stage_skew"], "ratio"),
        "cdc.parse_s": (dur("cdc.parse"), "s"),
        "cdc.rows_in": (0, "count"),
        "cdc.rows_quarantined": (0, "count"),
        "streaming.start_s": (dur("streaming.start"), "s"),
        "streaming.batches": (0, "count"),
        "streaming.input_rows": (0, "count"),
        "streaming.trigger_s": (0.0, "s"),
        "streaming.add_batch_s": (0.0, "s"),
        "lakehouse.read_s": (dur("lakehouse.read"), "s"),
        "lakehouse.files": (sum(s["counts"].get("files", 0) for s in calls("lakehouse.read")), "count"),
        "jobs.silver_s": (dur("jobs.silver"), "s"),
        "jobs.gold_s": (dur("jobs.gold"), "s"),
        "txnlog.merge_s": (dur("txnlog.merge"), "s"),
        "txnlog.files_rewritten_per_merge": (mean_count("txnlog.merge", "removed"), "count"),
        "txnlog.overwrite_s": (dur("txnlog.overwrite"), "s"),
        "txnlog.vacuum_s": (dur("txnlog.vacuum"), "s"),
        "txnlog.compact_s": (dur("txnlog.compact"), "s"),
        "txnlog.log_versions": (sum(t.latest_version() or 0 for t in tables), "count"),
        "txnlog.live_files": (sum(len(t.snapshot()) for t in tables), "count"),
        "txnlog.bytes_written_mb": (timings["txnlog_written"] / 1e6, "MB"),
        "txnlog.read_pruned_s": (dur("txnlog.read_pruned"), "s"),
        "txnlog.files_scanned_per_lookup": (mean_count("txnlog.read_pruned", "files"), "count"),
        "ops.repeated_share": (1 - len({(r["kind"], r["name"]) for r in records}) / len(records), "ratio"),
        "trace.overhead": (overhead, "ratio"),
    }
    if hasattr(wl, "layer_counts"):
        for k, v in wl.layer_counts(records).items():
            m[k] = (v, m[k][1])
    return m


def untraced_makespan(args) -> float:
    """Same workload and seed, untraced, in a fresh process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["makespan_s"]["value"]


def run(args) -> tuple[dict, dict]:
    from perfbench import storage, tracing

    overhead_base = untraced_makespan(args) if args.trace else None
    t0 = time.time() if args.trace else T0
    run_dir = os.path.join(RUN_ROOT, f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(run_dir)
    try:
        env = pin_env(run_dir)
        tracer = tracing.Tracer() if args.trace else None
        ctx = Ctx(args, run_dir, tracer)
        wl = make_workload(args.workload, ctx)
        ctx.spark = start_spark(ctx, env, bool(args.trace))
        t_session = time.time()
        staged = wl.stage()
        sequence = wl.sequence(args.seconds)
        wl.warmup(sequence)
        undo = tracing.install(tracer) if tracer is not None else None
        written_before = wl.storage_bytes()
        txn_before = storage.txnlog_bytes(os.path.join(run_dir, "lake"))
        t_phase = time.time()
        records = run_ops(ctx, wl, sequence)
        t_end = time.time()
        hwm = jvm_hwm_mb(ctx.spark)
        timings = {
            "setup_s": t_phase - t0,
            "session_start_s": t_session - t0,
            "warmup_s": t_phase - t_session,
            "makespan_s": t_end - t_phase,
            "txnlog_written": storage.txnlog_bytes(os.path.join(run_dir, "lake")) - txn_before,
        }
        if undo is not None:
            tracing.uninstall(undo)
        problems = wl.verify(records)
        written = wl.storage_bytes() - written_before
        metrics, detail = end_to_end(records, wl, timings, written, hwm)
        stop_spark(ctx.spark)
        layer = None
        if tracer is not None:
            # the event log is complete only once the context has stopped
            rollup = tracing.eventlog_rollup(
                os.path.join(run_dir, "eventlog"), {r["id"]: (r["start"], r["end"]) for r in records}
            )
            overhead = timings["makespan_s"] / overhead_base
            layer = per_layer(ctx, wl, records, timings, rollup, overhead)
        result = {
            "correct": not problems and all(r["ok"] for r in records),
            "attempted": len(records),
            "failed": sum(not r["ok"] for r in records),
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in (layer or metrics).items()
            },
        }
        detail.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "env": env,
                "staged": staged,
                "timings": timings,
                "problems": problems,
                "errors": [r["error"] for r in records if r["error"]][:5],
                "ops": [
                    {k: r[k] for k in ("id", "kind", "name", "ok", "start", "end")} for r in records
                ],
                "end_to_end": {k: v for k, (v, _u) in metrics.items()},
            }
        )
        if tracer is not None:
            detail["rollup"] = rollup
            detail["spans"] = tracer.spans
        return result, detail
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    result, detail = run(args)
    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(detail, f, default=str)
    print("perfbench env " + json.dumps(detail["env"]))
    print("perfbench tails " + json.dumps({k: detail[k] for k in ("query_tail", "write_tail")}))
    if detail["problems"] or detail["errors"]:
        print("perfbench problems " + json.dumps(detail["problems"] + detail["errors"])[:4000])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
