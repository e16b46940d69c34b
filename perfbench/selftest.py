"""Self-test of the benchmark: tiny runs, exact metric names, a clean gate.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs ``run.py`` with a two-second
op budget, untraced and traced, and checks that

- the result line has exactly the declared end-to-end (trace 0) or
  per-layer (trace 1) metric names, each with its declared unit;
- every op was verified correct (``ok_share`` is 1.0, ``correct`` true);
- the traced run reports non-zero numbers for the layers the workload
  exercises, and zero catalog calls on ``cdc_lakehouse``.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import tail  # noqa: E402

# layers each workload must show as non-zero in its traced run
EXERCISED = {
    "bi_serving": ["catalog.calls", "plans.build_s", "catalyst.optimization_s", "exec.tasks",
                   "txnlog.overwrite_s"],
    "cdc_lakehouse": ["cdc.rows_in", "streaming.batches", "streaming.trigger_s", "lakehouse.files",
                      "jobs.silver_s", "txnlog.merge_s", "txnlog.read_pruned_s", "exec.tasks"],
}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        sys.exit(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(cond: bool, msg: str) -> None:
    if not cond:
        sys.exit(f"FAIL {msg}")
    print(f"ok   {msg}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check(tail([float(i) for i in range(1, 101)]) == (90.0, 90, 100), "tail: p90 of 100 samples")
    check(tail([float(i) for i in range(1, 41)])[1:] == (75, 40), "tail: p75 of 40 samples")
    check(tail([float(i) for i in range(1, 11)]) == (8.0, 75, 10), "tail: p75 below 20 samples")
    for w in bench["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{name} trace={trace}: metric names and units match {key}")
            check(res["correct"] and res["failed"] == 0, f"{name} trace={trace}: every op verified")
            if trace == 0:
                check(res["metrics"]["ok_share"]["value"] == 1.0, f"{name}: ok_share is 1.0")
                continue
            for m in EXERCISED[name]:
                check(res["metrics"][m]["value"] > 0, f"{name}: traced {m} > 0")
            if name == "cdc_lakehouse":
                check(res["metrics"]["catalog.calls"]["value"] == 0, f"{name}: no catalog calls")
    return 0


if __name__ == "__main__":
    sys.exit(main())
