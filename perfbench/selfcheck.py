"""Smoke self-check of the benchmark on tiny inputs.

Runs every workload once untraced and once traced on a catalog of the
fixture sf0.001's row counts (``--scale sf0.001``), and checks that:

- the last stdout line is the result object, with ``correct`` true;
- the untraced run prints every end-to-end metric of BENCHMARK.json by
  name, with its unit;
- the traced run prints every per-layer metric of BENCHMARK.json, and
  every one of a layer the workload calls (``run.NOT_APPLICABLE`` names
  the others) is non-zero, apart from the few in ``MAY_BE_ZERO``;
- every span the traced run wrote has a self time >= 0.

``realtime_ingest`` runs for ``REALTIME_SECONDS``: enough cycles for a
traced and an untraced cycle of each kind (compacting or not) after the
first.

Usage, from the repository root: ``python3 perfbench/selfcheck.py``
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7
REALTIME_SECONDS = 20
# values a correct run can legitimately measure as 0 on tiny inputs
MAY_BE_ZERO = {"session.spill_bytes", "session.gc_s", "trace.overhead_s"}


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(SEED),
        "--seconds", str(REALTIME_SECONDS if workload == "realtime_ingest" else 1),
        "--trace", str(trace), "--scale", "sf0.001",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(where: str, result: dict, spec: list[dict], skip=()) -> None:
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{where}: not correct: {result}")
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], float):
            raise AssertionError(f"{where}: metric {m['name']} missing or wrong: {got}")
        used = not m["name"].startswith(skip) and m["name"] not in MAY_BE_ZERO
        if used and got["value"] == 0.0:
            raise AssertionError(f"{where}: layer metric {m['name']} was not measured")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import NOT_APPLICABLE, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload in WORKLOADS:
        check_metrics(f"{workload} untraced", run(workload, 0), bench["end_to_end"])
        check_metrics(
            f"{workload} traced", run(workload, 1), bench["per_layer"], NOT_APPLICABLE[workload]
        )
        with open(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-{SEED}.json")) as f:
            spans = json.load(f)["spans"]
        bad = [s for s in spans if s["self_s"] < -1e-9]
        if not spans or bad:
            raise AssertionError(f"{workload}: {len(spans)} spans, negative self time: {bad[:3]}")
        print(f"ok {workload}: {len(spans)} spans", flush=True)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
