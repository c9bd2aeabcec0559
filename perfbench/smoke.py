"""Small-size self-check of the benchmark: every workload, both modes.

    python3 perfbench/smoke.py

Runs perfbench/run.py at ``--size smoke`` for every workload with
``--trace 0`` and ``--trace 1`` and checks that each run exits 0 with its
correctness checks attempted and passed, that every metric BENCHMARK.json
names is printed with a number and its declared unit, that each layer
the workload runs reports a non-zero time, and that the traced chain
gave the same decisions (or labels) digest as the engine's own call.
It also prints the tracing overhead: the traced unit's total minus the
untraced unit's wall time, both the first unit of a fresh process on
the same seed.  Takes about eight minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOAD_NAMES  # noqa: E402

SEED = 7
# time metrics of the layers a workload does not run (reported as 0)
NOT_RUN = {
    "stream_microbatch": {"cluster.s"},
    "bulk_link": {"cluster.s"},
    "bootstrap_cluster": {
        "stream.mpi_read_s", "blocking.subsets_s", "medians.p1_s", "medians.p2_s",
        "decide.s",
    },
}


def run_one(workload: str, trace: int) -> tuple[int, dict | None, dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        details = json.loads(lines[-2])["details"]
    except (IndexError, KeyError, json.JSONDecodeError):
        result, details = None, {}
    return proc.returncode, result, details, proc.stderr[-2000:]


def check(result: dict, expected: dict[str, str], not_run: set[str]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0:
        problems.append("correctness checks failed")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 2:
        problems.append("no unit and check attempted")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        problems.append(f"metric names differ: {sorted(set(metrics) ^ set(expected))}")
    for name, unit in expected.items():
        m = metrics.get(name, {})
        value = m.get("value")
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            problems.append(f"{name}: value {value!r} is not a number")
        if m.get("unit") != unit:
            problems.append(f"{name}: unit {m.get('unit')!r}, declared {unit!r}")
        if unit == "s" and name not in not_run and not value:
            problems.append(f"{name}: a layer the workload runs reported no time")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = 0
    for workload in WORKLOAD_NAMES:
        values, digests = {}, []
        for trace in (0, 1):
            rc, result, details, err = run_one(workload, trace)
            problems = [] if rc == 0 else [f"exit code {rc}"]
            digests.append({k: v for k, v in details.items() if "digest" in k})
            if trace and digests[0] != digests[1]:
                problems.append(f"traced chain decided differently: {digests}")
            if result is None:
                problems.append("no JSON result on the last line")
            else:
                problems += check(result, expected[trace], NOT_RUN[workload])
                values.update({k: m["value"] for k, m in result["metrics"].items()})
            status = "ok" if not problems else "FAIL: " + "; ".join(problems)
            print(f"{workload} --trace {trace}: {status}", flush=True)
            if problems:
                failures += 1
                print(err, file=sys.stderr)
        if "wall_s" in values and "trace.total_s" in values:
            print(
                f"{workload}: tracing overhead "
                f"{values['trace.total_s'] - values['wall_s']:.2f}s "
                f"(traced {values['trace.total_s']:.2f}s, untraced {values['wall_s']:.2f}s)"
            )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
