"""Smoke test of the benchmark itself: every workload at tiny scale.

    python3 perfbench/run.py --smoke        (or: pytest perfbench/)

Asserts that each run prints one JSON result as its last line, with
every end-to-end metric of BENCHMARK.json (every per-layer metric for
the traced run) under its unit, that a clean run counts no failure, and
that a deliberately corrupted result is caught (failed > 0 and
op_failure_share > 0).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n"
                             f"{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(result)}")
    return result, p.stdout


def check_metrics(result: dict, wanted: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got:
            raise AssertionError(f"{what}: metric {m['name']} missing")
        if got[m["name"]]["unit"] != m["unit"]:
            raise AssertionError(f"{what}: {m['name']} unit "
                                 f"{got[m['name']]['unit']} != {m['unit']}")
        if not isinstance(got[m["name"]]["value"], (int, float)):
            raise AssertionError(f"{what}: {m['name']} is not a number")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        raise AssertionError(f"{what}: unexpected metrics {sorted(extra)}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        result, _ = run_once(w["name"], 0)
        check_metrics(result, spec["end_to_end"], w["name"])
        if not result["correct"] or result["failed"]:
            raise AssertionError(f"{w['name']}: clean run failed {result}")
        print(f"ok: {w['name']} end-to-end ({result['attempted']} ops)")
    name = spec["workloads"][-1]["name"]
    result, out = run_once(name, 1)
    check_metrics(result, spec["per_layer"], name + " traced")
    for line in ("# trace.coverage=", "# trace.overhead"):
        if line not in out:
            raise AssertionError(f"traced run printed no '{line}'")
    print(f"ok: {name} per-layer")
    name = spec["workloads"][0]["name"]
    result, out = run_once(name, 0, "--inject-mismatch")
    share = [ln for ln in out.splitlines() if ln.startswith("# op_failure_share=")]
    if result["correct"] or result["failed"] < 1 \
            or not share or float(share[0].split("=")[1].split()[0]) <= 0:
        raise AssertionError(f"injected mismatch not caught: {result}")
    print(f"ok: {name} injected mismatch caught "
          f"({result['failed']}/{result['attempted']})")
    return 0


def test_smoke():
    assert main() == 0


if __name__ == "__main__":
    sys.exit(main())
