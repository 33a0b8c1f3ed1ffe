"""Tiny-scale self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload on a few hundred docs, untraced and traced, from
the root of the checkout, and asserts that

- every end-to-end metric (untraced) and every per-layer metric
  (traced) is printed, with its unit;
- the untraced run is correct with no failed operation;
- a traced run with one answer corrupted before checking reports it:
  ``failed`` >= 1 and ``failed_ratio`` > 0.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402


def run(workload: str, trace: int, inject: bool) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace),
           "--docs", "300"] + (["--inject-wrong"] if inject else [])
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n"
                         f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}")


def main() -> None:
    for w in workloads.WORKLOADS:
        r = run(w, 0, False)
        expect(set(r) == {"correct", "attempted", "failed", "metrics"},
               f"{w}: result keys")
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
               f"{w}: untraced run correct ({r['attempted']} ops)")
        expect({k: v["unit"] for k, v in r["metrics"].items()}
               == workloads.E2E, f"{w}: every end-to-end metric present")
        r = run(w, 1, True)
        expect({k: v["unit"] for k, v in r["metrics"].items()}
               == workloads.PER_LAYER, f"{w}: every per-layer metric present")
        expect(not r["correct"] and r["failed"] >= 1
               and r["metrics"]["failed_ratio"]["value"] > 0,
               f"{w}: injected wrong answer raises failed_ratio")
    print("selftest passed")


if __name__ == "__main__":
    main()
