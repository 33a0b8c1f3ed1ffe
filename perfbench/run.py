"""Benchmark entry point.

    python3 perfbench/run.py --workload node_serve --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Prints one ``{"context": ...}``
line (host calibration, load, versions) and, as the last line, the
result object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.  Exits non-zero without a result when the program is
not in the checkout or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
sys.path.insert(0, str(HERE))
#: every run ends well inside the 180 s a run may take
WATCHDOG_S = 170


class Watchdog(BaseException):
    """Raised by the alarm; a BaseException so that the closed loop's
    per-operation ``except Exception`` cannot swallow it."""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["node_serve", "scatter_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size override (self-test scale)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one answer before checking (self-test)")
    args = ap.parse_args()

    if not (ROOT / "katta_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout holding "
              "katta_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import host
    import workloads

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    host.isolate(work, ROOT)

    def on_alarm(_sig, _frame):
        raise Watchdog(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    signal.alarm(WATCHDOG_S)
    cal_before = host.calibrate_ms()
    steal0 = host.steal_s()
    t0 = time.perf_counter()
    try:
        out = workloads.run(workloads.Args(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, docs=args.docs,
            inject_wrong=args.inject_wrong))
    finally:
        signal.alarm(0)
        host.reap()
        workloads.cleanup(work)
    ctx = dict(host.context(), calibration_ms_before=cal_before,
               calibration_ms_after=host.calibrate_ms(),
               run_s=time.perf_counter() - t0,
               steal_s=host.steal_s() - steal0, **out.info)
    if out.notes:
        ctx["failures"] = out.notes
    print(json.dumps({"context": ctx}, default=str))

    names = workloads.PER_LAYER if args.trace else workloads.E2E
    metrics = {k: {"value": float(out.metrics[k]), "unit": u}
               for k, u in names.items()}
    print(json.dumps({"correct": out.failed == 0,
                      "attempted": int(out.attempted),
                      "failed": int(out.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
