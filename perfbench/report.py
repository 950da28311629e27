#!/usr/bin/env python3
"""Run benchmark workloads and print every metric with unit and count.

    python3 perfbench/report.py                      # all four workloads
    python3 perfbench/report.py --workloads build_highkey --seed 3

Each workload runs twice, each time in its own process through
``perfbench/run.py``: once untraced (the end-to-end metrics) and once
traced (the per-layer and per-function metrics). The tracing overhead is
the traced run's median operation time minus the untraced one's.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOAD_NAMES  # noqa: E402
from perfbench.tracing import LAYER_UNITS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, check=True,
                         text=True).stdout.splitlines()
    return json.loads(out[-2])


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def _print(untraced: dict, traced: dict) -> None:
    print(f"== {untraced['workload']}  seed {untraced['seed']}  "
          f"local[{untraced['cores']}]  {untraced['timed_s']:.1f} s timed, "
          f"{untraced['cycles']} cycles")
    print("end to end (untraced)")
    for name, m in untraced["metrics"].items():
        extra = ""
        if "percentile" in m:
            extra = (f"  p{m['percentile']:.4g}, {m['beyond']} samples "
                     f"beyond")
        print(f"  {name:22s} {_fmt(m['value']):>12s} {m['unit']:6s}"
              f" n={m['samples']}{extra}")
    if untraced["failures"]:
        print(f"  failures: {untraced['failures']}")
    print("per layer (traced; means per operation unless a ratio)")
    for name, v in traced["per_layer"].items():
        print(f"  {name:36s} {_fmt(v):>12s} {LAYER_UNITS[name]}")
    print("per operation type (traced; means per operation)")
    cols = ("spark.jobs", "ops.probe_jobs", "spark.tasks",
            "spark.executor_run_s", "spark.shuffle_write_bytes",
            "arrow.bytes_to_python", "driver.idle_s")
    print(f"  {'operation':28s} " + " ".join(f"{c.split('.')[-1]:>14s}"
                                             for c in cols))
    for op, row in traced["per_op_type"].items():
        print(f"  {op:28s} " + " ".join(f"{_fmt(row[c]):>14s}"
                                        for c in cols))
    print("per public function (traced)")
    for fn, row in traced["per_function"].items():
        print(f"  {fn:46s} calls={row['calls']:<3d} "
              f"plan_s={_fmt(row['plan_s'])} "
              f"action_s={_fmt(row['action_s'])} "
              f"probe_jobs={_fmt(row['probe_jobs'])}")
    base = untraced["metrics"]["op_s_p50"]["value"]
    over = traced["per_layer"]["trace.op_s_p50"] - base
    print(f"tracing overhead: op_s_p50 {over:+.4f} s "
          f"({100 * over / base:+.1f}%)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(WORKLOAD_NAMES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args(argv)
    for wl in args.workloads.split(","):
        _print(_run(wl, args.seed, args.seconds, 0),
               _run(wl, args.seed, args.seconds, 1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
