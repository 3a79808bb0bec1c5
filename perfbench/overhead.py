"""Tracing overhead: the traced run's own end-to-end figures minus an
untraced run's, on the same workload and seed.

    python3 perfbench/overhead.py --workload serve_dashboard --seed 1 --seconds 16
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(args, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = run_once(args, 0)
    traced = run_once(args, 1)
    out = {}
    for name, m in plain.items():
        t = traced.get(f"trace.{name}")
        if t is not None:
            diff = t["value"] - m["value"]
            out[name] = {"untraced": m["value"], "traced": t["value"], "overhead": diff,
                         "overhead_share": diff / m["value"], "unit": m["unit"]}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
