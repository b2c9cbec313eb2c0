"""Record a baseline: each workload once untraced and once traced with
the same seed, plus the tracing overhead (traced end-to-end figures
minus untraced ones).

    python3 perfbench/baseline.py --seed 1 --seconds 10 \\
        --out perfbench/results/baseline.json [--workloads llm_ops etl_upload]

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600, check=True).stdout.strip().splitlines()
    return {"diagnostics": json.loads(out[-2])["perfbench"], "result": json.loads(out[-1])}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=WORKLOADS)
    args = ap.parse_args()
    report = {}
    for wl in args.workloads:
        plain = run_once(wl, args.seed, args.seconds, 0)
        traced = run_once(wl, args.seed, args.seconds, 1)
        e2e = {k: v["value"] for k, v in plain["result"]["metrics"].items()}
        e2e_traced = traced["diagnostics"]["end_to_end"]
        report[wl] = {
            "untraced": plain,
            "traced": traced,
            "tracing_overhead": {
                k: (e2e_traced[k] - e2e[k]
                    if e2e_traced.get(k) is not None and e2e[k] is not None else None)
                for k in e2e
            },
        }
        print(f"{wl}: done", file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
