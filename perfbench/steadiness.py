#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
median, quartiles and spread (interquartile distance over the median).

    python3 perfbench/steadiness.py --workloads bundle_reference,bundle_fleet \
        --seeds 1-10

Runs are sequential, one fresh process each, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        shares = set()
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                   "--trace", "0"]
            done = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            last = done.stdout.strip().splitlines()[-1] if done.stdout.strip() else ""
            if done.returncode != 0 or not last.startswith("{"):
                print(f"{wl} seed {seed}: exit {done.returncode}\n{done.stderr[-2000:]}")
                return 1
            res = json.loads(last)
            shares.add((res["failed"], res["attempted"], res["correct"]))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()),
                flush=True)
        print(f"{wl}: (failed, attempted, correct) seen: {sorted(shares)}")
        for k, vals in values.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            print(f"{wl} {k}: median {med:.3f}  q1 {q1:.3f}  q3 {q3:.3f}  "
                  f"spread {spread:.3f}  bound {bounds.get(k)}  n={len(vals)}",
                  flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
