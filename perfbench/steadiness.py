#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload analytics_queries --seeds 1-10 \
        [--seconds 16] [--trace 0] [--out runs.jsonl]

The spread is the distance between the first and third quartile
(``statistics.quantiles(n=4)``) as a share of the median — the figure a
metric's bound in ``BENCHMARK.json`` is compared with.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import iqr_share  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in spec.split(",")]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    ap.add_argument("--seconds", default="16")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="append each run's info and result lines here")
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        start = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
        if args.out:
            with open(args.out, "a", encoding="utf-8") as f:
                f.write(json.dumps({"wall_s": time.monotonic() - start,
                                    "info": {k: v for k, v in info.items() if k != "spans"},
                                    "result": result}) + "\n")
        row = {k: m["value"] for k, m in result["metrics"].items()}
        for key, val in row.items():
            values.setdefault(key, []).append(val)
        shown = " ".join(f"{k}={v:.4g}" for k, v in row.items() if "." not in k)
        print(f"seed {seed}: {time.monotonic() - start:.0f}s correct={result['correct']}"
              f" failed={result['failed']}/{result['attempted']} {shown}"
              f" steal={info['steal_frac']:.3f}", flush=True)
    for key, vals in values.items():
        med = statistics.median(vals)
        if len(vals) < 2 or med == 0:
            continue
        print(f"{key:36s} median {med:.4g}  spread {iqr_share(vals):.3f}  n {len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
