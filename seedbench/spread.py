#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median,
quartiles and spread (interquartile range over median).

    python3 seedbench/spread.py --workload fic-monthly --seeds 1-10 [--trace 1]
        [--out runs.jsonl]

Runs are sequential, one process at a time, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(results: list[dict]) -> dict:
    names = results[0]["metrics"]
    out = {}
    for name in names:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0,
                     "unit": results[0]["metrics"][name]["unit"]}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    p.add_argument("--out", default=None, help="append each run's result line here")
    args = p.parse_args()
    results = []
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True)
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(line)
        ok = proc.returncode == 0 and res.get("correct") and res.get("failed") == 0
        print(f"seed {seed}: {'ok' if ok else 'FAILED'} {line}", file=sys.stderr, flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"seed": seed, **res}) + "\n")
        if not ok:
            return 1
        results.append(res)
    print(json.dumps(summarize(results), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
