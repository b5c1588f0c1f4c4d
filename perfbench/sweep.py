#!/usr/bin/env python3
"""Run the benchmark over several seeds and append each result to a JSON
lines file that ``compare.py`` reads.

    python3 perfbench/sweep.py --out runs.jsonl --seeds 1-10 \\
        [--workloads extract_mixed graph_analytics] [--trace 0]

Runs are sequential (never run two benchmarks at once on one host).
Workloads default to BENCHMARK.json's; the run length is always its
``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    for workload in workloads:
        for seed in parse_seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} seed {seed}: exit {proc.returncode}",
                      file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            row = {"workload": workload, "seed": seed, "trace": args.trace,
                   **result}
            with open(args.out, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(f"{workload} seed {seed}: correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in result["metrics"].items()
                             if not k.startswith(("kernel", "graph"))),
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
