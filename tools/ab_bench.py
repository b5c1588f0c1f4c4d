#!/usr/bin/env python3
"""Alternating benchmark runs of two checkouts, for perfbench/compare.py.

    python3 tools/ab_bench.py --base <parent checkout> --new <checkout> \\
        --out-dir <dir> [--pairs 10] [--workloads job_tpch ...] [--trace 0]

Pair i runs ``perfbench/run.py --seed i`` once in each checkout, each from
its own root with its own perfbench; the base runs first in odd pairs and
second in even ones.  Result rows go to ``<dir>/base.jsonl`` and
``<dir>/new.jsonl`` in sweep.py's format.  Workloads and run length are
BENCHMARK.json's, as in sweep.py.

After every run the tool checks that run.py reported no "processes still
alive" and that ``ps`` shows no Spark JVM, PySpark daemon or Python
worker; it stops with exit status 1 at the first run that leaves one.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

LEFTOVER = re.compile(r"java .*org\.apache\.spark|pyspark\.(daemon|worker)")


def leftovers() -> list[str]:
    """``pid args`` of every Spark JVM or PySpark process alive now."""
    out = subprocess.run(["ps", "-eo", "pid=,args="], stdout=subprocess.PIPE,
                         text=True, check=True).stdout
    return [line.strip() for line in out.splitlines()
            if LEFTOVER.search(line)]


def run_once(root: str, workload: str, seed: int, seconds: float,
             trace: int) -> tuple[dict | None, list[str]]:
    """One run.py run in ``root``: (result row or None, problems)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    problems = [line for line in proc.stderr.splitlines()
                if "processes still alive" in line]
    problems += [f"left running: {p}" for p in leftovers()]
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        problems.append(f"exit {proc.returncode}")
        return None, problems
    return {"workload": workload, "seed": seed, "trace": trace,
            **json.loads(lines[-1])}, problems


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True)
    p.add_argument("--new", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(args.new, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    os.makedirs(args.out_dir, exist_ok=True)
    running = leftovers()
    if running:
        print(f"Spark processes already running: {running}", file=sys.stderr)
        return 1
    for workload in workloads:
        for seed in range(1, args.pairs + 1):
            sides = [("base", args.base), ("new", args.new)]
            for side, root in sides if seed % 2 else sides[::-1]:
                row, problems = run_once(os.path.abspath(root), workload,
                                         seed, spec["run_seconds"],
                                         args.trace)
                if row is not None:
                    with open(os.path.join(args.out_dir, f"{side}.jsonl"),
                              "a") as f:
                        f.write(json.dumps(row) + "\n")
                    print(f"{workload} seed {seed} {side}: "
                          f"correct={row['correct']} failed={row['failed']} "
                          + " ".join(f"{k}={v['value']:.4g}" for k, v
                                     in row["metrics"].items()), flush=True)
                if problems:
                    print(f"{workload} seed {seed} {side}: "
                          + "; ".join(problems), file=sys.stderr)
                    return 1
    print("no process left after any run", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
