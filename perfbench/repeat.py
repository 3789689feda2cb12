"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload NAME --seeds 1-10 [--trace 0|1]

Runs ``run.py`` once per seed, one after another, with ``run_seconds``
from BENCHMARK.json, and prints per metric the median and the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median — the spread the metric's ``bound`` must cover.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main(argv: list[str] | None = None) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    first, last = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        cmd = [
            *bench["command"], "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t = time.time()
        proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        wall = time.time() - t
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        print(
            f"seed {seed}: exit {proc.returncode}, {wall:.1f}s wall, "
            f"correct={result.get('correct')} failed={result.get('failed')}",
            flush=True,
        )
        for name, m in result.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:32s} median {med:12.4f}  spread {spread:6.3f}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
