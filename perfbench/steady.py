"""Check that the benchmark is steady: run each workload on several seeds
and report, per end-to-end metric, the median and the distance between
the first and third quartile as a share of the median, against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload customer_recs ...]

Run from the repository root. Runs are sequential; nothing else should
run on the host meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append",
                   choices=[w["name"] for w in spec["workloads"]])
    args = p.parse_args(argv)
    steady = True
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            proc = subprocess.run(
                [*spec["command"], "--workload", workload, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=False)
            if proc.returncode != 0:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        for m in spec["end_to_end"]:
            vals = values[m["name"]]
            spread = stats.relative_spread(vals)
            ok = spread < m["bound"] / 3
            steady &= ok
            print(json.dumps({"workload": workload, "metric": m["name"],
                              "median": statistics.median(vals),
                              "spread": round(spread, 4),
                              "bound": m["bound"], "steady": ok,
                              "values": vals}), flush=True)
    return 0 if steady else 2


if __name__ == "__main__":
    sys.exit(main())
