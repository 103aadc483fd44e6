"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload recs_dispatch --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. Inputs are generated from --seed; the
timed phase lasts --seconds; outputs are checked after it. The last line
of standard output is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the per-layer
metrics (from a traced run) with --trace 1. Lines before it that start
with '#' describe the generated dataset, the failures and the latency
sample. The exit code is 1 when an output check or an operation fails.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys

import metrics
import sparkproc
from tracing import Tracer, attach_event_counts, read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclasses.dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    trace: bool
    work_dir: str
    tracer: Tracer
    info: dict = dataclasses.field(default_factory=dict)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.work_dir, "data")

    @property
    def event_log_dir(self) -> str | None:
        return os.path.join(self.work_dir, "eventlog") if self.trace else None

    def finish_trace(self) -> list[dict]:
        """After Spark has stopped: attribute event-log jobs and shuffle
        bytes to spans, write the spans out, return them."""
        attach_event_counts(self.tracer.spans,
                            read_event_log(self.event_log_dir))
        self.tracer.write(os.path.join(self.work_dir, "spans.jsonl"))
        return self.tracer.spans


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def result_line(res: dict, trace: bool) -> dict:
    """The final JSON object: every declared metric of the run's kind, by
    name with its unit; a per-layer metric the workload never reaches
    reads 0."""
    declared = metrics.PER_LAYER if trace else metrics.END_TO_END
    unknown = set(res["metrics"]) - set(declared)
    if unknown:
        raise KeyError(f"undeclared metrics {sorted(unknown)}")
    if not trace and set(res["metrics"]) != set(declared):
        raise KeyError(f"missing end-to-end metrics "
                       f"{sorted(set(declared) - set(res['metrics']))}")
    return {"correct": bool(res["correct"]),
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {name: {"value": float(res["metrics"].get(name, 0.0)),
                               "unit": unit}
                        for name, unit in declared.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    work_dir = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  work_dir, Tracer())
    sparkproc.configure(work_dir, ctx.event_log_dir)
    sys.path.insert(0, ROOT)
    import batch
    import serving
    res = (batch if args.workload == "batch_registry" else serving).run(ctx)
    for key, value in ctx.info.items():
        print(f"# {key} {json.dumps(value, default=str)}")
    for err in res["errors"]:
        print(f"mismatch: {err}", file=sys.stderr)
    print(json.dumps(result_line(res, ctx.trace)), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
