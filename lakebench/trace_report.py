"""Traced run of one workload, with its overhead.

    python3 lakebench/trace_report.py --workload minute_cadence --seed 1 [--seconds 15]

Runs the workload twice with the same seed: untraced, then with
``--trace 1`` (spans around the layers' public functions, Spark's
event log on). Prints the per-span table (wall, Spark jobs, tasks, task
CPU, shuffle and spill bytes, GC, and wall with no job of the span
running), the other per-layer counters, and the tracing overhead: the
traced run's end-to-end figures against the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layertrace import SPAN_COUNTERS, SPANS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int, extra: list[str]) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                          timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--size", default="full")
    args = p.parse_args(argv)
    extra = ["--size", args.size]
    plain = run(args.workload, args.seed, args.seconds, 0, extra)
    traced = run(args.workload, args.seed, args.seconds, 1, extra)
    m = {k: v["value"] for k, v in traced["metrics"].items()}

    cols = SPAN_COUNTERS
    print(f"per-span counters, per round ({args.workload}, seed {args.seed})")
    print(f"{'span':32s}" + "".join(f"{c:>14s}" for c in cols))
    for span in SPANS:
        print(f"{span:32s}" + "".join(f"{m[f'{span}.{c}']:14.4g}" for c in cols))
    print()
    shown = {f"{s}.{c}" for s in SPANS for c in cols}
    for k in sorted(set(m) - shown):
        print(f"{k:40s} {m[k]:14.6g} {traced['metrics'][k]['unit']}")
    print()
    print("tracing overhead (traced vs untraced, same seed)")
    for k in (k for k in plain["metrics"] if f"e2e.{k}" in m):
        a, b = plain["metrics"][k]["value"], m[f"e2e.{k}"]
        print(f"  {k:16s} untraced {a:12.5g}  traced {b:12.5g}  ratio {b / a:7.3f}")
    print(f"  correct {plain['correct']}/{traced['correct']}  "
          f"failed {plain['failed']}/{plain['attempted']} and {traced['failed']}/{traced['attempted']}")
    return 0 if plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
