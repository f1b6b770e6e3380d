"""Steadiness check: two sets of runs of the same commit.

    python3 lakebench/steady.py [--runs 10] [--workloads a,b] [--seconds N] [--sets 1|2]

For each workload, runs ``--runs`` seeds (1..N) twice over. For every
end-to-end metric of BENCHMARK.json it prints, per set, the median and
the spread (distance between the first and third quartile, as a share
of the median), and the shift of the second set's median against the
first in the metric's worse direction. A metric passes when both
spreads are within its bound (``setup_s`` is exempt from the spread
test) and the shift is too; the share of failed operations must be
identical in both sets. Exits 1 if anything fails.
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


def one_run(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--sets", type=int, choices=(1, 2), default=2,
                   help="1: one set, spreads only (for tuning)")
    p.add_argument("--out", help="write every run's result line to this JSON file")
    args = p.parse_args(argv)

    ok, results = True, {}
    for workload in args.workloads.split(","):
        sets = [[one_run(workload, seed, args.seconds) for seed in range(1, args.runs + 1)]
                for _ in range(args.sets)]
        results[workload] = sets
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(results, fh)
        print(f"== {workload}: {args.runs} seeds x {args.sets} set(s)")
        shares = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
        correct = all(r["correct"] for s in sets for r in s)
        print(f"   correct={correct}  failed share " + " / ".join(f"{x:.4f}" for x in shares))
        ok &= correct and len(set(shares)) == 1
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
            med = [statistics.median(v) for v in vals]
            spr = [spread(v) for v in vals]
            sign = 1 if m["better"] == "lower" else -1
            shift = sign * (med[-1] - med[0]) / med[0]
            passed = shift <= bound and (name == "setup_s" or max(spr) <= bound)
            ok &= passed
            print(f"   {name:16s} median " + " ".join(f"{x:12.5g}" for x in med) + "  spread "
                  + " ".join(f"{x:6.3f}" for x in spr) + f"  worse-shift {shift:+6.3f}  "
                  f"bound {bound:5.2f} (a third: {bound / 3:5.3f})  {'ok' if passed else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
