"""Benchmark entry point.

    python3 lakebench/run.py --workload minute_cadence --seed 1 --seconds 15 --trace 0

Runs one workload from the root of a checkout of the engine and prints,
as its last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of BENCHMARK.json; with ``--trace 1`` the run records
spans and Spark's event log and prints the per-layer ones instead.
Exits non-zero without a result line when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

UNITS = {"setup_s": "s", "op_wall_ms": "ms", "round_wall_s": "s", "heap_live_mb": "MB"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-check")
    p.add_argument("--cores", type=int, default=0, help="local[N]; 0 = min(4, nproc)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "skysafe_datalake_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()

    import sparkenv
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work, sparkenv, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, sparkenv, workloads) -> dict:
    t_in = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.size, work)
    n_cores = args.cores or sparkenv.cores()

    t0 = time.perf_counter()
    spark = sparkenv.start(work, n_cores, event_log=bool(args.trace))
    t1 = time.perf_counter()
    tracer = None
    try:
        warmup_error = wl.warmup(spark)
        t2 = time.perf_counter()
        if args.trace:
            import layertrace

            tracer = layertrace.Tracer(spark)
            layertrace.install(tracer)
        window_start = time.time()
        ops, round_walls, rounds = [], [], 0
        start = time.perf_counter()
        while rounds == 0 or time.perf_counter() - start < args.seconds:
            round_ops, wall = wl.run_round(spark, tracer)
            ops += round_ops
            round_walls.append(wall)
            rounds += 1
        window_end = time.time()
        t3 = time.perf_counter()
        rss = sparkenv.peak_rss_mb(spark)
        heap = sparkenv.heap_live_mb(spark)
    finally:
        if tracer is not None:
            tracer.uninstall()
        sparkenv.stop(spark)
    print(f"phases: inputs {t0 - t_in:.1f} s, session {t1 - t0:.1f} s, warm-up {t2 - t1:.1f} s, "
          f"{rounds} round(s) with checks {t3 - t2:.1f} s, stop {time.perf_counter() - t3:.1f} s",
          file=sys.stderr)

    if warmup_error:
        print(f"warm-up: FAILED: {warmup_error}", file=sys.stderr)
    for o in ops:
        if not o["ok"]:
            print(f"{o['kind']}: {'known fault' if o['known_fault'] else 'FAILED'}: {o['error']}",
                  file=sys.stderr)
    metrics = {"setup_s": t2 - t0, **wl.end_to_end(ops, round_walls), "heap_live_mb": heap}
    if args.trace:
        import layertrace

        layer = layertrace.summarise(tracer, layertrace.read_event_log(os.path.join(work, "eventlog")),
                                (window_start, window_end), rounds)
        layer.update({"session.create_s": t1 - t0, "session.warmup_s": t2 - t1,
                      "mem.peak_rss_mb": rss})
        layer.update(stream_metrics(getattr(wl, "progress", []), rounds))
        layer.update({f"e2e.{k}": v for k, v in metrics.items() if k != "setup_s"})
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
    else:
        out_metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    failed = sum(not o["ok"] for o in ops)
    correct = warmup_error is None and all(o["ok"] or o["known_fault"] for o in ops)
    return {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": out_metrics}


STREAM_DURATIONS = {"add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
                    "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
                    "latest_offset_ms": "latestOffset"}


def stream_metrics(progress: list[dict], rounds: int) -> dict[str, float]:
    """Micro-batch phase times (median per batch) from the stream's
    ``StreamingQueryProgress``; zeros on workloads without a stream."""
    out = {"stream.batches": len(progress) / rounds}
    for name, key in STREAM_DURATIONS.items():
        vals = [p["durationMs"].get(key, 0) for p in progress]
        out[f"stream.{name}"] = float(statistics.median(vals)) if vals else 0.0
    return out


def unit_of(metric: str) -> str:
    if metric.startswith("e2e."):
        return UNITS[metric[4:]]
    last = metric.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
