"""Self-check of the benchmark itself.

    python3 lakebench/selfcheck.py [--fast]

First, checks that need no Spark and take seconds: the independent
reference against the golden Haversine and risk cases, the generators'
determinism and input make-up, and that ``run.py`` refuses to run
without the engine. Then (unless ``--fast``) every workload of
BENCHMARK.json runs at the tiny size, untraced and traced, and its
result line is checked against BENCHMARK.json: the keys, every metric
name and unit, ``correct``, and non-zero end-to-end values. Exits 1 on
the first failure.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference as ref  # noqa: E402


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {msg}")
    print(f"ok  {msg}")


def reference_goldens() -> None:
    d = ref.haversine_km
    check(abs(d(48.85, 2.35, 48.85, 2.35)) < 0.01, "haversine d(A, A) = 0")
    check(380 < d(48.8566, 2.3522, 45.7640, 4.8357) < 410, "haversine Paris-Lyon in (380, 410) km")
    check(575 < d(48.8566, 2.3522, 43.6047, 1.4442) < 605, "haversine Paris-Toulouse in (575, 605) km")
    check(math.isclose(d(48.0, 1.0, 44.0, 5.0), d(44.0, 5.0, 48.0, 1.0), rel_tol=1e-6),
          "haversine symmetric")
    calm = {"current": {"weather_code": 0, "wind_gusts_10m": 0.0, "precipitation": 0.0,
                        "visibility": 10000.0, "cloud_cover": 0}}
    worst = {"current": {"weather_code": 95, "wind_gusts_10m": 85.0, "precipitation": 6.0,
                         "visibility": 500.0, "cloud_cover": 90}}
    import numpy as np

    air, low = np.array([False]), np.array([100.0])
    check(ref.risk_terms(calm, air, np.array([10000.0]))[0] == 0, "risk of calm cruise = 0")
    check(ref.risk_terms(worst, air, low)[0] == 130, "risk worst case = 130")
    check(ref.risk_terms(calm, np.array([True]), low)[0] == 0, "on-ground low altitude adds 0")
    check(ref.risk_terms(calm, air, np.array([np.nan]))[0] == 0, "missing altitude adds 0")
    cats = ref.risk_category(np.array([0, 29, 30, 59, 60, 130])).tolist()
    check(cats == ["LOW", "LOW", "MEDIUM", "MEDIUM", "HIGH", "HIGH"], "risk category thresholds 30 / 60")


def generators() -> None:
    kinds = ["mixed", "cruise", "empty"]
    a = json.dumps(gen.minute_snapshots(3, 50, kinds))
    check(a == json.dumps(gen.minute_snapshots(3, 50, kinds)), "minute snapshots: same seed, same inputs")
    check(a != json.dumps(gen.minute_snapshots(4, 50, kinds)), "minute snapshots: seed changes inputs")
    feed = gen.SnapshotFeed(3, 400, churn=0.05)
    docs = [feed.next("empty" if i == 2 else "mixed") for i in range(4)]
    again = gen.SnapshotFeed(3, 400, churn=0.05)
    check(json.dumps(docs) == json.dumps([again.next("empty" if i == 2 else "mixed") for i in range(4)]),
          "stream feed: same seed, same inputs")
    check(docs[2]["states"] is None, "stream feed: an empty minute is states null")
    keys = [{r[0] for r in d["states"]} for d in docs if d["states"]]
    check(all(len(k) == 400 for k in keys), "stream feed: each aircraft once per whole-box snapshot")
    check(0 < len(keys[0] - keys[1]) < 400 // 4, "stream feed: keys recur between minutes, with churn")


def stream_judge() -> None:
    """The stream's verdicts on hand-made tables: the latest rows pass,
    the nearest-station rows are the known fault, anything else fails."""
    import pandas as pd
    import workloads

    w = [{"latitude": 48.0, "longitude": 2.0,
          "current": {"weather_code": 0, "wind_gusts_10m": 0.0, "precipitation": 0.0,
                      "visibility": 10000.0, "cloud_cover": 0}}]
    def row(lat, alt):
        return ["abc123", "X", "France", 0, 0, 2.0, lat, alt, False, 200.0, 0.0, 0.0,
                None, alt, "0000", False, 0]
    minutes = [[row(48.1, 9000.0)], [row(48.5, 200.0)]]  # moving away from the station
    batch = ref.batch_rows(minutes, w)
    truth = {k: rows[-1] for k, rows in batch.items()}
    modelled = {k: ref.nearest_rows(rows) for k, rows in batch.items()}

    def table(lat, dist, risk, cat):
        return pd.DataFrame({"icao24": ["abc123"], "latitude": [lat], "longitude": [2.0],
                             "dist_km": [dist], "risk_score": [risk], "risk_category": [cat],
                             "flight_phase": ["Cruise"], "baro_altitude": [9000.0],
                             "velocity": [200.0], "vertical_rate": [0.0],
                             "is_anomaly": [False], "anomaly_score": [0.1]})
    latest, nearest = truth["abc123"], modelled["abc123"][0]
    check(nearest[0] == 48.1 and latest[0] == 48.5, "fault model keeps the nearer, older row")
    verdict = workloads.judge_stream_table(table(latest[0], *latest[2:]), {"abc123"}, truth, modelled)
    check(verdict == (None, False), "stream judge: the latest row passes")
    verdict = workloads.judge_stream_table(table(nearest[0], *nearest[2:]), {"abc123"}, truth, modelled)
    check(verdict[1] is True, "stream judge: the nearest-station row is the known fault")
    verdict = workloads.judge_stream_table(table(48.3, latest[2], 0, "LOW"), {"abc123"}, truth, modelled)
    check(verdict[0] and verdict[1] is False, "stream judge: any other row is a plain failure")


def refuses_without_engine() -> None:
    bare = os.path.join(ROOT, ".lakebench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "lakebench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run([sys.executable, "lakebench/run.py", "--workload", "minute_cadence",
                               "--seed", "1", "--seconds", "1", "--trace", "0"],
                              cwd=bare, capture_output=True, text=True, timeout=180)
        check(proc.returncode != 0 and not proc.stdout.strip(),
              "run.py exits non-zero with no result where the engine is absent")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def tiny_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"], "--seed", "1",
                 "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            check(proc.returncode == 0, f"{w['name']} trace={trace} exits 0")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, "result keys")
            check(res["correct"] and res["attempted"] >= 1,
                  f"{w['name']} trace={trace} correct, {res['failed']}/{res['attempted']} failed")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w['name']} trace={trace} prints every {key} metric with its unit"
                  + ("" if got == want else f" (differs: {sorted(set(got.items()) ^ set(want.items()))})"))
            if trace == 0:
                vals = [v["value"] for v in res["metrics"].values()]
                check(all(math.isfinite(v) and v > 0 for v in vals), "end-to-end values finite and > 0")


def main(argv=None) -> int:
    fast = "--fast" in (argv if argv is not None else sys.argv[1:])
    reference_goldens()
    generators()
    stream_judge()
    refuses_without_engine()
    if not fast:
        tiny_runs()
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
