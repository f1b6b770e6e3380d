"""Tracing from outside the program: spans around calls into the
layers' public functions, each span labelled as a Spark job group, and
Spark's JSON event log read back to attribute jobs, tasks, CPU,
shuffle, spill and GC to the span that launched them.

Spans stay in memory and are only summarised when the run ends. The
program is not edited: ``install`` rebinds module attributes to
wrappers and ``uninstall`` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
SPARK_COUNTERS = ("jobs", "tasks", "task_cpu_s", "shuffle_bytes", "spill_bytes", "gc_s")
SPAN_COUNTERS = ("wall_s",) + SPARK_COUNTERS + ("no_job_s",)

# Traced spans and the metric prefix each is reported under.
SPANS = (
    "ingest.extract_flights", "ingest.extract_weather",
    "pipeline.format_flights", "pipeline.format_weather",
    "pipeline.combine", "pipeline.usage",
    "phase_kmeans.classify_phases",
    "catalog.write", "catalog.read_latest",
    "usage.upsert_partitioned",
)
# Spans the benchmark opens around each timed operation.
OP_SPANS = ("pipeline.minute", "stream.replay", "registry.build", "registry.action")


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    t0: float
    t1: float = 0.0
    main: bool = False
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, Span] = {}
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[str] = []
        self._lock = threading.Lock()
        self._restore: list[tuple] = []

    def _stack(self) -> list[str]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        # Worker threads (the DAG's two legs, the stream's batch
        # callback) hang their spans under the main thread's open span.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        outer = self.sc.getLocalProperty(GROUP)  # e.g. the stream's own run id
        with self._lock:
            sid = f"lb{len(self.spans)}"
            span = self.spans[sid] = Span(sid, name, parent, time.time(),
                                          main=threading.current_thread() is self._main)
        stack.append(sid)
        self.sc.setLocalProperty(GROUP, sid)
        try:
            yield span
        finally:
            span.t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP, outer)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if after:
                    after(sp, args, kwargs, out, state)
                return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of each traced layer."""
    from skysafe_datalake_spark import catalog
    from skysafe_datalake_spark.plans import combine, pipeline
    from skysafe_datalake_spark.sources import ingest
    from skysafe_datalake_spark.streaming import driver

    def written(sp, args, kwargs, out, _state):
        date, hour = catalog.LakeCatalog.partition_values(kwargs.get("ts"))
        files = _data_files(os.path.join(out, f"date={date}", f"hour={hour}"))
        sp.attrs.update(files=len(files), bytes=sum(files.values()))

    def buckets(args, kwargs):
        table = args[1] if len(args) > 1 else kwargs["table_dir"]
        return table, _data_files(table) if os.path.isdir(table) else {}

    def rewritten(sp, args, kwargs, out, state):
        table, before = state
        after = _data_files(table)
        new = {p: n for p, n in after.items() if p not in before}
        sp.attrs.update(buckets=len({os.path.dirname(p) for p in new}),
                        bytes=sum(new.values()))

    tracer.wrap(ingest, "extract_flights", "ingest.extract_flights")
    tracer.wrap(ingest, "extract_weather", "ingest.extract_weather")
    for stage in ("format_flights", "format_weather", "combine", "usage"):
        tracer.wrap(pipeline, f"{stage}_stage", f"pipeline.{stage}")
    tracer.wrap(combine, "classify_phases", "phase_kmeans.classify_phases")
    tracer.wrap(catalog.LakeCatalog, "write", "catalog.write", after=written)
    tracer.wrap(catalog.LakeCatalog, "read_latest", "catalog.read_latest")
    tracer.wrap(driver, "upsert_partitioned", "usage.upsert_partitioned",
                before=buckets, after=rewritten)


# ───────────────────────────── event log ─────────────────────────────


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs as ``{id, group, t0, t1}`` and task counters summed per job
    group, from every finished event log under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "group": (ev.get("Properties") or {}).get(GROUP),
                                 "t0": ev["Submission Time"] / 1000.0, "t1": None}
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if jid is None or not m:
                        continue
                    c = per_job.setdefault(jid, dict.fromkeys(SPARK_COUNTERS[1:], 0))
                    c["tasks"] += 1
                    c["task_cpu_s"] += (m.get("Executor CPU Time", 0)
                                        + m.get("Executor Deserialize CPU Time", 0)) / 1e9
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    out = []
    for jid, job in sorted(jobs.items()):
        if job["t1"] is None:
            job["t1"] = job["t0"]
        job.update(per_job.get(jid, dict.fromkeys(SPARK_COUNTERS[1:], 0)))
        out.append(job)
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def summarise(tracer: Tracer, jobs: list[dict], window: tuple[float, float],
              rounds: int) -> dict[str, float]:
    """Per-layer metrics, as per-round means over the measured window.

    Each span's counters are inclusive: a job counts for the span that
    labelled it and for every enclosing span. A job whose group is not a
    span (jobs the stream's own thread starts, broadcast jobs) counts
    for the innermost main-thread span open when it was submitted.
    """
    spans = tracer.spans
    main = sorted((s for s in spans.values() if s.main), key=lambda s: s.t0)

    def owner(job) -> str | None:
        if job["group"] in spans:
            return job["group"]
        best = None
        for s in main:
            if s.t0 <= job["t0"] <= (s.t1 or job["t0"]):
                best = s.sid  # later starts are inner spans
        return best

    incl: dict[str, list[dict]] = {}
    for job in jobs:
        sid = owner(job)
        while sid is not None:
            incl.setdefault(sid, []).append(job)
            sid = spans[sid].parent

    t_lo, t_hi = window
    measured = [s for s in spans.values() if t_lo <= s.t0 and s.t1 <= t_hi]
    out: dict[str, float] = {}
    for name in SPANS + ("pipeline.minute",):
        acc = dict.fromkeys(SPAN_COUNTERS, 0.0)
        for s in (s for s in measured if s.name == name):
            mine = incl.get(s.sid, [])
            acc["wall_s"] += s.t1 - s.t0
            acc["jobs"] += len(mine)
            for k in SPARK_COUNTERS[1:]:
                acc[k] += sum(j[k] for j in mine)
            busy = _union_len([(max(j["t0"], s.t0), min(j["t1"], s.t1))
                               for j in mine if j["t1"] > s.t0 and j["t0"] < s.t1])
            acc["no_job_s"] += (s.t1 - s.t0) - busy
        if name == "pipeline.minute":
            out["pipeline.minute.no_job_s"] = acc["no_job_s"] / rounds
            continue
        for k, v in acc.items():
            out[f"{name}.{k}"] = v / rounds
    for attr, metric in (("files", "catalog.files_written"), ("bytes", "catalog.bytes_written")):
        out[metric] = sum(s.attrs.get(attr, 0) for s in measured if s.name == "catalog.write") / rounds
    for attr, metric in (("buckets", "usage.upsert.buckets_rewritten"),
                         ("bytes", "usage.upsert.bytes_rewritten")):
        out[metric] = sum(s.attrs.get(attr, 0)
                          for s in measured if s.name == "usage.upsert_partitioned") / rounds
    for phase in ("build", "action"):
        mine = [s for s in measured if s.name == f"registry.{phase}"]
        out[f"registry.{phase}_s"] = sum(s.t1 - s.t0 for s in mine) / rounds
        out[f"registry.{phase}_jobs"] = sum(len(incl.get(s.sid, [])) for s in mine) / rounds
    # Workload totals: every job under one of the benchmark's operation
    # spans (the untimed output checks run outside them).
    ops = {j["id"]: j for s in measured if s.name in OP_SPANS for j in incl.get(s.sid, [])}
    out["spark.jobs"] = len(ops) / rounds
    for k in SPARK_COUNTERS[1:]:
        out[f"spark.{k}"] = sum(j[k] for j in ops.values()) / rounds
    return out
