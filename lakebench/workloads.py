"""The benchmark's workloads. Each makes its inputs from the seed,
runs one untimed warm-up unit, then runs whole rounds of the same
operations through the engine's public entry points, checking every
operation's output against ``reference``.

An operation record is ``{kind, wall_s, ok, known_fault, error}``;
``known_fault`` marks a failure the benchmark expects, caused by a named
fault of the program and recognised by its exact symptom (see
MinuteCadence and StreamBacklog).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from datetime import datetime, timedelta, timezone

import gen
import reference as ref

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
USAGE_COLS = ("icao24", "latitude", "longitude", "dist_km", "risk_score", "risk_category",
              "flight_phase", "baro_altitude", "velocity", "vertical_rate",
              "is_anomaly", "anomaly_score")

# Inputs per size: aircraft per snapshot, aircraft of the warm-up
# minute, and snapshots per stream micro-batch.
SIZES = {
    "full": {"aircraft": 2000, "warmup_aircraft": 50, "stream_minutes": 4},
    "tiny": {"aircraft": 60, "warmup_aircraft": 20, "stream_minutes": 4},
}


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _op(kind: str, wall_s: float, error: str | None = None, known_fault: bool = False) -> dict:
    return {"kind": kind, "wall_s": wall_s, "ok": error is None,
            "known_fault": known_fault, "error": error}


def fixture_clients(doc: dict, weather: list[dict], ts: datetime):
    """OpenSky / Open-Meteo clients whose transport serves the
    generated documents through the production fetch code (token
    exchange, per-station loop, ``_extracted_at`` stamping)."""
    from skysafe_datalake_spark.sources import ingest

    by_point = {(w["latitude"], w["longitude"]): w for w in weather}

    def transport(method, url, *, params=None, data=None, json_body=None,
                  headers=None, timeout=None):
        if url == ingest.OPENSKY_TOKEN_URL:
            return {"access_token": "bench", "expires_in": 1800}
        if url.endswith("/states/all"):
            if (headers or {}).get("Authorization") != "Bearer bench":
                raise ingest.HttpError("401")
            return json.loads(json.dumps(doc))
        return json.loads(json.dumps(by_point[(params["latitude"], params["longitude"])]))

    clock = lambda: ts + timedelta(seconds=30)  # noqa: E731
    return (ingest.OpenSkyClient(transport, client_id="bench", client_secret="bench", clock=clock),
            ingest.OpenMeteoClient(transport, clock=clock))


def _walls(ops: list[dict], kind: str | None = None) -> list[float]:
    """Walls of the operations that passed or hit the known fault (of
    all of them when none did: the run then reports correct=false)."""
    ops = [o for o in ops if kind is None or o["kind"] == kind]
    return [o["wall_s"] for o in [o for o in ops if o["ok"] or o["known_fault"]] or ops]


class MinuteCadence:
    """Minute runs of ``plans.pipeline.run_batch_pipeline`` into one
    persistent ``LakeCatalog``, and the analytic queries the same
    session serves beside them (QuerySuite). The warm-up unit is a small
    all-cruise minute (rules fallback, checked like the rest) and one
    pass of the queries; a round is a heterogeneous minute (K-Means
    path), an empty snapshot (``"states": null``) and one pass of the
    queries.

    The empty minute is the known fault: its correct outcome is an
    empty enriched and usage partition, but the program republishes the
    previous minute's aircraft (a zero-row write leaves the hour
    partition as it was), so it fails every round. It counts as the
    known fault only with exactly that symptom, or with the zero-row
    ``classify_phases`` failure; anything else is a plain failure.
    """

    name = "minute_cadence"

    def __init__(self, seed: int, size: str, work: str):
        cfg = SIZES[size]
        self.work = work
        self.warm = gen.minute_snapshots(seed + 7919, cfg["warmup_aircraft"], ["cruise"])[0]
        self.round = gen.minute_snapshots(seed, cfg["aircraft"], ["mixed", "empty"])
        self.points = [{"latitude": a, "longitude": b} for a, b in gen.STATIONS]
        self.minute = 0
        self.previous = self.warm
        self.queries = QuerySuite(seed, size, work)

    def end_to_end(self, ops: list[dict], round_walls: list[float]) -> dict:
        """op_wall_ms: median wall of a populated minute run;
        round_wall_s: median wall of a round (its minutes and queries
        summed)."""
        return {"op_wall_ms": 1000.0 * statistics.median(_walls(ops, "mixed")),
                "round_wall_s": statistics.median(round_walls)}

    def _run(self, spark, snap: dict, tracer=None):
        from skysafe_datalake_spark.catalog import LakeCatalog
        from skysafe_datalake_spark.plans.pipeline import run_batch_pipeline

        ts = BASE_TS + timedelta(minutes=self.minute)
        self.minute += 1
        fc, wc = fixture_clients(snap["flights"], snap["weather"], ts)
        cat = LakeCatalog(os.path.join(self.work, "lake"))
        t0 = time.perf_counter()
        with _span(tracer, "pipeline.minute"):
            result = run_batch_pipeline(spark, cat, fc, wc, ts=ts, weather_points=self.points)
        return time.perf_counter() - t0, result, ts

    def warmup(self, spark) -> str | None:
        _wall, result, ts = self._run(spark, self.warm)
        errors = [self.check(spark, self.warm, result, ts)[0], self.queries.warmup(spark)]
        return "; ".join(e for e in errors if e) or None

    def run_round(self, spark, tracer=None) -> tuple[list[dict], float]:
        """The round's operations, its minutes then its queries, and
        its wall: the sum of theirs."""
        ops = []
        for snap in self.round:
            kind = snap["kind"]
            t0 = time.perf_counter()
            try:
                wall, result, ts = self._run(spark, snap, tracer)
            except Exception as exc:  # a failed minute is counted, not fatal
                msg = f"{type(exc).__name__}: {exc}"
                ops.append(_op(kind, time.perf_counter() - t0, msg, known_fault=(
                    kind == "empty" and ZERO_ROW_FIT in msg)))
                continue
            error, known = self.check(spark, snap, result, ts)
            ops.append(_op(kind, wall, error, known_fault=known))
            if snap["flights"]["states"]:
                self.previous = snap
        ops += self.queries.run_round(spark, tracer)
        return ops, sum(o["wall_s"] for o in ops)

    def check(self, spark, snap: dict, result, ts: datetime) -> tuple[str | None, bool]:
        """(error or None, whether the error is the known fault)."""
        date, hour = ts.strftime("%Y-%m-%d"), ts.strftime("%H")
        out = (spark.read.parquet(result.usage_path)
               .where(f"date = '{date}' AND hour = '{hour}'")
               .select(*USAGE_COLS).toPandas())
        try:
            ref.check_rows(out, ref.expected_rows(snap["flights"]["states"], snap["weather"]))
            if len(out):
                ref.check_phases(out, result.model_info.used_kmeans)
                ref.check_anomaly(out)
            want_kmeans = snap["kind"] == "mixed"
            if len(out) and result.model_info.used_kmeans != want_kmeans:
                raise ref.CheckError(f"{snap['kind']} minute took the "
                                     f"{'K-Means' if result.model_info.used_kmeans else 'rules'} path")
        except ref.CheckError as exc:
            if snap["kind"] != "empty":
                return str(exc), False
            # The known fault: the previous minute's aircraft, enriched
            # with this minute's weather.
            try:
                ref.check_rows(out, ref.expected_rows(self.previous["flights"]["states"],
                                                      snap["weather"]))
            except ref.CheckError as other:
                return f"{exc}; not the previous minute's rows either: {other}", False
            return f"{exc}: the previous minute's {len(out)} rows, republished", True
        return None, False


# The message Spark's StandardScaler raises when fitted on zero rows.
ZERO_ROW_FIT = "Nothing has been added to this summarizer"


class StreamBacklog:
    """A backlog of whole-box minute snapshots, one raw file per minute,
    replayed by ``streaming.driver.run_flights_stream(available_now=True)``
    into the hash-bucketed upsert table.

    The warm-up unit is the backlog's first minute, alone in its
    micro-batch. A round adds the next ``stream_minutes`` snapshots,
    one of them ``"states": null``, and drains them with another
    catch-up run on the same checkpoint and table: one micro-batch that
    reads and rewrites the buckets its keys touch.

    The micro-batch is the known fault. It holds several snapshots of
    each aircraft, and the combine stage's nearest-station join groups
    the batch by ``icao24`` alone, so each aircraft keeps its row nearest
    a station instead of its latest. The output is checked twice: against
    the latest row per key, and, when that fails, against a model of the
    fault (``reference.nearest_rows``); the batch counts as the known
    fault only if the table equals the model exactly.
    """

    name = "stream_backlog"
    EMPTY_AT = 2  # position of the null snapshot in each round's batch

    def __init__(self, seed: int, size: str, work: str):
        cfg = SIZES[size]
        self.dir = os.path.join(work, "stream")
        self.feed = gen.SnapshotFeed(seed + 1_000_003, cfg["aircraft"], churn=0.05)
        self.batch_minutes = cfg["stream_minutes"]
        self.weather_docs = gen.weather_docs(seed, 0)
        self.truth: dict[str, tuple] = {}       # key -> its latest positioned row
        self.modelled: dict[str, list] = {}     # key -> rows the known fault may keep
        self.progress: list[dict] = []

    def end_to_end(self, ops: list[dict], round_walls: list[float]) -> dict:
        """op_wall_ms: median ``durationMs.triggerExecution`` of the
        micro-batches; round_wall_s: median catch-up run wall, start to
        terminated."""
        return {"op_wall_ms": 1000.0 * statistics.median(_walls(ops)),
                "round_wall_s": statistics.median(round_walls)}

    def _weather(self, spark):
        from skysafe_datalake_spark.sources import openmeteo

        path = os.path.join(self.dir, "weather.json")
        with open(path, "w") as fh:
            for d in self.weather_docs:
                fh.write(json.dumps(dict(d, _extracted_at=_stamp(0))) + "\n")
        return openmeteo.format_weather(spark.read.schema(openmeteo.RAW_SCHEMA).json(path))

    def _replay(self, spark, docs: list[dict], tracer=None) -> tuple[float, list[dict]]:
        """Write ``docs`` to the raw layer and drain them; the catch-up
        run's wall and its data micro-batches."""
        from skysafe_datalake_spark.streaming.driver import run_flights_stream

        for doc in docs:
            gen.write_snapshot(doc, os.path.join(self.dir, "raw"),
                               _stamp((doc["time"] - gen.minute_epoch(0)) // 60))
        t0 = time.perf_counter()
        with _span(tracer, "stream.replay"):
            q = run_flights_stream(spark, os.path.join(self.dir, "raw"), self.weather,
                                   os.path.join(self.dir, "usage"), os.path.join(self.dir, "ckpt"),
                                   available_now=True)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def warmup(self, spark) -> str | None:
        os.makedirs(self.dir, exist_ok=True)
        self.weather = self._weather(spark)
        docs = [self.feed.next()]
        self._replay(spark, docs)
        error, _known = self._check(spark, docs)
        return error

    def run_round(self, spark, tracer=None) -> tuple[list[dict], float]:
        """One operation, the round's micro-batch; the round's wall is
        the catch-up run's."""
        docs = [self.feed.next("empty" if i == self.EMPTY_AT else "mixed")
                for i in range(self.batch_minutes)]
        t0 = time.perf_counter()
        try:
            wall, batches = self._replay(spark, docs, tracer)
        except Exception as exc:
            wall = time.perf_counter() - t0
            return [_op("batch", wall, f"{type(exc).__name__}: {exc}")], wall
        self.progress.extend(batches)
        error, known = self._check(spark, docs)
        if len(batches) != 1:
            error, known = f"{len(batches)} micro-batches for one backlog round", False
        ms = batches[0]["durationMs"]["triggerExecution"] if batches else wall * 1000.0
        return [_op("batch", ms / 1000.0, error, known)], wall

    def _check(self, spark, docs: list[dict]) -> tuple[str | None, bool]:
        """(error or None, whether the error is the known fault), for the
        table after the micro-batch of ``docs``."""
        batch = ref.batch_rows([d["states"] for d in docs], self.weather_docs)
        for k, rows in batch.items():
            self.truth[k] = rows[-1]
            self.modelled[k] = ref.nearest_rows(rows)
        out = spark.read.parquet(os.path.join(self.dir, "usage")).select(*USAGE_COLS).toPandas()
        return judge_stream_table(out, set(batch), self.truth, self.modelled)


def judge_stream_table(out, batch_keys: set, truth: dict, modelled: dict) -> tuple[str | None, bool]:
    """The stream's table ``out`` must hold one row per key seen so far,
    equal to ``truth`` (the key's latest positioned row), and the rows
    of the last micro-batch (``batch_keys``) must carry K-Means phase
    labels ordered by altitude and mean + 2 sigma anomaly flags. A table
    that misses ``truth`` but equals the fault model ``modelled`` (per
    key, the rows ``reference.nearest_rows`` admits) is the known fault.
    Returns (error or None, whether the error is the known fault)."""
    mine = out[out["icao24"].isin(batch_keys)]
    try:
        ref.check_phases(mine, used_kmeans=True)
        ref.check_anomaly(mine)
    except ref.CheckError as exc:
        return str(exc), False
    try:
        ref.check_rows(out, truth)
    except ref.CheckError as exc:
        # Of a key's admissible rows, expect the one at the table's
        # position, if any.
        seen = dict(zip(out["icao24"], zip(out["latitude"], out["longitude"])))
        expected = {k: next((r for r in rows if (r[0], r[1]) == seen.get(k)), rows[0])
                    for k, rows in modelled.items()}
        try:
            ref.check_rows(out, expected)
        except ref.CheckError as other:
            return f"{exc}; not the modelled fault either: {other}", False
        return f"{exc}: each aircraft kept its row nearest a station, not its latest", True
    return None, False


def _stamp(minute: int) -> str:
    """The collector's ``_extracted_at`` for a minute's snapshot."""
    return (BASE_TS + timedelta(minutes=minute, seconds=30)).isoformat()


class QuerySuite:
    """The analytic queries the session serves beside the minute job:
    one registry query per operator family, each built through its
    ``workload.registry`` callable and run with a count action, over
    seeded TPC-H-ish tables. Every result is compared with the query's
    registry ``ORACLE`` SQL run by DuckDB over the same parquet files."""

    QUERIES = {
        "tpch_q3_like": "relational: selective filter, 3-way join, grouped revenue, top-10",
        "sessionize_events": "window/temporal: gap sessionization",
        "countmin_heavyhitters": "sketches: count-min heavy hitters over document tokens",
        "streaming_windowed_counts": "streaming operators: watermarked tumbling windows",
        "skysafe_enriched": "SkySafe: operators.nn_join and functions.risk on synthetic flights",
    }
    SF = {"full": 0.01, "tiny": 0.001}

    def __init__(self, seed: int, size: str, work: str):
        self.tables = os.path.join(work, "tables")
        gen.write_tables(seed, self.tables, self.SF[size])
        self.oracle = self._oracle()

    def _oracle(self) -> dict:
        import duckdb
        from skysafe_datalake_spark.workload.registry import ORACLE

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.tables)):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(self.tables, f)}'")
            out = {}
            for name in self.QUERIES:
                rel = con.sql(ORACLE[name])
                out[name] = (list(rel.columns), rel.fetchall())
            return out
        finally:
            con.close()

    def _query(self, spark, name: str, tracer=None) -> tuple[float, float, object]:
        from skysafe_datalake_spark.workload.registry import QUERIES

        def timed(label, fn):
            t0 = time.perf_counter()
            with _span(tracer, label):
                out = fn()
            return time.perf_counter() - t0, out

        build, df = timed("registry.build", lambda: QUERIES[name](spark, self.tables))
        action, _n = timed("registry.action", df.count)
        return build, action, df

    def _check(self, name: str, df) -> str | None:
        try:
            ref.check_result(df.columns, df.collect(), *self.oracle[name])
        except ref.CheckError as exc:
            return f"{name}: {exc}"
        return None

    def warmup(self, spark) -> str | None:
        errors = [self._check(n, self._query(spark, n)[2]) for n in self.QUERIES]
        return "; ".join(e for e in errors if e) or None

    def run_round(self, spark, tracer=None) -> list[dict]:
        """One operation per query (build + count). Results are compared
        with the oracle untimed."""
        ops = []
        for name in self.QUERIES:
            t0 = time.perf_counter()
            try:
                build, action, df = self._query(spark, name, tracer)
            except Exception as exc:
                ops.append(_op(name, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"))
                continue
            op = _op(name, build + action, self._check(name, df))
            ops.append(op)
        return ops


WORKLOADS = {w.name: w for w in (MinuteCadence, StreamBacklog)}
