"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the run's
``--seed``: OpenSky-shaped state-vector snapshots over the France
bounding box, Open-Meteo documents for the six fixed stations, and
the TPC-H-ish parquet tables the query suite scans. The same seed
gives byte-identical inputs. Nothing here imports the program.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

# France bounding box (lat_min, lat_max, lon_min, lon_max), the box the
# OpenSky collector queries.
BBOX = (41.3, 51.1, -5.1, 9.6)

# The six fixed weather stations the pipeline queries by default.
STATIONS = (
    (48.709632, 2.208563),
    (43.629421, 1.367789),
    (45.726009, 5.090928),
    (43.434242, 5.212784),
    (47.460152, -0.529704),
    (50.561237, 3.086957),
)

_COUNTRIES = ("France", "Germany", "Spain", "United Kingdom", "Italy",
              "Switzerland", "Belgium", "Netherlands", "Ireland", "Portugal")
_EPOCH0 = 1_767_225_600  # 2026-01-01T00:00:00Z


def minute_epoch(minute: int) -> int:
    return _EPOCH0 + 60 * minute


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# ───────────────────────────── fleet ─────────────────────────────────


@dataclass
class Fleet:
    """Aircraft over France with persistent identity and kinematics.

    Phases: 0 ground / takeoff-landing, 1 climb-descent, 2 cruise.
    ``step`` moves every aircraft one minute along its track and
    churns a share of keys: some leave the box, new ones appear.
    """

    icao: np.ndarray      # int, 24-bit address
    callsign: list
    country: np.ndarray   # index into _COUNTRIES
    phase: np.ndarray
    lat: np.ndarray
    lon: np.ndarray
    alt: np.ndarray
    vel: np.ndarray
    vr: np.ndarray
    track: np.ndarray
    rng: np.random.Generator
    next_icao: int

    @classmethod
    def create(cls, seed: int, n: int) -> "Fleet":
        rng = _rng(seed, 1)
        icao = rng.choice(np.arange(0x100000, 0x800000), size=n, replace=False)
        f = cls(icao=icao, callsign=[], country=np.zeros(n, int),
                phase=np.zeros(n, int), lat=np.zeros(n), lon=np.zeros(n),
                alt=np.zeros(n), vel=np.zeros(n), vr=np.zeros(n),
                track=np.zeros(n), rng=rng, next_icao=0x800000)
        f._fill(np.arange(n))
        return f

    def _fill(self, idx: np.ndarray) -> None:
        """(Re)draw every attribute of the aircraft at ``idx``."""
        rng, k = self.rng, len(idx)
        phase = rng.choice(3, size=k, p=(0.15, 0.35, 0.50))
        self.phase[idx] = phase
        self.lat[idx] = rng.uniform(BBOX[0], BBOX[1], k)
        self.lon[idx] = rng.uniform(BBOX[2], BBOX[3], k)
        self.track[idx] = rng.uniform(0.0, 360.0, k)
        self.country[idx] = rng.integers(0, len(_COUNTRIES), k)
        alt = np.where(phase == 0, rng.uniform(0.0, 280.0, k),
              np.where(phase == 1, rng.uniform(600.0, 6000.0, k),
                       rng.uniform(9500.0, 12000.0, k)))
        vel = np.where(phase == 0, rng.uniform(0.0, 55.0, k),
              np.where(phase == 1, rng.uniform(90.0, 190.0, k),
                       rng.uniform(210.0, 260.0, k)))
        vr = np.where(phase == 0, rng.uniform(-1.0, 1.0, k),
             np.where(phase == 1, rng.choice((-1.0, 1.0), k) * rng.uniform(5.0, 18.0, k),
                      rng.uniform(-1.5, 1.5, k)))
        self.alt[idx], self.vel[idx], self.vr[idx] = alt, vel, vr
        letters = rng.integers(0, 26, size=(k, 3))
        digits = rng.integers(0, 10000, size=k)
        names = ["".join(chr(65 + c) for c in row) + f"{d:04d}"
                 for row, d in zip(letters, digits)]
        if not self.callsign:
            self.callsign = names
        else:
            for j, i in enumerate(idx):
                self.callsign[i] = names[j]

    def step(self, churn: float) -> None:
        """Advance one minute: move, climb/descend, churn keys."""
        rng, n = self.rng, len(self.icao)
        dist_deg = self.vel * 60.0 / 111_000.0
        rad = np.radians(self.track)
        self.lat = self.lat + dist_deg * np.cos(rad)
        self.lon = self.lon + dist_deg * np.sin(rad) / np.cos(np.radians(self.lat))
        self.alt = np.clip(self.alt + self.vr * 60.0 * (self.phase == 1), 0.0, 12500.0)
        self.track = (self.track + rng.normal(0.0, 3.0, n)) % 360.0
        out = ((self.lat < BBOX[0]) | (self.lat > BBOX[1])
               | (self.lon < BBOX[2]) | (self.lon > BBOX[3]))
        out |= rng.random(n) < churn
        idx = np.flatnonzero(out)
        if len(idx):
            self.icao[idx] = np.arange(self.next_icao, self.next_icao + len(idx))
            self.next_icao += len(idx)
            self._fill(idx)


def _r(x: float, nd: int) -> float:
    return float(round(float(x), nd))


def state_rows(fleet: Fleet, minute: int, rng: np.random.Generator) -> list[list]:
    """OpenSky ``/states/all`` positional rows for the whole fleet, with
    the gaps real feeds have: missing positions, blank or missing
    callsigns, missing kinematics and a few extreme readings."""
    n = len(fleet.icao)
    t = minute_epoch(minute)
    u = rng.random((n, 6))
    extreme = rng.random(n) < 0.004
    rows = []
    for i in range(n):
        lat = _r(fleet.lat[i], 5)
        lon = _r(fleet.lon[i], 5)
        if u[i, 0] < 0.06:
            lat = lon = None
        cs = fleet.callsign[i].ljust(8)
        if u[i, 1] < 0.04:
            cs = None
        elif u[i, 1] < 0.08:
            cs = "        "
        alt, vel, vr = fleet.alt[i], fleet.vel[i], fleet.vr[i]
        if extreme[i]:
            alt, vel, vr = 14500.0, 330.0, -40.0
        alt = None if u[i, 2] < 0.02 else _r(alt, 2)
        vel = None if u[i, 3] < 0.02 else _r(vel, 2)
        vr = None if u[i, 4] < 0.02 else _r(vr, 2)
        on_ground = bool(fleet.phase[i] == 0 and fleet.vel[i] < 25.0)
        rows.append([
            f"{int(fleet.icao[i]):06x}", cs, _COUNTRIES[fleet.country[i]],
            t - int(u[i, 5] * 10), t, lon, lat, alt, on_ground, vel,
            _r(fleet.track[i], 2), vr, None,
            None if alt is None else _r(alt + 25.0, 2),
            f"{int(u[i, 5] * 4096) % 4096:04o}", False, int(u[i, 5] * 5),
        ])
    return rows


def cruise_rows(fleet: Fleet, minute: int) -> list[list]:
    """An all-cruise minute: every aircraft level at the same flight
    level and speed, every field present. K-Means cannot separate such
    a population, so the pipeline must take its rules fallback."""
    t = minute_epoch(minute)
    return [
        [f"{int(fleet.icao[i]):06x}", fleet.callsign[i].ljust(8),
         _COUNTRIES[fleet.country[i]], t, t, _r(fleet.lon[i], 5),
         _r(fleet.lat[i], 5), 11000.0, False, 250.0, _r(fleet.track[i], 2),
         0.0, None, 11025.0, "2000", False, 0]
        for i in range(len(fleet.icao))
    ]


def weather_docs(seed: int, minute: int) -> list[dict]:
    """One Open-Meteo current-weather document per station. Values
    straddle every risk threshold across minutes."""
    rng = _rng(seed, 2, minute)
    docs = []
    for lat, lon in STATIONS:
        precip = _r(rng.choice((0.0, rng.uniform(0.1, 5.0), rng.uniform(5.1, 12.0))), 1)
        docs.append({
            "latitude": lat, "longitude": lon,
            "elevation": _r(rng.uniform(0.0, 500.0), 1),
            "current": {
                "time": f"2026-01-01T{(minute // 60) % 24:02d}:{minute % 60:02d}",
                "temperature_2m": _r(rng.uniform(-10.0, 35.0), 1),
                "relative_humidity_2m": int(rng.integers(0, 101)),
                "wind_speed_10m": _r(rng.uniform(0.0, 80.0), 1),
                "wind_direction_10m": _r(rng.uniform(0.0, 360.0), 1),
                "wind_gusts_10m": _r(rng.choice((rng.uniform(0, 50), rng.uniform(50.5, 80),
                                                 rng.uniform(80.5, 120))), 1),
                "precipitation": precip,
                "rain": _r(precip * 0.8, 1),
                "cloud_cover": int(rng.integers(0, 101)),
                "weather_code": int(rng.choice((0, 3, 45, 61, 80, 95, 96))),
                "visibility": _r(rng.choice((rng.uniform(200, 999), rng.uniform(1000, 2999),
                                             rng.uniform(3000, 20000))), 0),
            },
        })
    return docs


class SnapshotFeed:
    """An endless feed of whole-box ``/states/all`` documents, one per
    minute, as the collector files them in the raw layer. Keys recur
    and move from minute to minute; ``churn`` of them leave per minute
    and new addresses appear."""

    def __init__(self, seed: int, n_aircraft: int, churn: float):
        self.fleet = Fleet.create(seed, n_aircraft)
        self.rng = _rng(seed, 3)
        self.churn = churn
        self.minute = 0

    def next(self, kind: str = "mixed") -> dict:
        """The next minute's document. Kinds: "mixed" (heterogeneous
        kinematics), "cruise" (see cruise_rows) and "empty" (OpenSky
        answers ``"states": null`` when no aircraft is in the box; the
        fleet still moves)."""
        m = self.minute
        states = (None if kind == "empty" else cruise_rows(self.fleet, m) if kind == "cruise"
                  else state_rows(self.fleet, m, self.rng))
        self.fleet.step(churn=self.churn)
        self.minute += 1
        return {"time": minute_epoch(m), "states": states}


# ───────────────────────── minute_cadence ────────────────────────────


def minute_snapshots(seed: int, n_aircraft: int, kinds: list[str]) -> list[dict]:
    """Minute_cadence inputs, one per entry of ``kinds`` (see
    SnapshotFeed.next): ``[{kind, minute, flights, weather}]`` where
    ``flights`` is the ``/states/all`` payload."""
    feed = SnapshotFeed(seed, n_aircraft, churn=0.03)
    return [{"kind": kind, "minute": m, "flights": feed.next(kind), "weather": weather_docs(seed, m)}
            for m, kind in enumerate(kinds)]


# ───────────────────────── stream_backlog ────────────────────────────


def write_snapshot(doc: dict, raw_dir: str, extracted_at: str) -> None:
    """Write one snapshot as the raw layer holds it: one JSON file per
    minute, with the minute as its modification time so the stream
    source takes files in minute order."""
    os.makedirs(raw_dir, exist_ok=True)
    ts = doc["time"]
    path = os.path.join(raw_dir, f"m{ts}.json")
    with open(path, "w") as fh:
        fh.write(json.dumps(dict(doc, _extracted_at=extracted_at), separators=(",", ":")))
    os.utime(path, (ts, ts))


# ─────────────────────────── query_suite ─────────────────────────────

_WORDS = ("data", "spark", "query", "plan", "stream", "batch", "table", "column",
          "join", "sort", "order", "line", "part", "small", "large", "fast",
          "model", "token", "index", "cache", "shard", "merge", "window", "graph",
          "node", "edge", "rank", "score", "lake", "flight", "risk", "phase")


def write_tables(seed: int, out_dir: str, sf: float) -> None:
    """TPC-H-ish star schema plus events, documents and embeddings, with
    the column names and types of the engine's test tables, scaled by
    ``sf`` (sf=0.1: 600k lineitems, 100k events)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 5)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(50, int(50_000 * sf)), max(20, int(20_000 * sf))
    i32 = pa.int32()
    day = np.datetime64("1995-01-01", "us")
    us_day = np.timedelta64(86_400_000_000, "us")

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    sizes = rng.choice(["small", "medium", "large"], n_part)
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{s} {w}" for s, w in zip(sizes, rng.choice(_WORDS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1100, n_part).astype(float), 2)})
    o_date = day + rng.integers(0, 2404, n_ord) * us_day
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    line_no = np.ones(n_line, dtype=np.int32)
    same = np.flatnonzero(l_order[1:] == l_order[:-1]) + 1
    for j in same:  # running number within an order
        line_no[j] = line_no[j - 1] + 1
    qty = rng.integers(1, 51, n_line).astype(float)
    write("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(line_no, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(o_date[np.minimum(l_order, n_ord - 1)]
                               + rng.integers(1, 122, n_line) * us_day,
                               pa.timestamp("us"))})
    t0 = np.datetime64("2024-01-01", "us")
    ev_ts = t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_ev * 3 // 200), n_ev),
        "event_type": rng.choice(["click", "view", "purchase", "error", "signup"], n_ev),
        "value": np.round(rng.uniform(0.0, 100.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    n_words = rng.integers(8, 60, n_doc)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in n_words]
    dup = rng.random(n_doc) < 0.1  # near-duplicate documents
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "de", "zh", "es"], n_doc, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    dim = 64
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0.0, 0.3, (n_emb, dim))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
