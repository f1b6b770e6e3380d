"""Independent output checks: NumPy recomputation of what the
pipeline must produce, from the generator's own rows, plus properties
the method must have. Nothing here imports the program.

The rules follow the reference pipeline (FIXTURES.md §3-4): nearest of
the six stations by Haversine distance (R = 6371 km), the additive
weather risk table, LOW < 30 <= MEDIUM < 60 <= HIGH, and the
aeronautical phase rules used when K-Means falls back.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_KM = 6371.0
DIST_TOL_KM = 1e-6          # float64 Haversine, different evaluation order
ANOMALY_TOL = 3e-4          # scores are published at 4 dp; see check_anomaly
PHASES = ("Takeoff / Landing", "Climb / Descent", "Cruise")


def flight_frame(states: list[list] | None) -> dict[str, np.ndarray]:
    """Positioned rows of one snapshot as columns. Rows without a
    position are dropped, as the format stage must drop them."""
    rows = [s for s in states or () if s[5] is not None and s[6] is not None]
    f = lambda i: np.array([np.nan if r[i] is None else float(r[i]) for r in rows])  # noqa: E731
    return {
        "icao24": np.array([r[0] for r in rows], dtype=object),
        "lon": f(5), "lat": f(6), "alt": f(7), "vel": f(9), "vr": f(11),
        "on_ground": np.array([bool(r[8]) for r in rows]),
    }


def haversine_km(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    s_dp = np.sin(np.radians(lat2 - lat1) / 2)
    s_dl = np.sin(np.radians(lon2 - lon1) / 2)
    a = s_dp * s_dp + np.cos(p1) * np.cos(p2) * s_dl * s_dl
    return 2.0 * EARTH_RADIUS_KM * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))


def risk_terms(w: dict, on_ground: np.ndarray, alt: np.ndarray) -> np.ndarray:
    """Additive risk score of each row against its station's weather."""
    c = w["current"]
    score = ((40 if c["weather_code"] >= 95 else 0)
             + (25 if c["wind_gusts_10m"] > 80 else 10 if c["wind_gusts_10m"] > 50 else 0)
             + (20 if c["precipitation"] > 5 else 10 if c["precipitation"] > 0 else 0)
             + (20 if c["visibility"] < 1000 else 10 if c["visibility"] < 3000 else 0)
             + (10 if c["cloud_cover"] > 80 else 5 if c["cloud_cover"] > 50 else 0))
    # A missing altitude never adds the low-altitude term (SQL NULL < 300).
    low = (~on_ground) & (np.nan_to_num(alt, nan=np.inf) < 300)
    return score + 15 * low.astype(int)


def risk_category(score: np.ndarray) -> np.ndarray:
    """LOW < 30 <= MEDIUM < 60 <= HIGH."""
    return np.where(score >= 60, "HIGH", np.where(score >= 30, "MEDIUM", "LOW"))


def expected_rows(states: list[list] | None, weather: list[dict]) -> dict[str, tuple]:
    """icao24 -> (lat, lon, dist_km, risk_score, risk_category)."""
    f = flight_frame(states)
    if not len(f["icao24"]):
        return {}
    st_lat = np.array([w["latitude"] for w in weather])
    st_lon = np.array([w["longitude"] for w in weather])
    d = haversine_km(f["lat"][:, None], f["lon"][:, None], st_lat[None, :], st_lon[None, :])
    best = np.argmin(d, axis=1)
    dist = d[np.arange(len(best)), best]
    risk = np.zeros(len(best), dtype=int)
    for s, w in enumerate(weather):
        m = best == s
        risk[m] = risk_terms(w, f["on_ground"][m], f["alt"][m])
    cat = risk_category(risk)
    return {k: (f["lat"][i], f["lon"][i], dist[i], int(risk[i]), str(cat[i]))
            for i, k in enumerate(f["icao24"])}


def batch_rows(snapshots: list[list | None], weather: list[dict]) -> dict[str, list[tuple]]:
    """icao24 -> its expected rows (as in expected_rows) over the
    snapshots of one micro-batch, oldest first."""
    out: dict[str, list[tuple]] = {}
    for states in snapshots:
        for k, row in expected_rows(states, weather).items():
            out.setdefault(k, []).append(row)
    return out


def nearest_rows(rows: list[tuple]) -> list[tuple]:
    """The rows of one key that the stream keeps under its known fault:
    the combine stage's nearest-station join groups a micro-batch by
    ``icao24`` alone, so of a key's rows it keeps the one nearest any
    station (ties, e.g. an aircraft that did not move, within
    DIST_TOL_KM), not the latest."""
    best = min(r[2] for r in rows)
    return [r for r in rows if r[2] <= best + DIST_TOL_KM]


def rule_phase(alt, vel, vr) -> np.ndarray:
    """Aeronautical rules over imputed kinematics (missing -> 0.0)."""
    alt, vel, vr = (np.nan_to_num(x, nan=0.0) for x in (alt, vel, vr))
    return np.where((alt < 300) & (vel < 60), PHASES[0],
                    np.where((alt > 3000) & (np.abs(vr) < 2.5), PHASES[2], PHASES[1]))


class CheckError(AssertionError):
    """An output disagrees with the independent computation."""


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckError(msg)


def check_rows(out, expected: dict[str, tuple]) -> None:
    """``out``: pandas frame of usage rows. One row per icao24, exactly
    the expected keys, and per row: position, dist_km within
    DIST_TOL_KM, risk_score and risk_category exactly."""
    keys = out["icao24"].tolist()
    _require(len(keys) == len(set(keys)), f"{len(keys) - len(set(keys))} duplicate icao24 rows")
    _require(set(keys) == set(expected),
             f"key sets differ: {len(set(keys) - set(expected))} unexpected, "
             f"{len(set(expected) - set(keys))} missing")
    if not keys:
        return
    exp = np.array([expected[k][:4] for k in keys], dtype=float)
    _require(np.array_equal(out["latitude"].to_numpy(float), exp[:, 0])
             and np.array_equal(out["longitude"].to_numpy(float), exp[:, 1]),
             "positions differ from the snapshot rows")
    err = np.abs(out["dist_km"].to_numpy(float) - exp[:, 2])
    _require(bool(np.all(err <= DIST_TOL_KM)), f"dist_km off by up to {err.max():.3g} km")
    bad = out["risk_score"].to_numpy(int) != exp[:, 3].astype(int)
    _require(not bad.any(), f"{int(bad.sum())} risk_score mismatches")
    cats = np.array([expected[k][4] for k in keys])
    bad = out["risk_category"].to_numpy(str) != cats
    _require(not bad.any(), f"{int(bad.sum())} risk_category mismatches")


def check_phases(out, used_kmeans: bool) -> None:
    """K-Means path: the three labels rank clusters by mean altitude
    (lowest Takeoff / Landing, highest Cruise). Fallback path: every
    label equals the aeronautical rules."""
    labels = out["flight_phase"].to_numpy(str)
    _require(set(labels) <= set(PHASES), f"unknown phase labels {set(labels) - set(PHASES)}")
    if used_kmeans:
        means = [out["baro_altitude"][labels == p].mean() for p in PHASES if (labels == p).any()]
        _require(all(a < b for a, b in zip(means, means[1:])),
                 f"phase labels not ordered by mean altitude: {means}")
    else:
        want = rule_phase(out["baro_altitude"].to_numpy(float), out["velocity"].to_numpy(float),
                          out["vertical_rate"].to_numpy(float))
        bad = labels != want
        _require(not bad.any(), f"{int(bad.sum())} rule-fallback phase mismatches")


def check_anomaly(out) -> None:
    """is_anomaly <=> anomaly_score > mean + 2 * sample std of the
    batch's scores. Scores are published rounded to 4 dp, so the
    threshold recomputed from them is within ~1.6e-4 of the true one;
    rows closer than ANOMALY_TOL to it may go either way."""
    s = out["anomaly_score"].to_numpy(float)
    if len(s) < 2:
        return
    thr = s.mean() + 2.0 * s.std(ddof=1)
    flag = out["is_anomaly"].to_numpy(bool)
    clear = np.abs(s - thr) > ANOMALY_TOL
    bad = clear & (flag != (s > thr))
    _require(not bad.any(), f"{int(bad.sum())} is_anomaly flags disagree with mean+2sd")


def canonical(v):
    """An engine-independent form of one result value: floats (and
    decimals) to 10 significant digits, timestamps as ISO text, nested
    values recursively, maps as sorted pairs."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return f if not np.isfinite(f) else float(f"{f:.10g}")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((canonical(k), canonical(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canonical(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def canonical_rows(columns: list[str], rows) -> list[str]:
    """Rows as sorted text, columns ordered by name: an order-insensitive
    multiset to compare engines by."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(repr(tuple(canonical(r[i]) for i in order)) for r in rows)


def check_result(columns: list[str], rows, want_columns: list[str], want_rows) -> None:
    _require(sorted(columns) == sorted(want_columns),
             f"columns {sorted(columns)} != oracle {sorted(want_columns)}")
    got, want = canonical_rows(columns, rows), canonical_rows(want_columns, want_rows)
    _require(len(got) == len(want), f"{len(got)} rows != oracle {len(want)}")
    bad = sum(a != b for a, b in zip(got, want))
    _require(bad == 0, f"{bad} of {len(got)} rows differ from the oracle")
