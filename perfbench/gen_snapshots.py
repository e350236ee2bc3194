"""Seeded generator of OpenAQ-shaped snapshots for the flagship pipeline:
`locations.jsonl` (one station per line, tagged with its city) and
`latest.jsonl` (one latest measurement per sensor), in the layout of
`fixtures/snapshots/`, plus the city table.

Every quirk class of FIXTURES.md §A appears: stale and missing/unparseable
last-seen, missing coordinates, stations beyond the 75 km fallback radius,
uppercase parameter names, the unit precedence chain with falsy units,
sensor id 0, empty parameter names, lexical `nan`, invalid and null values,
unknown sensor ids, unparseable and stale measurement dates, the
utc/local/date precedence, and one corrupt line per file. Some cities have
fewer than 10 stations within 25 km, so the fallback phase runs too.

Distances keep a kilometre clear of the 25 km and 75 km radii, and dates stay
days away from the 30-day freshness cutoff, so no floating-point rounding can
flip a decision between Spark and the DuckDB oracle.
"""
import datetime
import json
import math
import os
import random

PARAMS = ["pm25", "pm10", "o3", "no2", "so2", "co", "bc"]
UNITS = ["µg/m³", "ppm", "ppb"]
NOW = datetime.datetime(2025, 9, 7, 19, 0, 0)
EARTH_M = 6371000.0


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _move(lat, lon, dist_m, bearing):
    """Point `dist_m` from (lat, lon) along `bearing` on the sphere."""
    d = dist_m / EARTH_M
    p1, l1 = math.radians(lat), math.radians(lon)
    p2 = math.asin(math.sin(p1) * math.cos(d) +
                   math.cos(p1) * math.sin(d) * math.cos(bearing))
    l2 = l1 + math.atan2(math.sin(bearing) * math.sin(d) * math.cos(p1),
                         math.cos(d) - math.sin(p1) * math.sin(p2))
    return round(math.degrees(p2), 6), round((math.degrees(l2) + 540) % 360 - 180, 6)


def _distance_km(rng, dense):
    """Station distance from its city centre, clear of the radius edges."""
    r = rng.random()
    if dense and r < 0.6 or not dense and r < 0.1:
        return rng.uniform(0.5, 24.0)
    if r < 0.9:
        return rng.uniform(26.0, 74.0)
    return rng.uniform(76.0, 300.0)


def _last_seen(rng):
    r = rng.random()
    if r < 0.03:
        return None                                   # missing datetimeLast
    if r < 0.05:
        return {"utc": None, "local": "2025-09-07T21:00:00+02:00"}
    if r < 0.07:
        return {"utc": "not-a-date", "local": None}   # unparseable: dropped
    if r < 0.15:                                      # stale: dropped
        t = NOW - datetime.timedelta(days=rng.uniform(40, 400))
        return {"utc": _iso(t), "local": None}
    t = NOW - datetime.timedelta(days=rng.uniform(0, 25))
    return {"utc": _iso(t), "local": None}


def _sensor(rng, sid):
    p = rng.choice(PARAMS)
    r = rng.random()
    name = p.upper() if r < 0.1 else ("" if r < 0.13 else
                                      (None if r < 0.15 else p))
    u = rng.choice(UNITS)
    r = rng.random()
    s = {"id": 0 if rng.random() < 0.03 else sid,
         "parameter": {"name": name, "units": u if r < 0.6 else
                       ("" if r < 0.7 else None)},
         "units": None, "unit": None}
    if r >= 0.6:                       # unit further down the precedence chain
        r2 = rng.random()
        if r2 < 0.5:
            s["units"] = u
        elif r2 < 0.8:
            s["unit"] = u
    return s


def _measurement(rng, loc_id, sid):
    r = rng.random()
    value = (f"{rng.uniform(0, 120):.1f}" if r < 0.9 else
             "nan" if r < 0.93 else "oops" if r < 0.96 else None)
    r = rng.random()
    if r < 0.05:
        t = NOW - datetime.timedelta(days=rng.uniform(45, 300))
    else:
        t = NOW - datetime.timedelta(hours=rng.uniform(0, 24 * 20))
    dt, date = {"utc": _iso(t), "local": None}, None
    r = rng.random()
    if r < 0.05:
        dt = {"utc": None, "local": t.strftime("%Y-%m-%dT%H:%M:%S+00:00")}
    elif r < 0.08:
        dt, date = None, _iso(t)
    elif r < 0.1:
        dt = {"utc": "not-a-date", "local": None}     # unparseable: kept
    elif r < 0.11:
        dt = None                                     # no date at all
    unit = rng.choice([None, None, None, "µg/m³", "ppm", ""])
    return {"location_id": loc_id, "sensorsId": str(sid), "value": value,
            "unit": unit, "datetime": dt, "date": date}


def generate(out_dir, seed, n_cities, stations):
    """Write the snapshot pair and return the city table
    [(city, lat, lon), ...]."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    cities, locs, latest = [], [], []
    next_loc, next_sensor = 1000, 100000
    # station counts spread evenly over the range, in seeded order, so every
    # seed yields the same number of stations
    lo, hi = stations
    counts = [lo + (hi - lo) * c // max(1, n_cities - 1) for c in range(n_cities)]
    rng.shuffle(counts)
    for c in range(n_cities):
        city = f"City {c:02d}"
        clat, clon = round(rng.uniform(-50, 60), 4), round(rng.uniform(-170, 170), 4)
        cities.append((city, clat, clon))
        dense = rng.random() < 0.7        # sparse cities take the fallback phase
        for _ in range(counts[c]):
            loc_id, next_loc = next_loc, next_loc + 1
            lat, lon = _move(clat, clon, _distance_km(rng, dense) * 1000.0,
                             rng.uniform(0, 2 * math.pi))
            coords = {"latitude": lat, "longitude": lon}
            if rng.random() < 0.03:
                coords[rng.choice(["latitude", "longitude"])] = None
            r = rng.random()
            name = (None if r < 0.1 else f"{city}, station {loc_id}"
                    if r < 0.3 else f"Station {loc_id}")
            sensors = []
            for _ in range(rng.randint(4, 6)):
                sensors.append(_sensor(rng, next_sensor))
                latest.append(_measurement(rng, loc_id, next_sensor))
                next_sensor += 1
            if rng.random() < 0.05:                     # unknown sensor id
                latest.append(_measurement(rng, loc_id, 9_000_000 + loc_id))
            locs.append({"city": city, "id": loc_id, "name": name,
                         "locality": None if rng.random() < 0.5 else f"{city} district",
                         "coordinates": coords, "datetimeLast": _last_seen(rng),
                         "sensors": sensors})
    rng.shuffle(latest)
    # The corrupt line is an unterminated object, as in the checked-in
    # fixture, and like there it is the last line: DuckDB 1.0's reader (the
    # oracle) would otherwise swallow the line after it, which Spark's
    # line-based reader keeps.
    for path, rows, bad in (("locations.jsonl", locs, '{"city":"City 00","id":broken-not-json'),
                            ("latest.jsonl", latest, '{"location_id":1000,"sensorsId":broken-not-json')):
        with open(os.path.join(out_dir, path), "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps(row, ensure_ascii=False) + "\n")
            fh.write(bad + "\n")
    return cities
