"""Generate a seeded OpenAQ raw zone for the `etl_dag` workload.

The zone holds long-format NDJSON rows in the engine's `rawMeasurement`
schema: a backfill of `locations` stations x `days` days hourly x 6
pollutants, then `daily` small increments (one day of `daily_locations`
stations each), one file per day. On top of the clean grid the generator
re-delivers ~7% of the rows as duplicates, gives ~1% of the rows an
unparseable datetime, and leaves the city null for ~10% of the stations.

`manifest.json` records what the pipeline must produce from it, derived
from the construction itself: raw rows, surviving (location, hour) keys
(the dedup, pivot and mart row counts), the expected answers of the
Athena-surface checks, and the backfill's NDJSON bytes.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

POLLUTANTS = ["pm25", "pm10", "no2", "so2", "o3", "co"]
CITIES = ["Hanoi", "Ho Chi Minh City", "Da Nang", "Hue", "Gia Lai", "Can Tho",
          "Hai Phong", "Nha Trang"]
START = np.datetime64("2024-03-01T00:00:00", "s")
UTC_OFFSET_S = 7 * 3600
BAD_DATETIMES = np.array(["N/A", "", "unknown", "2024-13-45T99:00:00+07:00"])


def _phase(rng, stations, day0, ndays, locs):
    """Rows for `stations` (indices into `locs`) over days [day0, day0+ndays)."""
    hours = np.arange(ndays * 24) + day0 * 24
    st, hr, par = np.meshgrid(stations, hours, np.arange(len(POLLUTANTS)), indexing="ij")
    st, hr, par = st.ravel(), hr.ravel(), par.ravel()
    n = st.size
    valid = rng.random(n) >= 0.01
    dup = rng.choice(n, int(n * 0.07), replace=False)
    st, hr, par = np.concatenate([st, st[dup]]), np.concatenate([hr, hr[dup]]), np.concatenate([par, par[dup]])
    valid = np.concatenate([valid, valid[dup]])
    value = np.round(rng.gamma(2.0, 15.0, st.size), 1)
    order = rng.permutation(st.size)
    st, hr, par, valid, value = st[order], hr[order], par[order], valid[order], value[order]

    # format each hour once, then index: string ops per row are the slow part
    span = np.arange(hr.max() + 2)
    local = START + span.astype("timedelta64[h]")
    stamp = np.array([s + "+07:00" for s in np.datetime_as_string(local, unit="s")], dtype=object)
    extracted = np.datetime_as_string(local + np.timedelta64(1, "h"), unit="s").astype(object)
    dt = np.where(valid, stamp[hr], rng.choice(BAD_DATETIMES, st.size).astype(object))
    frame = pd.DataFrame({
        "location_id": locs["id"][st],
        "sensor_id": locs["id"][st] * 10 + par,
        "datetime": dt,
        "parameter": np.array(POLLUTANTS)[par],
        "value": value,
        "unit": "ug/m3",
        "city": locs["city"][st],
        "country": "VN",
        "latitude": locs["lat"][st],
        "longitude": locs["lon"][st],
        "location_name": locs["name"][st],
        "timezone": "Asia/Ho_Chi_Minh",
        "extracted_at": extracted[hr],
    })
    # a (location, hour) key survives if any of its rows parses
    key = st.astype(np.int64) * 1_000_000 + hr
    alive = np.unique(key[valid])
    return frame, hr, alive


def _write_days(frame, hr, out_dir):
    """One NDJSON file per day; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    day = hr // 24
    order = np.argsort(day, kind="stable")
    table = pa.Table.from_pandas(frame.iloc[order], preserve_index=False)
    days, starts, counts = np.unique(day[order], return_index=True, return_counts=True)
    nbytes = 0
    for d, s, n in zip(days, starts, counts):
        path = os.path.join(out_dir, f"day-{int(d):03d}.json")
        con.register("raw", table.slice(int(s), int(n)))
        con.execute(f"COPY raw TO '{path}' (FORMAT JSON)")
        nbytes += os.path.getsize(path)
    con.close()
    return nbytes


def generate(out, seed, locations=30, days=20, daily=3, daily_locations=10):
    rng = np.random.default_rng(seed)
    ids = rng.choice(np.arange(100_000, 3_000_000), locations, replace=False)
    city = np.array(rng.choice(CITIES, locations), dtype=object)
    city[rng.random(locations) < 0.1] = None
    locs = {
        "id": ids.astype(np.int64),
        "city": city,
        "lat": np.round(rng.uniform(8.5, 23.0, locations), 4),
        "lon": np.round(rng.uniform(102.2, 109.4, locations), 4),
        "name": np.array([f"Station {i}" for i in ids], dtype=object),
    }
    manifest = {"seed": seed, "daily": []}
    alive_all = []
    frame, hr, alive = _phase(rng, np.arange(locations), 0, days, locs)
    nbytes = _write_days(frame, hr, os.path.join(out, "backfill"))
    manifest["backfill"] = {"dir": "backfill", "raw_rows": len(frame),
                            "keys": int(alive.size), "bytes": nbytes}
    alive_all.append(alive)
    for i in range(daily):
        stations = rng.choice(locations, min(daily_locations, locations), replace=False)
        frame, hr, alive = _phase(rng, stations, days + i, 1, locs)
        d = f"daily-{i + 1}"
        _write_days(frame, hr, os.path.join(out, d))
        manifest["daily"].append({"dir": d, "raw_rows": len(frame), "keys": int(alive.size)})
        alive_all.append(alive)
    alive = np.concatenate(alive_all)
    st, hr = alive // 1_000_000, alive % 1_000_000
    utc_s = (START.astype(np.int64) + hr * 3600 - UTC_OFFSET_S)
    stations = np.unique(st)
    manifest.update({
        "mart_rows": int(alive.size),
        "locations": int(stations.size),
        "cities": sorted({c if c is not None else "Unknown" for c in locs["city"][stations]}),
        "earliest_s": int(utc_s.min()),
        "latest_s": int(utc_s.max()),
    })
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest

