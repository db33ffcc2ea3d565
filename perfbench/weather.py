"""Seeded raw zone for the weather_etl workload, and its expected answers.

The raw zone has the reference's two JSON shapes, one pair of files per
station and load:

  <raw>/bulk/<island>/<location>/<first>-to-<last>.json      Open-Meteo:
        scalars + `daily`, a struct of parallel arrays
  <raw>/bulk/<island>/<location>/vc<first>-to-<last>.json    Visual
        Crossing: scalars + `days`, an array of structs
  <raw>/batch_NN/...                                          the same
        shapes for one incremental batch (a 31-day lookback window)

Each source drops a few days at random, so a station's joined rows are
|Open-Meteo days ∩ Visual Crossing days|. Every batch re-sends the last
`overlap` days already loaded with new values (revisions) plus
`31 - overlap` new days. The expected table is last-writer-wins on
(location_name, date) over the bulk load and then each batch in order;
`Expected` holds it and the Q1-Q3 answers after each batch, computed
here from the generated values and never from the program's output.
"""
import datetime
import json
import os
import random

STATIONS = [
    ("Tenerife", "Santa_Cruz_de_Tenerife", 28.4636, -16.2518, 5.0),
    ("Tenerife", "La_Laguna", 28.4853, -16.3201, 550.0),
    ("Tenerife", "Vilaflor", 28.1562, -16.6359, 1387.0),
    ("Tenerife", "Puerto_de_la_Cruz", 28.4140, -16.5449, 10.0),
    ("Gran_Canaria", "Las_Palmas_de_Gran_Canaria", 28.1235, -15.4363, 8.0),
    ("Gran_Canaria", "Maspalomas", 27.7606, -15.5860, 15.0),
    ("Gran_Canaria", "Tejeda", 27.9950, -15.6151, 1050.0),
    ("Lanzarote", "Arrecife", 28.9630, -13.5477, 10.0),
    ("Lanzarote", "Teguise", 29.0605, -13.5640, 300.0),
    ("Fuerteventura", "Puerto_del_Rosario", 28.5004, -13.8627, 20.0),
    ("Fuerteventura", "Morro_Jable", 28.0500, -14.3500, 10.0),
    ("La_Palma", "Santa_Cruz_de_La_Palma", 28.6835, -17.7642, 5.0),
    ("La_Gomera", "San_Sebastian_de_La_Gomera", 28.0916, -17.1133, 10.0),
    ("El_Hierro", "Valverde", 27.8063, -17.9158, 600.0),
]
CONDITIONS = [("Clear", "clear-day"), ("Partially cloudy", "partly-cloudy-day"),
              ("Overcast", "cloudy"), ("Rain, Partially cloudy", "rain")]
START = datetime.date(2021, 1, 1)
WINDOW = 31

# (stations, bulk days, batches, revised days per batch); "warm" is the
# raw zone of the untimed cold pass
SCALES = {"full": (14, 365, 3, 10), "tiny": (2, 75, 2, 10), "warm": (14, 60, 1, 10)}


def _om_day(rng):
    return {"weather_code": rng.choice([0, 1, 2, 3, 51, 53, 61, 63, 80]),
            "temperature_2m_max": round(rng.uniform(16, 32), 1),
            "temperature_2m_min": round(rng.uniform(8, 20), 1),
            "sunshine_duration": round(rng.uniform(3600, 43200), 2),
            "precipitation_sum": round(rng.choice([0.0, 0.0, rng.uniform(0, 12)]), 1)}


def _vc_day(rng):
    cond, icon = rng.choice(CONDITIONS)
    return {"cloudcover": round(rng.uniform(0, 100), 1),
            "visibility": round(rng.uniform(5, 25), 1),
            "solarradiation": round(rng.uniform(60, 330), 1),
            "solarenergy": round(rng.uniform(5, 28), 1),
            "uvindex": float(rng.randint(1, 11)),
            "moonphase": round(rng.uniform(0, 1), 2),
            "conditions": cond,
            "description": cond + " throughout the day.",
            "icon": icon}


def _write_load(root, station, days, rng, om_drop, vc_drop):
    """Write one station's two files for `days`; return {date: row} of
    the rows the join keeps (days present in both sources)."""
    island, loc, lat, lon, elev = station
    om_days = [d for d in days if rng.random() >= om_drop]
    vc_days = [d for d in days if rng.random() >= vc_drop]
    om_vals = {d: _om_day(rng) for d in om_days}
    vc_vals = {d: _vc_day(rng) for d in vc_days}
    d = os.path.join(root, island, loc)
    os.makedirs(d, exist_ok=True)
    span = f"{days[0].isoformat()}-to-{days[-1].isoformat()}"
    om = {"location": f"{island}/{loc}", "latitude": lat, "longitude": lon,
          "elevation": elev, "timezone": "Atlantic/Canary",
          "daily": {"date": [x.isoformat() for x in om_days]}}
    for field in ("weather_code", "temperature_2m_max", "temperature_2m_min",
                  "sunshine_duration", "precipitation_sum"):
        om["daily"][field] = [om_vals[x][field] for x in om_days]
    vc = {"queryCost": len(vc_days), "latitude": lat, "longitude": lon,
          "resolvedAddress": f"{lat},{lon}", "address": f"{lat},{lon}",
          "timezone": "Atlantic/Canary", "tzoffset": 0.0,
          "days": [dict(datetime=x.isoformat(), **vc_vals[x]) for x in vc_days]}
    with open(os.path.join(d, span + ".json"), "w") as f:
        json.dump(om, f, indent=1)
    with open(os.path.join(d, "vc" + span + ".json"), "w") as f:
        json.dump(vc, f, indent=1)
    return {x: dict(om_vals[x], **vc_vals[x]) for x in om_days if x in vc_vals}


class Expected:
    """The last-writer-wins table and Q1-Q3 answers, from generated values."""

    def __init__(self, stations, q3_station):
        self.stations = stations
        self.q3_station = q3_station
        self.table = {}            # (location_name, date) -> row dict
        self.bulk_rows = 0
        self.batch_rows = []       # table size after each batch
        self.batch_partitions = []  # partitions each batch writes
        self.answers = []          # Q1-Q3 after each batch

    def apply(self, station, rows):
        island, loc = station[0], station[1]
        parts = set()
        for day, r in rows.items():
            self.table[(loc, day)] = dict(r, island=island)
            parts.add((island, loc, day.year, day.month))
        return parts

    def queries(self):
        by_loc, by_loc_month, uv = {}, {}, {}
        for (loc, day), r in self.table.items():
            by_loc.setdefault(loc, []).append(r["sunshine_duration"])
            by_loc_month.setdefault((loc, day.month), []).append(r["sunshine_duration"])
            if loc == self.q3_station:
                uv.setdefault(day.month, []).append(r["uvindex"])
        avg = lambda xs: sum(xs) / len(xs)
        q1 = {loc: avg(v) / 3600 for loc, v in by_loc.items()}
        q2 = {k: avg(v) / 3600 for k, v in by_loc_month.items()}
        q3 = {m: avg(v) for m, v in uv.items()}
        return {"q1": q1, "q2": q2, "q3": q3}


def generate(raw_dir, seed, scale="full"):
    """Write the raw zone under raw_dir; return (Expected, layout dict)."""
    n_st, n_days, n_batches, overlap = SCALES[scale]
    rng = random.Random(seed)
    stations = STATIONS[:n_st]
    q3_station = rng.choice(stations)[1]
    exp = Expected(stations, q3_station)
    bulk_days = [START + datetime.timedelta(i) for i in range(n_days)]
    for st in stations:
        exp.apply(st, _write_load(os.path.join(raw_dir, "bulk"), st, bulk_days,
                                  rng, 0.02, 0.04))
    exp.bulk_rows = len(exp.table)
    end = bulk_days[-1]
    for b in range(1, n_batches + 1):
        first = end - datetime.timedelta(overlap - 1)
        days = [first + datetime.timedelta(i) for i in range(WINDOW)]
        parts = set()
        for st in stations:
            parts |= exp.apply(st, _write_load(
                os.path.join(raw_dir, f"batch_{b:02d}"), st, days, rng, 0.02, 0.04))
        exp.batch_partitions.append(parts)
        exp.batch_rows.append(len(exp.table))
        exp.answers.append(exp.queries())
        end = days[-1]
    layout = {"stations": n_st, "bulk_days": n_days, "batches": n_batches,
              "window_days": WINDOW, "revised_days": overlap,
              "q3_station": q3_station, "bulk_rows": exp.bulk_rows,
              "final_rows": len(exp.table)}
    return exp, layout
