"""Seeded Open-Meteo payloads and a pure-Python model of the medallion
tables they produce.

Each ingest day ``ds`` lands one JSON document per location: a 7-day × 24 h
hourly forecast that starts at local midnight of ``ds``. Consecutive days
overlap, so 6/7 of a day's keys already exist in L1/L2 and are updated.
Some temperatures are null, and a few locations repeat an hour at the end
of their arrays (an in-batch duplicate; the later array position wins).

Locations use time zones without daylight saving, so every local
``YYYY-MM-DDTHH:MM`` maps to exactly one UTC instant and the model can use
fixed offsets. A location keeps its time zone on every day, which keeps the
``date`` partition a function of the merge key.
"""

from __future__ import annotations

import datetime as dt
import random

SOURCE = "open-meteo"
FORECAST_HOURS = 7 * 24
START_DS = dt.date(2025, 1, 6)
NULL_RATE = 0.02  # share of null temperatures
DUP_LOCATIONS = 3  # locations per day that repeat two hours at the end

# Zone name -> fixed UTC offset in minutes (none of these observe DST).
ZONES = {
    "Asia/Jakarta": 7 * 60,
    "Asia/Tokyo": 9 * 60,
    "Asia/Kolkata": 5 * 60 + 30,
    "Asia/Kathmandu": 5 * 60 + 45,
    "Africa/Nairobi": 3 * 60,
    "America/Bogota": -5 * 60,
    "UTC": 0,
}


def ds_for_day(day: int) -> str:
    return (START_DS + dt.timedelta(days=day)).isoformat()


class MeteoGenerator:
    """Deterministic payloads for ``n_locations`` places: the same seed and
    day give the same document list."""

    def __init__(self, seed: int, n_locations: int):
        rng = random.Random(seed)
        zones = sorted(ZONES)
        self.seed = seed
        self.locations = []
        for i in range(n_locations):
            lat = round(-60 + (i * 0.37) % 120 + rng.randint(0, 99) * 1e-4, 4)
            lon = round(-170 + (i * 1.13) % 340 + rng.randint(0, 99) * 1e-4, 4)
            self.locations.append((lat, lon, zones[rng.randrange(len(zones))], rng.uniform(-5, 30)))

    def payload(self, day: int) -> list[dict]:
        rng = random.Random(self.seed * 1_000_003 + day)
        start = dt.datetime.combine(START_DS + dt.timedelta(days=day), dt.time())
        times = [(start + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M") for h in range(FORECAST_HOURS)]
        dup_idx = set(rng.sample(range(len(self.locations)), min(DUP_LOCATIONS, len(self.locations))))
        docs = []
        for i, (lat, lon, tz, base) in enumerate(self.locations):
            temps = [
                None if rng.random() < NULL_RATE else round(base + 8 * rng.random() - 4 + (h % 24) / 3, 1)
                for h in range(FORECAST_HOURS)
            ]
            loc_times = list(times)
            if i in dup_idx:
                for h in rng.sample(range(FORECAST_HOURS), 2):
                    loc_times.append(times[h])
                    temps.append(round(base + rng.random(), 1))
            docs.append(
                {
                    "latitude": lat,
                    "longitude": lon,
                    "timezone": tz,
                    "hourly": {"time": loc_times, "temperature_2m": temps},
                }
            )
        return docs


def batch_rows(docs: list[dict], ds: str) -> dict[tuple, tuple]:
    """One staged batch as the pipeline must see it: PK -> (date, hour,
    timezone, temperature_c, load_ds), the highest array position winning
    among in-batch duplicates."""
    load_ds = dt.date.fromisoformat(ds)
    out: dict[tuple, tuple] = {}
    for doc in docs:
        tz = doc["timezone"]
        offset = dt.timedelta(minutes=ZONES[tz])
        for t, temp in zip(doc["hourly"]["time"], doc["hourly"]["temperature_2m"]):
            local = dt.datetime.fromisoformat(t)
            key = (local - offset, doc["latitude"], doc["longitude"], SOURCE)
            out[key] = (local.date(), local.hour, tz, temp, load_ds)
    return out


class MedallionModel:
    """Latest-wins replay of the daily upserts. L1 keeps the first-seen
    ``date``/``hour`` and updates the rest; L2 takes every non-key column
    of the L1 rows that the day touched."""

    def __init__(self) -> None:
        self.l1: dict[tuple, tuple] = {}
        self.l2: dict[tuple, tuple] = {}

    def apply(self, docs: list[dict], ds: str) -> None:
        for key, (date, hour, tz, temp, load_ds) in batch_rows(docs, ds).items():
            old = self.l1.get(key)
            row = (date, hour, tz, temp, load_ds) if old is None else (old[0], old[1], tz, temp, load_ds)
            self.l1[key] = row
            self.l2[key] = row


def asof_model(gen: MeteoGenerator, last_day: int) -> dict[tuple, tuple]:
    """L2 as it stood after day ``last_day`` (days start at 0)."""
    m = MedallionModel()
    for day in range(last_day + 1):
        m.apply(gen.payload(day), ds_for_day(day))
    return m.l2


def daily_mean_model(l2: dict[tuple, tuple]) -> dict[tuple, tuple[float | None, int]]:
    """(latitude, longitude, date) -> (mean of non-null temperatures or
    None, count of non-null temperatures)."""
    acc: dict[tuple, list] = {}
    for (_, lat, lon, _), (date, _, _, temp, _) in l2.items():
        a = acc.setdefault((lat, lon, date), [0.0, 0])
        if temp is not None:
            a[0] += temp
            a[1] += 1
    return {k: (s / n if n else None, n) for k, (s, n) in acc.items()}
