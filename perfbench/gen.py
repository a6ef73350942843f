"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical files. The program under test only ever sees the files.

``FlightDays`` makes consecutive January days of nested flight JSON (one
record per line) for ``daily_load``. January only, so no zone changes its
UTC offset inside a day and a pure-``zoneinfo`` reference is exact.
"""

from __future__ import annotations

import csv
import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np

TZ_CSV = (
    Path(__file__).resolve().parent.parent
    / "flight_data_ingestion_engine_spark"
    / "resources"
    / "iata_timezones.csv"
)

AIRLINES = ["AA", "DL", "UA", "WN", "B6", "AS", "NK", "F9", "G4", "HA", "OO", "YX"]
#: IATA-shaped codes absent from the packaged timezone catalog
MISSING_CODES = ["QQA", "QQB", "QQC", "QZX", "ZZZ"]
N_AIRPORTS = 300
MISSING_SHARE = 0.01
INVALID_2400_SHARE = 0.004
NULL_DEPTIME_SHARE = 0.004
EMPTY_LEGS_SHARE = 0.005
TWO_LEGS_SHARE = 0.01

#: the declared schema `run_daily` projects the flattened records to
FLIGHT_COLUMNS = [
    ("FlightDate", "date"),
    ("Reporting_Airline", "string"),
    ("Flight_Number", "int"),
    ("Tail_Number", "string"),
    ("Origin", "string"),
    ("Dest", "string"),
    ("Distance", "double"),
    ("DepTime", "int"),
    ("ArrTime", "int"),
    ("DepDelay", "double"),
    ("Cancelled", "int"),
]


def load_timezones() -> dict[str, str]:
    with open(TZ_CSV, newline="") as f:
        return {r["iata_code"]: r["iana_tz"] for r in csv.DictReader(f)}


def day_dates(n: int) -> list[dt.date]:
    """n consecutive January days, continuing into the next year's January."""
    out = []
    year, day = 2024, 1
    while len(out) < n:
        out.append(dt.date(year, 1, day))
        day += 1
        if day > 31:
            year, day = year + 1, 1
    return out


@dataclass
class FlightRows:
    """The rows one input file should produce after flattening (one per leg)."""

    date: dt.date
    origin: np.ndarray  # object array of IATA codes
    hhmm: np.ndarray  # int64, -1 for NULL
    airline: np.ndarray  # object array

    def __len__(self) -> int:
        return len(self.origin)


class FlightDays:
    """Seeded flight traffic over a fixed airport universe.

    Origins are Zipf-skewed (the seed permutes which airports are hot),
    about 1% of flights leave from codes the timezone catalog lacks, and
    DepTime carries the reference's edge cases: 3-digit values (before
    10:00), 2400 (invalid, NULL FlightTime) and NULL.
    """

    def __init__(self, seed: int):
        self.seed = seed
        tz = load_timezones()
        codes = sorted(tz)
        step = len(codes) // N_AIRPORTS
        universe = codes[::step][:N_AIRPORTS]
        rng = np.random.default_rng([seed, 0])
        self.airports = np.array(rng.permutation(universe), dtype=object)
        w = 1.0 / np.arange(1, N_AIRPORTS + 1) ** 1.1
        self.weights = w / w.sum()
        self.tz = {c: tz[c] for c in universe}

    def _draw(self, rng: np.random.Generator, n: int):
        origin = self.airports[rng.choice(N_AIRPORTS, size=n, p=self.weights)]
        missing = rng.random(n) < MISSING_SHARE
        origin[missing] = np.array(MISSING_CODES, dtype=object)[
            rng.integers(0, len(MISSING_CODES), missing.sum())
        ]
        dest = self.airports[rng.integers(0, N_AIRPORTS, n)]
        airline = np.array(AIRLINES, dtype=object)[rng.integers(0, len(AIRLINES), n)]
        return origin, dest, airline

    @staticmethod
    def _hhmm(rng: np.random.Generator, minutes: np.ndarray) -> np.ndarray:
        hhmm = (minutes // 60) * 100 + minutes % 60
        u = rng.random(len(minutes))
        hhmm[u < INVALID_2400_SHARE] = 2400
        hhmm[(u >= INVALID_2400_SHARE) & (u < INVALID_2400_SHARE + NULL_DEPTIME_SHARE)] = -1
        return hhmm

    def day(self, index: int, date: dt.date, n_flights: int) -> tuple[str, FlightRows]:
        """Nested JSON lines for one day, and the flattened rows they hold."""
        rng = np.random.default_rng([self.seed, 1, index])
        origin, dest, airline = self._draw(rng, n_flights)
        # departures cluster in the daytime, minute resolution
        minutes = np.clip(rng.normal(780, 260, n_flights), 0, 1439).astype(np.int64)
        hhmm = self._hhmm(rng, minutes)
        u = rng.random(n_flights)
        n_legs = np.where(u < EMPTY_LEGS_SHARE, 0, np.where(u < EMPTY_LEGS_SHARE + TWO_LEGS_SHARE, 2, 1))
        second = self._hhmm(rng, np.minimum(minutes + rng.integers(60, 240, n_flights), 1439))
        flight_no = rng.integers(1, 9999, n_flights)
        distance = rng.integers(80, 5000, n_flights)
        delay = rng.integers(-15, 120, n_flights)
        cancelled = (rng.random(n_flights) < 0.02).astype(np.int64)
        ds = date.isoformat()

        def leg(dep: int, d: int, c: int) -> str:
            if dep < 0:
                return f'{{"DepTime":null,"ArrTime":0,"DepDelay":{d}.0,"Cancelled":{c}}}'
            arr = (dep + 200) % 2400
            return f'{{"DepTime":{dep},"ArrTime":{arr},"DepDelay":{d}.0,"Cancelled":{c}}}'

        lines = []
        for o, de, a, fno, dist, k, h1, h2, d, c in zip(
            origin.tolist(), dest.tolist(), airline.tolist(), flight_no.tolist(),
            distance.tolist(), n_legs.tolist(), hhmm.tolist(), second.tolist(),
            delay.tolist(), cancelled.tolist(),
        ):
            legs = "" if k == 0 else leg(h1, d, c) if k == 1 else leg(h1, d, c) + "," + leg(h2, d, c)
            lines.append(
                f'{{"FlightDate":"{ds}","Reporting_Airline":"{a}",'
                f'"Flight_Number":{fno},"Tail_Number":"N{fno}{a}",'
                f'"route":{{"Origin":"{o}","Dest":"{de}","Distance":{dist}.0}},'
                f'"legs":[{legs}]}}'
            )
        one, two = n_legs >= 1, n_legs == 2
        rows = FlightRows(
            date,
            np.concatenate([origin[one], origin[two]]),
            np.concatenate([hhmm[one], second[two]]),
            np.concatenate([airline[one], airline[two]]),
        )
        return "\n".join(lines) + "\n", rows


def flight_config(table: str) -> dict:
    return {
        "data_columns": [{"name": n, "type": t} for n, t in FLIGHT_COLUMNS],
        "output_table": table,
    }

