"""Deterministic synthetic GTFS fixtures (FIXTURES.md §1-3).

Generates a small schedule (3 routes × 2 variants, stop_sequence gaps,
trips past midnight) and a matching GTFS-RT event stream with the
adversarial properties the reference's code paths need: unknown
trip_ids, nonexistent stop_sequences, null delays, out-of-bound
delays, repeated (vehicle, stop) reports with changed delays, and
enough vehicles per time slot to cross the 20-row / 21-pair gates.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

MONDAY = dt.date(2024, 1, 1)      # a Monday
SATURDAY = dt.date(2024, 1, 6)

N_STOPS_PER_VARIANT = 8
TRIPS_PER_VARIANT = 40            # Monday 08:00-11:59 → slot 3, >20 gate


def build_schedule() -> dict[str, pd.DataFrame]:
    routes = pd.DataFrame([
        {"route_id": "R1", "agency_id": "A1", "route_short_name": "1",
         "route_type": 3},
        {"route_id": "R2", "agency_id": "A1", "route_short_name": "2",
         "route_type": 0},
        {"route_id": "R3", "agency_id": "A1", "route_short_name": "3",
         "route_type": 2},
    ])
    agency = pd.DataFrame([{"agency_id": "A1", "agency_name": "Test Transit"}])

    stops = pd.DataFrame([
        {"stop_id": f"S{i}", "stop_name": f"Stop {i // 2}",  # paired platforms
         "stop_lat": 53.0 + i * 0.0015, "stop_lon": 8.8 + (i % 3) * 0.001}
        for i in range(40)
    ])

    trips_rows, st_rows = [], []
    for r_i, route_id in enumerate(["R1", "R2", "R3"]):
        for v in (1, 2):
            variant = r_i * 10 + v
            # variant stop list; stop_sequence has gaps (1,2,4,5,7,8,10,11)
            seqs = [s + 1 + s // 2 for s in range(N_STOPS_PER_VARIANT)]
            stop_ids = [f"S{(r_i * 12 + v + 2 * s) % 40}"
                        for s in range(N_STOPS_PER_VARIANT)]
            for t in range(TRIPS_PER_VARIANT):
                trip_id = f"T{route_id}v{variant}n{t}"
                start = 8 * 3600 + t * 360  # every 6 min from 08:00
                trips_rows.append({
                    "trip_id": trip_id, "route_id": route_id,
                    "service_id": "WD", "trip_headsign": f"Head {route_id}",
                    "shape_id": f"sh{variant}", "route_variant": variant,
                })
                for s, (seq, sid) in enumerate(zip(seqs, stop_ids)):
                    arr = start + s * 120
                    dep = arr + 30
                    st_rows.append({
                        "trip_id": trip_id, "stop_sequence": seq,
                        "stop_id": sid,
                        "arrival_time": _hms(arr), "departure_time": _hms(dep),
                    })
            # one past-midnight trip per variant (start 25:00)
            trip_id = f"T{route_id}v{variant}night"
            trips_rows.append({
                "trip_id": trip_id, "route_id": route_id, "service_id": "WD",
                "trip_headsign": f"Head {route_id}", "shape_id": f"sh{variant}",
                "route_variant": variant,
            })
            for s, (seq, sid) in enumerate(zip(seqs, stop_ids)):
                arr = 25 * 3600 + s * 120
                st_rows.append({
                    "trip_id": trip_id, "stop_sequence": seq, "stop_id": sid,
                    "arrival_time": _hms(arr), "departure_time": _hms(arr + 30),
                })

    calendar = pd.DataFrame([
        {"service_id": "WD", "monday": True, "tuesday": True,
         "wednesday": True, "thursday": True, "friday": True,
         "saturday": False, "sunday": False,
         "start_date": "20240101", "end_date": "20241231"},
    ])
    return {
        "agency": agency, "routes": routes, "trips": pd.DataFrame(trips_rows),
        "stop_times": pd.DataFrame(st_rows), "stops": stops,
        "calendar": calendar,
    }


def _hms(secs: int) -> str:
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def build_rt_events(schedule: dict[str, pd.DataFrame],
                    n_feeds: int = 3) -> pd.DataFrame:
    """Flattened stop_time_update rows across ``n_feeds`` successive
    feed files, ~2 min apart."""
    rng = np.random.default_rng(42)
    trips = schedule["trips"]
    st = schedule["stop_times"]
    st_by_trip = dict(tuple(st.groupby("trip_id")))

    rows = []
    base_ts = int(dt.datetime(2024, 1, 1, 8, 0).timestamp())
    for f in range(n_feeds):
        feed_file = f"feed-2024-01-01T08-{f * 2:02d}.pb"
        ts = base_ts + f * 120
        for _, trip in trips.iterrows():
            if trip["trip_id"].endswith("night"):
                continue
            if rng.random() < 0.2:      # not every trip reports every feed
                continue
            stimes = st_by_trip[trip["trip_id"]]
            # per-trip random-walk delay, correlated across stops
            delay = int(rng.normal(60, 90))
            for _, strow in stimes.iterrows():
                delay += int(rng.normal(f * 10, 25))
                if rng.random() < 0.25:     # unreported stop → W1 gap
                    continue
                arr_delay: int | None = delay
                dep_delay: int | None = delay + int(rng.normal(5, 10))
                if rng.random() < 0.08:
                    arr_delay = None            # F4 null-delay path
                if rng.random() < 0.05:
                    dep_delay = None
                if rng.random() < 0.01:
                    arr_delay = 5000            # outside ±3000 (F2)
                rows.append({
                    "feed_file": feed_file, "header_timestamp": ts,
                    "trip_id": trip["trip_id"], "route_id": trip["route_id"],
                    "start_date": "20240101",
                    "start_time": _hms(8 * 3600 + int(trip["trip_id"].rsplit("n", 1)[-1]) * 360),
                    "stop_sequence": int(strow["stop_sequence"]),
                    "stop_id": strow["stop_id"],
                    "arrival_delay": arr_delay, "departure_delay": dep_delay,
                })
        # adversarial rows: unknown trip, unknown stop_sequence
        rows.append({
            "feed_file": feed_file, "header_timestamp": ts,
            "trip_id": "UNKNOWN_TRIP", "route_id": "R1",
            "start_date": "20240101", "start_time": "08:00:00",
            "stop_sequence": 1, "stop_id": "S0",
            "arrival_delay": 42, "departure_delay": 42,
        })
        rows.append({
            "feed_file": feed_file, "header_timestamp": ts,
            "trip_id": "TR1v1n0", "route_id": "R1",
            "start_date": "20240101", "start_time": "08:00:00",
            "stop_sequence": 99, "stop_id": "S0",
            "arrival_delay": 42, "departure_delay": 42,
        })
    df = pd.DataFrame(rows)
    df["arrival_delay"] = df["arrival_delay"].astype("Int32")
    df["departure_delay"] = df["departure_delay"].astype("Int32")
    return df


def write_gtfs_dir(schedule: dict[str, pd.DataFrame], path) -> None:
    for name, df in schedule.items():
        df.to_csv(f"{path}/{name}.txt", index=False)


def union_per_event_type(df, keep: list[str],
                         columns: dict[str, tuple[str, str]]):
    """The fan-out over event types as a union of one select per event
    type: the oracle for the engine's single ``stack`` fan-out."""
    import pyspark.sql.functions as F

    parts = [df.select(*keep, F.lit(et).cast("tinyint").alias("event_type"),
                       *[F.col(src[i]).alias(out)
                         for out, src in columns.items()])
             for i, et in enumerate((1, 2))]
    return parts[0].unionByName(parts[1])
