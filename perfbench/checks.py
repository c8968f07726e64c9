"""Output checks.  Each returns counts that feed ``attempted`` and
``failed``; drops the engine is meant to make (corrupt files, unknown
trips or stop_sequences, updates without a delay, the error page for an
unknown stop) are expected outcomes, not failures."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

import gen
from dystonse_gtfs_importer_spark import curves as cv

KEY = ["trip_id", "trip_start_time", "stop_sequence"]


# ---------------------------------------------------------------------------
# import_stream: the records table against a pandas latest-wins
# ---------------------------------------------------------------------------

def expected_records(events: pd.DataFrame, schedule) -> pd.DataFrame:
    """Latest-wins over the encoded events after the ETL's filters:
    J1 (trip_id in the schedule), J2 ((trip_id, stop_sequence) in
    stop_times) and F4 (at least one delay)."""
    trips = schedule["trips"][["trip_id", "route_id", "route_variant"]]
    st = schedule["stop_times"][["trip_id", "stop_sequence"]]
    ev = events.merge(trips, on="trip_id").merge(st, on=["trip_id",
                                                         "stop_sequence"])
    ev = ev[ev["arrival_delay"].notna() | ev["departure_delay"].notna()]
    ev = ev.sort_values("header_timestamp", ascending=False)
    return ev.drop_duplicates(KEY, keep="first").reset_index(drop=True)


def _same(a: pd.Series, b: pd.Series) -> pd.Series:
    return (a == b).fillna(False) | (a.isna() & b.isna())


def diff_records(want: pd.DataFrame, got: pd.DataFrame) -> set:
    """Feeds whose winning events are missing or wrong in ``got`` (plus
    the marker "extra" for rows nobody should have written)."""
    got = got.assign(
        tor=(got["time_of_recording"] - pd.Timestamp(0)).dt.total_seconds()
        .round().astype("int64"))
    m = want.merge(got, on=KEY, how="outer", indicator=True)
    ok = (
        (m["_merge"] == "both")
        & _same(m["stop_id_x"], m["stop_id_y"])
        & _same(m["route_id_x"], m["route_id_y"])
        & _same(m["header_timestamp"].astype("float"), m["tor"].astype("float"))
        & _same(m["arrival_delay"].astype("float"),
                m["delay_arrival"].astype("float"))
        & _same(m["departure_delay"].astype("float"),
                m["delay_departure"].astype("float"))
        & (m["source"] == gen.SOURCE)
        & (m["schedule_file_name"] == gen.SCHEDULE_NAME))
    bad = m[~ok]
    feeds = set(bad["feed"].dropna().astype(int))
    if (bad["_merge"] == "right_only").any():
        feeds.add("extra")
    return feeds


# ---------------------------------------------------------------------------
# curve tables (board): structural invariants and a NumPy recomputation
# ---------------------------------------------------------------------------

MIN_SAMPLES = {"general": 20, "specific": 21, "default": 10}


def curve_ok(points) -> bool:
    """CDF from 0 to 1, monotone, over strictly increasing x."""
    if points is None or len(points) < 2:
        return False
    xs = np.array([p["x"] for p in points], dtype=float)
    ys = np.array([p["y"] for p in points], dtype=float)
    return bool(np.all(np.diff(xs) > 0) and np.all(np.diff(ys) >= -1e-6)
                and abs(ys[0]) < 1e-6 and abs(ys[-1] - 1) < 1e-6)


def curve_invariants(tables: dict) -> tuple[int, int]:
    attempted = failed = 0
    for name, df in tables.items():
        pdf = df.select("curve", "sample_size").toPandas()
        if pdf.empty:
            failed += 1                 # every table must have curves
        for curve, n in zip(pdf["curve"], pdf["sample_size"]):
            attempted += 1
            failed += not (curve_ok(curve) and n >= MIN_SAMPLES[name])
    return attempted, failed


def general_recompute(general, items, rng: np.random.Generator,
                      n: int) -> tuple[int, int]:
    """Recompute a seeded sample of general-delay curves (real time
    slots, not the DEFAULT slot) with the NumPy kernel in ``curves.py``
    from the prepared items, and compare point by point."""
    table = general.where("time_slot != 12").toPandas()
    pick = table.iloc[rng.choice(len(table), min(n, len(table)),
                                 replace=False)]
    src = items.where(items.route_id.isin(sorted(set(pick["route_id"])))) \
        .select("route_id", "route_variant", "stop_index", "slot_arrival",
                "slot_departure", "delay_arrival", "delay_departure") \
        .toPandas()
    failed = 0
    for row in pick.itertuples(index=False):
        et = "arrival" if row.event_type == 1 else "departure"
        sel = src[(src["route_id"] == row.route_id)
                  & (src["route_variant"] == row.route_variant)
                  & (src["stop_index"] == row.stop_index)
                  & (src[f"slot_{et}"] == row.time_slot)]
        delays = sel[f"delay_{et}"].dropna().to_numpy("float64")
        vals, counts = np.unique(delays, return_counts=True)
        made = cv.make_curve_counted(vals, counts)
        if made is None or len(delays) != row.sample_size:
            failed += 1
            continue
        want = cv.simplify(made[0], 0.01)
        xs = np.array([p["x"] for p in row.curve])
        ys = np.array([p["y"] for p in row.curve])
        failed += not (len(xs) == len(want.xs)
                       and np.allclose(xs, want.xs, atol=1e-3)
                       and np.allclose(ys, want.ys, atol=1e-5))
    return len(pick), failed


# ---------------------------------------------------------------------------
# board: status and page marker per response
# ---------------------------------------------------------------------------

def page_ok(req: dict, status: int, body: str) -> bool:
    if status != req["status"]:
        return False
    if req["kind"] == "autocomplete":
        return req["marker"] in json.loads(body)
    return req["marker"] in body
