"""Multi-leg journey assembly — the ``parse_journey`` flow of
/root/reference/src/monitor/journey_data.rs:183-208, composed from the
operators this engine already has:

* stop component   → extended_stops (J6: platforms within 300 m)
* trip component   → resolve_trip (J8, service-day-validated) +
                     the boarding stop's DEPARTURE prediction (S9/S10)
                     + C15 transfer probability into the running curve
* stop after trip  → alighting stop_time (first matching name with a
                     HIGHER stop_sequence than boarding — ring routes
                     must not travel back in time, journey_data.rs:281)
                     + the ARRIVAL prediction curve
* walk component   → C13 walk-time curve from the max platform
                     distance, C14-convolved into the running curve

Orchestration is per-request and driver-side exactly like the
reference's HTTP handler: a journey is a handful of legs, each leg's
data access is a Spark query (predicate-pushed predictions filter,
broadcast schedule joins), and only the O(1) per-leg curve state
(≲ 100 points) crosses the driver boundary.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import curves as cv
from .monitor import extended_stops, predictions_for_trip, resolve_trip
from .scheduled import first_departure_secs


def _haversine_m(lat1, lon1, lat2, lon2) -> float:
    """Driver-side twin of functions.sql_shared.haversine_m."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = p2 - p1, math.radians(lon2 - lon1)
    a = (math.sin(dp / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
    return 2 * 6371000.0 * math.asin(math.sqrt(a))


def _epoch(ts: dt.datetime) -> int:
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return int(ts.timestamp())


def _curve_and_ref(pred_row) -> tuple[cv.Curve, int]:
    """TimeCurve anchor (C16): prediction_min corresponds to the
    curve's min_x, so ref_epoch = epoch(prediction_min) − min_x."""
    curve = cv.Curve.from_points(pred_row.prediction_curve)
    return curve, _epoch(pred_row.prediction_min) - int(curve.min_x)


def _stop_geos(ext_rows) -> list[tuple[float, float]]:
    return [(r.stop_lat, r.stop_lon) for r in ext_rows
            if r.stop_lat is not None and r.stop_lon is not None]


def journey_probabilities(
    schedule: dict[str, DataFrame],
    predictions: DataFrame,
    components: list[Any],
    start_dt: dt.datetime,
    return_state: bool = False,
) -> list[dict] | tuple[list[dict], dict]:
    """Walk a journey description and return one row per component with
    the running success probability and the predicted-time percentiles
    at that point.

    ``components`` alternates stop names and leg descriptors, starting
    and ending with a stop name::

        ["Hauptbahnhof",
         {"route_type": 3, "route_short_name": "1",
          "headsign": "Head R1", "departure_hhmm": "08:00"},
         "Stop 4",
         "walk",
         "Stop 5", ...]

    Raises LookupError when a trip cannot be resolved or a needed
    prediction row is absent (the reference bails the same way,
    journey_data.rs:295,449).

    With ``return_state`` also returns the running end-of-journey state
    the monitor HTML layer renders from (StopData in the reference):
    the arrival CDF + absolute anchor, the accumulated probability, the
    final stop's extended platform rows, and how the traveller got
    there (walk distance / boarded trip) for the board's first line.
    When the journey ends on a trip, ``trip`` holds the boarded vehicle
    (trip_id, trip_start_date, trip_start_time, boarding_seq) and its
    boarding ``departure_row``; otherwise it is None."""
    stops_df = schedule["stops"]

    legs: list[dict] = []
    # running state: arrival/departure CDF in relative seconds + its
    # absolute anchor, and the probability of having made it this far
    curve = cv.Curve([-30.0, 30.0], [0.0, 1.0], validate=False)
    ref_s = _epoch(start_dt)
    prob = 1.0

    ext_rows: list = []          # extended stops of the current stop
    pending_walk = False
    last_trip: dict | None = None
    last_walk_m: float | None = None     # how the final stop was reached
    last_arrival_row = None

    def record(kind: str, label: str, **extra) -> None:
        p05 = ref_s + int(cv.x_at_y(curve, 0.05))
        p50 = ref_s + int(cv.x_at_y(curve, 0.5))
        p95 = ref_s + int(cv.x_at_y(curve, 0.95))
        legs.append({"component": kind, "label": label,
                     "prob": round(prob, 4),
                     "t05_s": p05, "t50_s": p50, "t95_s": p95, **extra})

    expect_stop = True
    for comp in components:
        if expect_stop:
            if not isinstance(comp, str):
                raise ValueError(f"expected a stop name, got {comp!r}")
            stop_name = comp
            new_ext = extended_stops(stops_df, stop_name).collect()
            if not new_ext:
                raise LookupError(f"no stops named {stop_name!r}")
            if last_trip is not None:
                # alighting: first stop_time of the trip bearing this
                # name with stop_sequence > boarding (journey_data.rs:281)
                named_ids = {r.stop_id for r in
                             stops_df.where(F.col("stop_name") == stop_name)
                             .select("stop_id").collect()}
                alight = (
                    schedule["stop_times"]
                    .where((F.col("trip_id") == last_trip["trip_id"])
                           & F.col("stop_id").isin(list(named_ids))
                           & (F.col("stop_sequence")
                              > last_trip["boarding_seq"]))
                    .orderBy("stop_sequence").first())
                if alight is None:
                    raise LookupError(
                        f"trip {last_trip['trip_id']} has no stop named "
                        f"{stop_name!r} after boarding")
                arr = (predictions_for_trip(
                    predictions, last_trip["trip_id"],
                    last_trip["trip_start_date"],
                    last_trip["trip_start_time"], alight.stop_sequence)
                    .where((F.col("event_type") == 1)
                           & (F.col("stop_sequence") == alight.stop_sequence))
                    .first())
                if arr is None:
                    raise LookupError(
                        f"no arrival prediction at {stop_name!r} for "
                        f"trip {last_trip['trip_id']}")
                curve, ref_s = _curve_and_ref(arr)
                # alighting loses no probability (journey_data.rs:292)
                last_trip = None
                last_arrival_row, last_walk_m = arr, None
            elif pending_walk:
                # C13/C14: walk from every previous platform to every
                # platform here — reference uses the MAX distance
                # (get_max_distance_from_geos, journey_data.rs:301)
                dist = max(_haversine_m(a[0], a[1], b[0], b[1])
                           for a in _stop_geos(ext_rows)
                           for b in _stop_geos(new_ext))
                walk = cv.walk_time_curve(dist)
                curve = cv.convolve_duration(curve, walk)
                pending_walk = False
                last_walk_m, last_arrival_row = dist, None
            ext_rows = new_ext
            record("stop", stop_name)
            expect_stop = False
        elif comp == "walk":
            # probability of missing a transfer INTO a walk is zero —
            # the walk itself resolves at the next stop component
            pending_walk = True
            record("walk", "walk")
            expect_stop = True
        else:
            desc = comp
            cand = resolve_trip(
                schedule, desc["route_type"], desc["route_short_name"],
                desc["headsign"], desc["departure_hhmm"],
                [r.stop_id for r in ext_rows], start_dt.date()).first()
            if cand is None:
                raise LookupError(f"trip not found: {desc!r}")
            first_dep = (
                schedule["stop_times"]
                .where(F.col("trip_id") == cand.trip_id)
                .agg(first_departure_secs().alias("t")).first().t)
            dep = (predictions_for_trip(
                predictions, cand.trip_id, cand.trip_start_date,
                first_dep, cand.stop_sequence)
                .where((F.col("event_type") == 2)
                       & (F.col("stop_sequence") == cand.stop_sequence))
                .first())
            if dep is None:
                raise LookupError(
                    f"no departure prediction for trip {cand.trip_id} "
                    f"at seq {cand.stop_sequence}")
            dep_curve, dep_ref = _curve_and_ref(dep)
            # C15: chance to catch this departure given the running
            # arrival curve (journey_data.rs:445)
            p_board = cv.transfer_probability(curve, ref_s,
                                              dep_curve, dep_ref)
            prob *= p_board
            curve, ref_s = dep_curve, dep_ref
            last_trip = {
                "trip_id": cand.trip_id,
                "trip_start_date": cand.trip_start_date,
                "trip_start_time": int(first_dep),
                "boarding_seq": cand.stop_sequence,
                "departure_row": dep,
            }
            record("trip",
                   f"{desc['route_short_name']} nach {desc['headsign']}",
                   trip_id=cand.trip_id, p_board=round(p_board, 4))
            expect_stop = True
    if return_state:
        return legs, {
            "curve": curve, "ref_s": ref_s, "prob": prob,
            "ext_rows": ext_rows, "last_walk_m": last_walk_m,
            "last_arrival_row": last_arrival_row, "trip": last_trip,
        }
    return legs
