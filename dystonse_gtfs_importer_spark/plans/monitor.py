"""The monitor query layer (§3.3 monitor path): the *data* behind the
departure-board pages — every filter/join/probability computation of
/root/reference/src/monitor/, minus the HTML.

All predicates are plain column expressions (codegen-friendly); curve
math goes through the Arrow UDFs in functions.curve_udfs, except on the
departure board, which filters its O(board) rows on the driver.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row

from .. import curves as cv
from ..functions import sql_shared as S
from ..functions.curve_udfs import (
    convolve_with, curve_x_at_y_expr, transfer_probability, walk_time_curve,
)
from ..rendering import heat_strip_data_url
from ..schemas import (
    EVENT_DEPARTURE, ORIGIN_REALTIME, ORIGIN_SCHEDULE, PREDICTIONS_PK,
)


def predictions_for_stop(predictions: DataFrame, stop_ids,
                         min_time, max_time) -> DataFrame:
    """S8: predictions overlapping [min_time, max_time) at given stops
    (monitor/mod.rs:1551-1606) — interval-overlap predicate."""
    return predictions.where(
        F.col("stop_id").isin(list(stop_ids))
        & (F.col("prediction_min") < F.lit(max_time))
        & (F.col("prediction_max") > F.lit(min_time)))


def predictions_for_trip(predictions: DataFrame, trip_id: str,
                         trip_start_date, trip_start_time: int,
                         from_stop_sequence: int) -> DataFrame:
    """S9: a vehicle's predictions from a stop_sequence onward
    (monitor/mod.rs:1608-1664)."""
    return predictions.where(
        (F.col("trip_id") == trip_id)
        & (F.col("trip_start_date") == F.lit(trip_start_date))
        & (F.col("trip_start_time") == trip_start_time)
        & (F.col("stop_sequence") >= from_stop_sequence))


def extended_stops(stops: DataFrame, stop_name: str,
                   radius_m: float = 300.0) -> DataFrame:
    """J6: all stops within ``radius_m`` haversine of any platform
    bearing ``stop_name`` (journey_data.rs:22-23,237-263).  stops is a
    dimension table — the self-join is broadcast."""
    named = stops.where(F.col("stop_name") == stop_name).select(
        F.col("stop_lat").alias("c_lat"), F.col("stop_lon").alias("c_lon"))
    dist = F.expr(S.haversine_m("c_lat", "c_lon", "stop_lat", "stop_lon"))
    return (
        stops.crossJoin(F.broadcast(named))
        .where(dist < radius_m)
        .select(stops.columns)
        .distinct()
    )


def departure_board(predictions: DataFrame, min_time, max_time,
                    all_predictions: DataFrame | None = None,
                    with_heat_strip: bool = False) -> list[Row]:
    """The stop-page pipeline (monitor/mod.rs:426-591): S8 window →
    F8 outlier trim → F9 realtime-over-schedule dedup → F10 last-stop
    drop → W3 sort by median predicted time (ties by the table key).

    As in the reference, which filters its MySQL rows in Rust, Spark
    runs only the two table reads — the departures in ``predictions``
    (already restricted to the stop group by predictions_for_stop) and
    the board vehicles' last ``stop_sequence`` in ``all_predictions``
    (the unrestricted table, monitor/mod.rs:497-510; defaults to
    ``predictions``) — and the driver does the rest over O(board) rows,
    keeping SQL NULL semantics.  ``prediction_min`` anchors the curve's
    relative seconds as the reference's TimeCurve ref_time does; naive
    ``min_time``/``max_time`` are local time, as for Spark literals.

    Returns the sorted rows: the input columns plus epoch seconds
    ``ref_s``/``t05``/``t50``/``t95`` and, with ``with_heat_strip``,
    ``strip_data_url``.
    """
    lo, hi = math.floor(min_time.timestamp()), math.floor(max_time.timestamp())

    def key(row, cols):                 # a NULL in a join key never matches
        k = tuple(row[c] for c in cols)
        return None if None in k else k

    board = []                          # (row dict, curve)
    for r in predictions.where(F.col("event_type") == EVENT_DEPARTURE
                               ).collect():
        if r.prediction_min is None or len(r.prediction_curve or ()) < 2:
            continue
        c = cv.Curve.from_points(r.prediction_curve)
        x0, x05, x50, x95 = cv.x_at_y(c, [0.0, 0.05, 0.5, 0.95]).tolist()
        # absolute epoch of the curve's zero point: prediction_min is
        # scheduled_time + curve.min_x (make_prediction,
        # per_schedule_importer.rs:345-346)
        ref_s = math.floor(r.prediction_min.timestamp()) - x0
        row = dict(r.asDict(), ref_s=ref_s, t05=ref_s + x05,
                   t50=ref_s + x50, t95=ref_s + x95)
        # F8: drop departures certainly outside the window
        if row["t05"] < hi and row["t95"] > lo:
            board.append((row, c))

    # F9: drop Schedule rows that have a Realtime twin for the same
    # (route, start date+time)
    twin = ("route_id", "trip_start_date", "trip_start_time")
    rt_keys = {key(row, twin) for row, _ in board
               if row["origin_type"] == ORIGIN_REALTIME} - {None}
    board = [(row, c) for row, c in board if row["origin_type"] is not None
             and (row["origin_type"] != ORIGIN_SCHEDULE
                  or key(row, twin) not in rt_keys)]

    # F10: drop the trip's final stop (nothing departs from it).  The
    # per-vehicle max needs the full table, but only for the vehicles
    # on this board: the filter keeps the board's trips, dates and
    # start times (a small superset, matched exactly below), so the
    # aggregate is bounded by the board size.
    vehicle = ("trip_id", "trip_start_date", "trip_start_time")
    keys = {key(row, vehicle) for row, _ in board} - {None}
    last_seq = {}
    if keys:
        full = all_predictions if all_predictions is not None else predictions
        trips, dates, times = (sorted(set(col)) for col in zip(*keys))
        last_seq = {key(r, vehicle): r.max_seq for r in (
            full.where(F.col("trip_id").isin(trips)
                       & F.col("trip_start_date").isin(dates)
                       & F.col("trip_start_time").isin(times)
                       & F.col("stop_sequence").isNotNull())
            .groupBy(*vehicle)
            .agg(F.max("stop_sequence").alias("max_seq")).collect())}
    board = [(row, c) for row, c in board
             if row["stop_sequence"] is not None and row["stop_sequence"]
             < last_seq.get(key(row, vehicle), -math.inf)]

    # W3: order by median predicted departure; ties by the table key,
    # NULLs last
    ties = PREDICTIONS_PK + ("origin_type", "stop_id")
    board.sort(key=lambda b: (b[0]["t50"],) + tuple(
        (b[0][k] is None, b[0][k]) for k in ties))

    if with_heat_strip:
        # S19/C22: the per-departure probability strip as a PNG data
        # URL across the board window (generate_png_data_url,
        # monitor/mod.rs:1214-1262)
        for row, c in board:
            row["strip_data_url"] = heat_strip_data_url(
                cv.heat_strip(c, row["ref_s"], lo, hi), height=4)
    return [Row(**row) for row, _ in board]


# Spatial-grid constants for transfer_chances.  Cells must be at least
# `radius` meters in each direction so one ring of neighbors covers the
# search radius.  1 deg latitude >= 110574 m everywhere; 1 deg longitude
# = 111320*cos(lat) m, so a fixed longitude cell width is only valid up
# to a latitude bound — we size it for |lat| <= ~66.1 deg and collapse
# higher-latitude bands into a single sentinel longitude bucket (still
# correct: those rare polar rows pair-check against their whole band,
# which transit data barely populates).  Antimeridian-crossing pairs
# (lon +179.99 vs -179.99) are not bridged — same limitation as any
# fixed-grid scheme; no GTFS feed spans it.
_POLAR_LAT_DEG = 66.0
_LON_SENTINEL = 1_000_000_000


def _neighbor_cells(lat_col, lon_col, dlat_deg: float, dlon_deg: float,
                    polar_band: int):
    """Array of the 3x3 (or polar-collapsed) grid cells around a point,
    as struct<g_lat:long, g_lon:long> — the arrival side explodes this
    so the pair join is a plain equi-join on (g_lat, g_lon)."""
    base_band = F.floor(lat_col / F.lit(dlat_deg)).cast("long")
    lon_cell = F.floor(lon_col / F.lit(dlon_deg)).cast("long")

    def band_cells(band):
        polar = F.array(F.struct(
            band.alias("g_lat"),
            F.lit(_LON_SENTINEL).cast("long").alias("g_lon")))
        normal = F.array(*[
            F.struct(band.alias("g_lat"), (lon_cell + i).alias("g_lon"))
            for i in (-1, 0, 1)])
        return F.when(F.abs(band) >= polar_band, polar).otherwise(normal)

    return F.flatten(F.array(*[band_cells(base_band + i)
                               for i in (-1, 0, 1)]))


def _own_cell_cols(lat_col, lon_col, dlat_deg: float, dlon_deg: float,
                   polar_band: int):
    band = F.floor(lat_col / F.lit(dlat_deg)).cast("long")
    lon_cell = F.when(F.abs(band) >= polar_band,
                      F.lit(_LON_SENTINEL).cast("long")) \
                .otherwise(F.floor(lon_col / F.lit(dlon_deg)).cast("long"))
    return band, lon_cell


def transfer_chances(arrivals: DataFrame, departures: DataFrame,
                     stops: DataFrame, min_probability: float = 0.05,
                     radius_m: float = 300.0) -> DataFrame:
    """C13+C14+C15 (+F11): for each (arrival, candidate departure) at
    nearby platforms: walk-time curve from the haversine platform
    distance, convolve into the arrival curve, then transfer
    probability against the departure curve; keep chances >=
    ``min_probability`` (monitor/mod.rs:880-884).

    ``arrivals`` / ``departures`` are prediction rows (event_type 1 /
    2) carrying stop_id, prediction_min, prediction_curve.

    Scale path: pairs are generated by an equi-join on a ~radius_m
    spatial grid cell (arrival side exploded to the 3x3 neighbor ring),
    so candidate volume scales with local stop density, never the
    all-pairs product; the exact haversine / time / same-trip
    predicates run as residual filters on the matched cells only.
    """
    import math

    dlat_deg = radius_m / 110574.0
    dlon_deg = radius_m / (111320.0 * math.cos(math.radians(66.1)))
    polar_band = int(math.floor(_POLAR_LAT_DEG / dlat_deg))

    st = stops.select("stop_id", "stop_lat", "stop_lon")

    def geo(preds: DataFrame, pfx: str) -> DataFrame:
        return preds.join(F.broadcast(st), "stop_id").select(
            F.col("trip_id").alias(pfx + "trip_id"),
            F.col("stop_id").alias(pfx + "stop_id"),
            F.col("prediction_min").alias(pfx + "prediction_min"),
            F.col("prediction_max").alias(pfx + "prediction_max"),
            F.col("prediction_curve").alias(pfx + "prediction_curve"),
            F.col("stop_lat").alias(pfx + "lat"),
            F.col("stop_lon").alias(pfx + "lon"))

    a = geo(arrivals, "a_").withColumn(
        "_cell", F.explode(_neighbor_cells(
            F.col("a_lat"), F.col("a_lon"), dlat_deg, dlon_deg, polar_band)))
    a = (a.withColumn("g_lat", F.col("_cell.g_lat"))
         .withColumn("g_lon", F.col("_cell.g_lon")).drop("_cell"))

    d_band, d_lon_cell = _own_cell_cols(
        F.col("d_lat"), F.col("d_lon"), dlat_deg, dlon_deg, polar_band)
    dpt = (geo(departures, "d_")
           .withColumn("g_lat", d_band).withColumn("g_lon", d_lon_cell))

    # each (band, lon) appears at most once in the arrival's neighbor
    # list, so a pair can match in exactly one cell — no dedup needed
    pairs = a.join(dpt, ["g_lat", "g_lon"]).where(
        (F.col("a_trip_id") != F.col("d_trip_id"))
        & (F.col("d_prediction_max") > F.col("a_prediction_min")))
    dist = F.expr(S.haversine_m("a_lat", "a_lon", "d_lat", "d_lon"))
    pairs = pairs.withColumn("walk_m", dist).where(
        F.col("walk_m") < radius_m)

    arr_ref = (F.unix_timestamp("a_prediction_min")
               - curve_x_at_y_expr(F.col("a_prediction_curve"), F.lit(0.0)))
    dep_ref = (F.unix_timestamp("d_prediction_min")
               - curve_x_at_y_expr(F.col("d_prediction_curve"), F.lit(0.0)))
    pairs = (
        pairs.withColumn("walk_curve", walk_time_curve(F.col("walk_m")))
        .withColumn("arr_with_walk",
                    convolve_with(F.col("a_prediction_curve"),
                                  F.col("walk_curve")))
        .withColumn("arr_ref_s", arr_ref.cast("long"))
        .withColumn("dep_ref_s", dep_ref.cast("long"))
        .withColumn(
            "p_transfer",
            transfer_probability(F.col("arr_with_walk"), F.col("arr_ref_s"),
                                 F.col("d_prediction_curve"),
                                 F.col("dep_ref_s")))
    )
    out = pairs.select(
        F.col("a_trip_id").alias("arrival_trip"),
        F.col("a_stop_id").alias("arrival_stop"),
        F.col("d_trip_id").alias("departure_trip"),
        F.col("d_stop_id").alias("departure_stop"),
        F.round("walk_m", 1).alias("walk_m"),
        F.round("p_transfer", 4).alias("p_transfer"),
    )
    return out.where(F.col("p_transfer") >= min_probability)  # F11


def resolve_trip(schedule: dict[str, DataFrame], route_type: int,
                 route_short_name: str, headsign: str,
                 departure_hhmm: str, stop_id, on_date) -> DataFrame:
    """J8: resolve a journey-URL descriptor (route type + short name,
    headsign, HH:MM departure at a stop) to concrete vehicles
    (journey_data.rs:341-476): filter trips by headsign, join routes
    on name+type, expand candidate service days (−1/0/+1 for trips
    past midnight), check each candidate date against calendar(+dates)
    validity (the reference's trip_days walk, journey_data.rs:406-476
    — without this a trip can 'resolve' onto a day it doesn't run),
    match the scheduled departure to the minute; 'first match wins'
    via ascending sort + limit."""
    import datetime as dt

    from .scheduled import service_dates

    hh, mm = departure_hhmm.split(":")
    target_min = int(hh) * 60 + int(mm)

    stop_ids = [stop_id] if isinstance(stop_id, str) else list(stop_id)
    routes = schedule["routes"].where(
        (F.col("route_type") == route_type)
        & (F.col("route_short_name") == route_short_name))
    trips = schedule["trips"].where(F.col("trip_headsign") == headsign)
    st = schedule["stop_times"].where(F.col("stop_id").isin(stop_ids))

    j = (trips.join(F.broadcast(routes), "route_id")
         .join(st, "trip_id"))
    base = on_date if isinstance(on_date, dt.date) else on_date.date()
    out = None
    for day_offset in (-1, 0, 1):
        service_date = base + dt.timedelta(days=day_offset)
        # wall-clock seconds on `base` = departure_secs shifted by the
        # service-day offset; must land inside `base` on the target minute
        wall_secs = F.col("departure_secs") + day_offset * 86400
        cand = (j.withColumn("trip_start_date", F.lit(service_date))
                .where((wall_secs >= 0) & (wall_secs < 86400))
                .where(F.floor(wall_secs / 60).cast("int") == target_min))
        out = cand if out is None else out.unionByName(cand)
    if schedule.get("calendar") is not None:
        valid = service_dates(
            out.sparkSession, schedule["calendar"],
            base - dt.timedelta(days=1), base + dt.timedelta(days=1),
            schedule.get("calendar_dates"))
        out = out.join(
            F.broadcast(valid.select(
                "service_id",
                F.col("service_date").alias("trip_start_date"))),
            ["service_id", "trip_start_date"], "left_semi")
    return (out.select("trip_id", "route_id", "route_variant",
                       "trip_start_date", "stop_id", "stop_sequence",
                       "departure_secs")
            .orderBy("trip_id").limit(1))


def autocomplete_stops(stops: DataFrame, query: str, limit: int = 10
                       ) -> DataFrame:
    """F12+O3: stop names containing every space-separated term,
    case-insensitive; sorted distinct top-N (monitor/mod.rs:198-215)."""
    cond = F.lit(True)
    for term in query.lower().split():
        cond = cond & F.lower(F.col("stop_name")).contains(term)
    return (stops.where(cond).select("stop_name").distinct()
            .orderBy("stop_name").limit(limit))
