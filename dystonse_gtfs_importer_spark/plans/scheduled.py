"""Scheduled (schedule-origin) predictions — ST4.

Re-expresses ``ScheduledPredictionsImporter``
(/root/reference/src/importer/scheduled_predictions_importer.rs):
during idle time the reference walks trips starting inside a
[resume_point, now + 7.5 days) buffer in ≥1000-trip batches and writes
schedule-origin predictions for every stop × {arrival, departure}.

Here the whole window is one declarative job:

* U1 service-day union: candidate dates expand to (date-1, date) so
  trips starting past 24:00 yesterday still fall in today's window
  (:109-139);
* trips_for_date: calendar weekday flags + validity range;
* high-water-mark resume (A10, :304-336): ``resume_point`` scans the
  existing predictions table for the max schedule-origin trip start;
* the lookup fan-out (trip × stop × event type) feeds the same
  ``predict()`` ladder the realtime path uses, then
  ``prediction_rows(origin=Schedule)``.

The ≥6-min/≥1000-trip batching and 20-min buffer-full backoff are
driver-loop pacing around this job, not data semantics.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import sql_shared as SQL
from ..schemas import ORIGIN_SCHEDULE

PREDICTION_BUFFER = dt.timedelta(days=7, hours=12)   # :30
WEEKDAY_COLS = ("monday", "tuesday", "wednesday", "thursday", "friday",
                "saturday", "sunday")


def service_dates(spark, calendar: DataFrame,
                  from_date: dt.date, to_date: dt.date,
                  calendar_dates: DataFrame | None = None) -> DataFrame:
    """(service_id, service_date) pairs active per calendar weekday
    flags and validity range, for dates in [from_date, to_date].

    ``calendar_dates`` applies the GTFS service exceptions the
    reference honors via gtfs_structures' trips_for_date
    (scheduled_predictions_importer.rs:115-116): exception_type 2
    removes a weekday-active date, type 1 adds a date (including for
    service_ids that have no calendar.txt row at all — exceptions-only
    feeds)."""
    n_days = (to_date - from_date).days + 1
    dates = spark.range(n_days).select(
        F.date_add(F.lit(from_date), F.col("id").cast("int")).alias("service_date"))
    weekday_flag = None
    # days_from_monday → the matching calendar flag column
    dow = F.expr("(dayofweek(service_date) + 5) % 7")
    for i, c in enumerate(WEEKDAY_COLS):
        this = (dow == i) & F.col(c)
        weekday_flag = this if weekday_flag is None else (weekday_flag | this)
    base = (
        calendar.crossJoin(F.broadcast(dates))
        .where(weekday_flag)
        .where((F.col("service_date") >= F.to_date("start_date", "yyyyMMdd"))
               & (F.col("service_date") <= F.to_date("end_date", "yyyyMMdd")))
        .select("service_id", "service_date")
    )
    if calendar_dates is None:
        return base
    cd = (calendar_dates
          .withColumn("service_date", F.to_date("date", "yyyyMMdd"))
          .where((F.col("service_date") >= F.lit(from_date))
                 & (F.col("service_date") <= F.lit(to_date))))
    removed = cd.where(F.col("exception_type") == 2).select(
        "service_id", "service_date")
    added = cd.where(F.col("exception_type") == 1).select(
        "service_id", "service_date")
    return (base.join(F.broadcast(removed),
                      ["service_id", "service_date"], "left_anti")
            .unionByName(added).distinct())


def scheduled_trip_starts(spark, trips: DataFrame, stop_times: DataFrame,
                          calendar: DataFrame,
                          from_ts: dt.datetime, to_ts: dt.datetime,
                          calendar_dates: DataFrame | None = None) -> DataFrame:
    """Vehicles (trip × service day) whose start falls in [from_ts,
    to_ts): the candidate set for schedule-origin predictions.
    Includes yesterday's service day for past-24:00 starts (U1)."""
    first_dep = (
        stop_times.groupBy("trip_id")
        .agg(F.min(F.struct("stop_sequence", "departure_secs")).alias("f"))
        .select("trip_id", F.col("f.departure_secs").alias("trip_start_time"))
    )
    dates = service_dates(spark, calendar,
                          from_ts.date() - dt.timedelta(days=1),
                          to_ts.date(), calendar_dates)
    cand = (
        trips.join(F.broadcast(dates), "service_id")
        .join(F.broadcast(first_dep), "trip_id")
        # C1 noon rule — the one DST-safe schedule-datetime derivation
        # shared with prediction_rows/event_times
        .withColumn(
            "start_ts",
            F.expr(SQL.gtfs_noon_datetime("service_date",
                                          "trip_start_time")))
    )
    return (
        cand.where((F.col("start_ts") >= F.lit(from_ts))
                   & (F.col("start_ts") < F.lit(to_ts)))
        .select("trip_id", "route_id", "route_variant",
                F.col("service_date").alias("trip_start_date"),
                "trip_start_time", "start_ts")
    )


def resume_point(predictions: DataFrame | None) -> dt.datetime | None:
    """A10: latest schedule-origin trip start already written — the
    high-water mark to resume generation from (:304-336)."""
    if predictions is None:
        return None
    row = (
        predictions.where(F.col("origin_type") == ORIGIN_SCHEDULE)
        .agg(F.max(F.expr(SQL.gtfs_noon_datetime(
            "trip_start_date", "trip_start_time"))).alias("m"))
        .first()
    )
    return row.m


def scheduled_predictions(
    spark,
    schedule: dict[str, DataFrame],
    vstops: DataFrame,
    curve_tables: dict[str, DataFrame],
    now: dt.datetime,
    existing_predictions: DataFrame | None = None,
    source: str = "schedule",
    schedule_file_name: str = "schedule",
) -> DataFrame:
    """The full ST4 job: window → lookups → ladder → prediction rows."""
    from .predict import predict, prediction_rows

    start = resume_point(existing_predictions) or now
    end = now + PREDICTION_BUFFER
    vehicles = scheduled_trip_starts(
        spark, schedule["trips"], schedule["stop_times"],
        schedule["calendar"], start, end,
        schedule.get("calendar_dates"))

    routes = F.broadcast(schedule["routes"].select("route_id", "route_type"))
    # event SECONDS must come from the trip's OWN stop_times (the
    # reference iterates trip.stop_times,
    # scheduled_predictions_importer.rs save path) — vstops carries the
    # representative trip's absolute times, which would shift every
    # other trip of the variant by its start-time difference; vstops
    # supplies only the variant geometry (stop_index / stop_count)
    own_st = F.broadcast(schedule["stop_times"].select(
        "trip_id", "stop_sequence", "stop_id",
        "arrival_secs", "departure_secs"))
    vs = F.broadcast(vstops.select(
        "route_id", "route_variant", "stop_sequence",
        "stop_index", "stop_count"))

    # one row per stop × event type, fanned out after the joins
    lookups = (vehicles.join(routes, "route_id")
               .join(own_st, "trip_id")
               .join(vs, ["route_id", "route_variant", "stop_sequence"])
               .select("*", F.expr(SQL.event_type_stack(
                   {"sched_event_secs": ("arrival_secs", "departure_secs")})))
               .select(
                   "route_id", "route_variant", "route_type",
                   "trip_id", "trip_start_date", "trip_start_time",
                   "stop_id", "stop_sequence", "event_type",
                   F.expr(SQL.gtfs_noon_datetime("trip_start_date",
                                                 "sched_event_secs"))
                    .alias("event_dt"),
                   "sched_event_secs",
                   F.col("stop_index").alias("end_stop_index"),
                   "stop_count"))

    predicted = predict(lookups, curve_tables["specific"],
                        curve_tables["general"], curve_tables["default"])
    predicted = predicted.where(F.col("prediction_curve").isNotNull())
    return prediction_rows(predicted, source, schedule_file_name,
                           ORIGIN_SCHEDULE)
