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
* the lookup fan-out (trip × stop × event type) is the realtime path's
  ``prediction_lookups`` with no basis, feeding the same ``predict()``
  ladder, then ``prediction_rows(origin=Schedule)``.

The ≥6-min/≥1000-trip batching and 20-min buffer-full backoff are
driver-loop pacing around this job, not data semantics.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

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


def first_departure_secs() -> Column:
    """Aggregate: a trip's start, the departure seconds at its lowest
    stop_sequence — the ``trip_start_time`` vehicles are keyed by."""
    return F.min(F.struct("stop_sequence", "departure_secs"))[
        "departure_secs"]


def scheduled_trip_starts(spark, trips: DataFrame, stop_times: DataFrame,
                          calendar: DataFrame,
                          from_ts: dt.datetime, to_ts: dt.datetime,
                          calendar_dates: DataFrame | None = None) -> DataFrame:
    """Vehicles (trip × service day) whose start falls in [from_ts,
    to_ts): the candidate set for schedule-origin predictions.
    Includes yesterday's service day for past-24:00 starts (U1)."""
    first_dep = stop_times.groupBy("trip_id").agg(
        first_departure_secs().alias("trip_start_time"))
    dates = service_dates(spark, calendar,
                          from_ts.date() - dt.timedelta(days=1),
                          to_ts.date(), calendar_dates)
    cand = (
        trips.join(F.broadcast(dates), "service_id")
        .join(F.broadcast(first_dep), "trip_id")
        # the C1 noon rule, as every schedule-datetime derivation
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
    from .predict import predict, prediction_lookups, prediction_rows

    start = resume_point(existing_predictions) or now
    end = now + PREDICTION_BUFFER
    vehicles = scheduled_trip_starts(
        spark, schedule["trips"], schedule["stop_times"],
        schedule["calendar"], start, end,
        schedule.get("calendar_dates")).select(
            "route_id", "route_variant", "trip_id", "trip_start_date",
            "trip_start_time",
            F.lit(None).cast("int").alias("start_stop_index"),
            F.lit(None).cast("double").alias("initial_delay"))
    lookups = prediction_lookups(vehicles, vstops, schedule["stop_times"],
                                 schedule["routes"])
    predicted = predict(lookups, curve_tables["specific"],
                        curve_tables["general"], curve_tables["default"])
    predicted = predicted.where(F.col("prediction_curve").isNotNull())
    return prediction_rows(predicted, source, schedule_file_name,
                           ORIGIN_SCHEDULE)
