"""The predict pipeline: precision-ladder curve lookup (J9, §3.3).

Re-expresses ``Predictor::predict``
(/root/reference/src/predictor/mod.rs:178-335) — a hierarchical
hash-map descent per query — as a chain of broadcast left joins over
the three curve tables produced by ``plans.analyse_gtfs``, with one
``coalesce`` per ladder rung:

    1 Specific           curve set (route, variant, et, slot, i_s, i_e)
                         interpolated at the known initial delay
    2 FallbackSpecific   same, DEFAULT slot (12)
    3 SemiSpecific       general_delay (route, variant, et, i_e) —
                         only when no realtime basis is known
    4 General            default (route_type, section(i_e), slot, et)
    5 FallbackGeneral    default (route_type, et)
    6 SuperGeneral       default (et)

Ladder nuances mirrored from the reference: the specific rungs apply
only when a realtime basis (start stop + departure delay) exists; the
SemiSpecific rung only when none does (predictor/mod.rs:270-335); the
reference's ``general_delay`` map is effectively DEFAULT-slot data
because each slot iteration overwrites the same key
(specific_curves.rs:362-368), so rung 3 joins slot 12.

Scale: queries are the fact side (every upcoming stop event of every
active vehicle); all curve tables are schedule-bounded dimensions and
are broadcast — the plan is a pipeline of broadcast hash joins with no
shuffle of the query stream.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, MapType

from .. import curves as cv
from ..functions import sql_shared as S
from ..functions.curve_udfs import curve_x_at_y_expr, interp_curve_set_expr
from ..schemas import CURVE_TYPE


@pandas_udf(CURVE_TYPE)
def _interp_curve_set(curve_sets: pd.Series, xs: pd.Series) -> pd.Series:
    """C9: ``curve_at_x_with_continuation`` — blend the two member
    curves around the queried initial delay."""
    out = []
    for cs, x in zip(curve_sets, xs):
        if cs is None or len(cs) == 0 or x is None or pd.isna(x):
            out.append(None)
            continue
        members = [(float(m["focus"]), cv.Curve.from_points(m["curve"]))
                   for m in cs]
        curve = cv.curve_set_interpolate(members, float(x))
        out.append(curve.points())
    return pd.Series(out)


def _curve_set_table(specific: DataFrame) -> DataFrame:
    """Stop-pair curve rows → one curve-set row per key."""
    keys = ["route_id", "route_variant", "event_type", "time_slot",
            "start_stop_index", "end_stop_index"]
    return (
        specific.groupBy(*keys).agg(
            F.sort_array(F.collect_list(F.struct("focus", "curve")))
            .alias("curve_set"),
            F.first("sample_size").alias("sample_size"),
        )
    )


def predict(
    lookups: DataFrame,
    specific_sets: DataFrame,
    general_delay: DataFrame,
    default_curves: DataFrame,
) -> DataFrame:
    """Attach the best available curve + precision_type to each lookup.

    ``lookups`` columns: route_id, route_variant, route_type,
    event_type, event_dt (timestamp for slot classification),
    end_stop_index, stop_count, and optionally start_stop_index +
    initial_delay (the realtime PredictionBasis).
    """
    from ..schemas import (
        PRECISION_FALLBACK_GENERAL, PRECISION_FALLBACK_SPECIFIC,
        PRECISION_GENERAL, PRECISION_SEMI_SPECIFIC, PRECISION_SPECIFIC,
        PRECISION_SUPER_GENERAL,
    )

    q = lookups.withColumn(
        "time_slot", F.expr(S.time_slot_id("event_dt", S.SPARK)).cast("int")
    ).withColumn(
        "route_section",
        F.expr(S.route_section("end_stop_index", "stop_count", S.SPARK)),
    )
    if "start_stop_index" not in q.columns:
        q = q.withColumn("start_stop_index", F.lit(None).cast("int"))
        q = q.withColumn("initial_delay", F.lit(None).cast("double"))

    cs = _curve_set_table(specific_sets)

    def rename(df: DataFrame, prefix: str, cols: list[str]) -> DataFrame:
        out = df
        for c in cols:
            out = out.withColumnRenamed(c, f"{prefix}{c}")
        return out

    # rung 1: exact slot
    r1 = rename(cs, "r1_", ["curve_set", "sample_size"])
    q = q.join(
        F.broadcast(r1),
        ["route_id", "route_variant", "event_type", "time_slot",
         "start_stop_index", "end_stop_index"],
        "left")
    # rung 2: DEFAULT slot
    r2 = rename(
        cs.where(F.col("time_slot") == S.TIME_SLOT_DEFAULT_ID)
        .drop("time_slot"), "r2_", ["curve_set", "sample_size"])
    q = q.join(
        F.broadcast(r2),
        ["route_id", "route_variant", "event_type",
         "start_stop_index", "end_stop_index"],
        "left")
    # C9 interpolation: the JVM Column twin keeps the whole ladder
    # Python-free (no Arrow transfer of every curve set per lookup
    # batch); the pandas kernel ``_interp_curve_set`` stays as the
    # reference implementation, parity-tested in tests/test_predict.py
    q = q.withColumn(
        "r1_curve",
        interp_curve_set_expr(F.col("r1_curve_set"), F.col("initial_delay"))
    ).withColumn(
        "r2_curve",
        interp_curve_set_expr(F.col("r2_curve_set"), F.col("initial_delay"))
    )

    # rung 3: SemiSpecific — DEFAULT-slot general_delay at the end stop,
    # only when no realtime basis is given
    r3 = (
        general_delay.where(F.col("time_slot") == S.TIME_SLOT_DEFAULT_ID)
        .select("route_id", "route_variant", "event_type",
                F.col("stop_index").alias("end_stop_index"),
                F.col("curve").alias("r3_curve"),
                F.col("sample_size").alias("r3_sample_size"))
    )
    q = q.join(F.broadcast(r3),
               ["route_id", "route_variant", "event_type", "end_stop_index"],
               "left")
    q = q.withColumn(
        "r3_curve",
        F.when(F.col("initial_delay").isNull(), F.col("r3_curve")))

    # rungs 4-6: the default ladder (precision prebaked in the table)
    d = default_curves
    r4 = d.where(F.col("precision_type") == PRECISION_GENERAL).select(
        "route_type", "route_section", "time_slot", "event_type",
        F.col("curve").alias("r4_curve"),
        F.col("sample_size").alias("r4_sample_size"))
    r5 = d.where(F.col("precision_type") == PRECISION_FALLBACK_GENERAL).select(
        "route_type", "event_type",
        F.col("curve").alias("r5_curve"),
        F.col("sample_size").alias("r5_sample_size"))
    r6 = d.where(F.col("precision_type") == PRECISION_SUPER_GENERAL).select(
        "event_type",
        F.col("curve").alias("r6_curve"),
        F.col("sample_size").alias("r6_sample_size"))
    q = (
        q.join(F.broadcast(r4),
               ["route_type", "route_section", "time_slot", "event_type"],
               "left")
        .join(F.broadcast(r5), ["route_type", "event_type"], "left")
        .join(F.broadcast(r6), ["event_type"], "left")
    )

    prec = (
        F.when(F.col("r1_curve").isNotNull(), PRECISION_SPECIFIC)
        .when(F.col("r2_curve").isNotNull(), PRECISION_FALLBACK_SPECIFIC)
        .when(F.col("r3_curve").isNotNull(), PRECISION_SEMI_SPECIFIC)
        .when(F.col("r4_curve").isNotNull(), PRECISION_GENERAL)
        .when(F.col("r5_curve").isNotNull(), PRECISION_FALLBACK_GENERAL)
        .when(F.col("r6_curve").isNotNull(), PRECISION_SUPER_GENERAL)
    )
    out = (
        q.withColumn("prediction_curve",
                     F.coalesce("r1_curve", "r2_curve", "r3_curve",
                                "r4_curve", "r5_curve", "r6_curve"))
        .withColumn("precision_type", prec.cast("tinyint"))
        .withColumn(
            "sample_size",
            F.coalesce(
                F.when(F.col("r1_curve").isNotNull(), F.col("r1_sample_size")),
                F.when(F.col("r2_curve").isNotNull(), F.col("r2_sample_size")),
                F.when(F.col("r3_curve").isNotNull(), F.col("r3_sample_size")),
                F.when(F.col("r4_curve").isNotNull(), F.col("r4_sample_size")),
                F.when(F.col("r5_curve").isNotNull(), F.col("r5_sample_size")),
                F.col("r6_sample_size")).cast("int"))
    )
    drop = [c for c in out.columns
            if c.startswith(("r1_", "r2_", "r3_", "r4_", "r5_", "r6_"))]
    return out.drop(*drop)


def realtime_basis(records: DataFrame, vstops: DataFrame, now) -> DataFrame:
    """S11/O7: per vehicle, the most recent observation whose
    *estimated departure* lies in the past — the PredictionBasis a
    live lookup starts from (/root/reference/src/predictor/real_time.rs:31-107:
    ORDER BY time_of_recording DESC, stop_sequence DESC, first row
    with departure < now).

    Returns one row per vehicle: (vehicle key, start_stop_index,
    initial_delay).
    """
    from pyspark.sql.window import Window

    v = F.broadcast(vstops.select(
        "route_id", "route_variant", "stop_id", "stop_index",
        "departure_secs"))
    r = records.join(v, ["route_id", "route_variant", "stop_id"])
    # the reference's filter_map drops rows lacking a departure delay
    # BEFORE picking the most recent past departure (real_time.rs:75-88)
    # — otherwise a null-delay row can win the window and silently
    # demote the lookup from Specific to SemiSpecific
    r = r.where(F.col("delay_departure").isNotNull())
    est_dep = F.unix_timestamp(F.expr(S.gtfs_noon_datetime(
        "trip_start_date", "departure_secs + delay_departure")))
    past = r.where(est_dep < F.unix_timestamp(F.lit(now)))
    w = (Window.partitionBy("route_id", "route_variant", "trip_id",
                            "trip_start_date", "trip_start_time")
         .orderBy(F.col("time_of_recording").desc(),
                  F.col("stop_sequence").desc()))
    return (
        past.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("route_id", "route_variant", "trip_id", "trip_start_date",
                "trip_start_time",
                F.col("stop_index").alias("start_stop_index"),
                F.col("delay_departure").cast("double").alias("initial_delay"))
    )


def prediction_lookups(basis: DataFrame, vstops: DataFrame,
                       stop_times: DataFrame, routes: DataFrame
                       ) -> DataFrame:
    """Fan vehicles out to every UPCOMING stop event — the lookup rows
    ``predict()`` consumes (the make_prediction loop over the trip's
    stop_times from the current position, per_schedule_importer.rs:240-330).

    ``basis`` holds one row per vehicle with its realtime
    PredictionBasis (``start_stop_index``, ``initial_delay``); a vehicle
    without one (both NULL, as every schedule-origin vehicle) has every
    stop upcoming.  Event seconds come from the trip's OWN stop_times
    (the reference iterates trip.stop_times) — ``vstops`` carries the
    representative trip's times and supplies only the variant geometry
    (stop_index / stop_count).  All joins are broadcast — the vehicle
    stream is the fact side."""
    vehicle = ["route_id", "route_variant", "trip_id",
               "trip_start_date", "trip_start_time"]
    own_st = F.broadcast(stop_times.select(
        "trip_id", "stop_sequence", "stop_id",
        "arrival_secs", "departure_secs"))
    vs = F.broadcast(vstops.select(
        "route_id", "route_variant", "stop_sequence",
        "stop_index", "stop_count"))
    fan = (basis.join(own_st, "trip_id")
           .join(vs, ["route_id", "route_variant", "stop_sequence"])
           .where(F.col("start_stop_index").isNull()
                  | (F.col("stop_index") > F.col("start_stop_index")))
           .join(F.broadcast(routes.select("route_id", "route_type")),
                 "route_id"))
    # one row per stop × event type, fanned out after the joins
    return fan.select("*", F.expr(S.event_type_stack(
        {"sched_event_secs": ("arrival_secs", "departure_secs")}))).select(
            *vehicle, "route_type", "stop_id", "stop_sequence", "event_type",
            F.expr(S.gtfs_noon_datetime("trip_start_date", "sched_event_secs"))
             .alias("event_dt"),
            "sched_event_secs",
            F.col("stop_index").alias("end_stop_index"),
            "stop_count", "start_stop_index", "initial_delay")


def prediction_rows(predicted: DataFrame, source: str,
                    schedule_file_name: str, origin_type: int) -> DataFrame:
    """``make_prediction`` materialization
    (/root/reference/src/importer/per_schedule_importer.rs:320-366):
    prediction_min/max = trip_start_date + (scheduled event seconds +
    curve min/max), i.e. the C1 ``date_and_time_local`` rule with day
    carry via timestamp arithmetic.

    ``predicted`` needs: trip_id, trip_start_date, trip_start_time,
    route_id, stop_id, stop_sequence, event_type, sched_event_secs,
    prediction_curve, precision_type, sample_size.
    """
    min_x = curve_x_at_y_expr(F.col("prediction_curve"), F.lit(0.0))
    max_x = curve_x_at_y_expr(F.col("prediction_curve"), F.lit(1.0))
    # anchor through the C1 noon rule (service_day@12:00 + secs − 12 h)
    # so ALL schedule-datetime math shares one DST-safe derivation —
    # equivalent to midnight+secs in a fixed-offset TZ, but correct on
    # DST-transition days in local-time deployments
    predicted = (predicted
                 .withColumn("__secs_min",
                             (F.col("sched_event_secs") + min_x).cast("long"))
                 .withColumn("__secs_max",
                             (F.col("sched_event_secs") + max_x).cast("long")))
    return predicted.select(
        F.lit(source).alias("source"),
        F.col("event_type").cast("tinyint"),
        "stop_id",
        F.expr(S.gtfs_noon_datetime("trip_start_date", "__secs_min"))
         .alias("prediction_min"),
        F.expr(S.gtfs_noon_datetime("trip_start_date", "__secs_max"))
         .alias("prediction_max"),
        "route_id",
        "trip_id",
        "trip_start_date",
        "trip_start_time",
        "stop_sequence",
        "precision_type",
        F.lit(origin_type).cast("tinyint").alias("origin_type"),
        "sample_size",
        "prediction_curve",
        F.lit(schedule_file_name).alias("schedule_file_name"),
    )


@pandas_udf(MapType(DoubleType(), DoubleType()))
def curve_percentiles(curve: pd.Series) -> pd.Series:
    """C11: delay at the standard probability levels
    (prediction_result.rs:40-47)."""
    out = []
    for c in curve:
        if c is None or len(c) < 2:
            out.append(None)
        else:
            out.append(cv.percentiles(cv.Curve.from_points(c)))
    return pd.Series(out)
