"""ST4 scheduled-predictions tests: service-day expansion, window
selection, ladder integration, high-water-mark resume."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from gtfs_fixtures import (
    build_rt_events, build_schedule, union_per_event_type, write_gtfs_dir,
)


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
        default_curves, general_delay_curves, prepare_dbitems,
        stop_pair_curve_sets,
    )
    from dystonse_gtfs_importer_spark.plans.import_etl import (
        build_records, latest_wins_merge,
    )
    from dystonse_gtfs_importer_spark.schemas import RT_EVENTS
    from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs, variant_stops

    d = tmp_path_factory.mktemp("gtfs_sched")
    write_gtfs_dir(build_schedule(), d)
    sched = read_gtfs(spark, str(d))
    rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
    records = latest_wins_merge(build_records(
        rt, sched["trips"], sched["stop_times"], "test", "sched")).cache()
    vstops = variant_stops(sched["trips"], sched["stop_times"])
    items = prepare_dbitems(records, vstops).cache()
    tables = {
        "general": general_delay_curves(items).cache(),
        "specific": stop_pair_curve_sets(items).cache(),
        "default": default_curves(items, sched["routes"]).cache(),
    }
    return {"sched": sched, "vstops": vstops, "tables": tables,
            "records": records}


@pytest.fixture(scope="module")
def stored_tables(spark, world, tmp_path_factory):
    """The curve tables as a refresh reads them (written, read back),
    with every cached input of the prediction plans materialized."""
    from dystonse_gtfs_importer_spark.sources.store import (
        read_curve_tables, write_curve_tables,
    )

    base = str(tmp_path_factory.mktemp("stats"))
    write_curve_tables(world["tables"], base)
    for df in [*world["sched"].values(), world["vstops"], world["records"]]:
        df.count()
    return read_curve_tables(spark, base)


class TestServiceDates:
    def test_weekday_service_excludes_weekend(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.scheduled import service_dates

        got = service_dates(spark, world["sched"]["calendar"],
                            dt.date(2024, 1, 1), dt.date(2024, 1, 7)).collect()
        days = sorted(str(r.service_date) for r in got)
        # WD service: Mon-Fri only
        assert days == ["2024-01-01", "2024-01-02", "2024-01-03",
                        "2024-01-04", "2024-01-05"]


class TestScheduledPredictions:
    def test_window_and_origin(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.scheduled import (
            scheduled_predictions,
        )
        from dystonse_gtfs_importer_spark.schemas import ORIGIN_SCHEDULE

        now = dt.datetime(2024, 1, 1, 7, 0)
        preds = scheduled_predictions(
            spark, world["sched"], world["vstops"], world["tables"], now,
        ).cache()
        n = preds.count()
        assert n > 0
        first = preds.first()
        assert first.origin_type == ORIGIN_SCHEDULE
        assert first.prediction_curve is not None
        assert first.prediction_min <= first.prediction_max
        # trips all start Mon 08:00-12:00 (+ the 25:00 night trips) —
        # within now + 7d12h
        starts = preds.select("trip_start_date").distinct().collect()
        assert {str(r.trip_start_date) for r in starts} <= {
            "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04",
            "2024-01-05", "2024-01-08"}
        # both event types present
        ets = {r.event_type for r in preds.select("event_type").distinct().collect()}
        assert ets == {1, 2}

    def test_event_times_use_trips_own_schedule(self, spark, world):
        """Every trip of a variant must anchor predictions at ITS OWN
        scheduled seconds, not the variant representative's (the
        reference iterates trip.stop_times): two fixture trips of
        variant 1 start exactly 10×6 min apart, so their seq-1
        departure predictions shift by exactly 3600 s."""
        from dystonse_gtfs_importer_spark.plans.scheduled import (
            scheduled_predictions,
        )

        now = dt.datetime(2024, 1, 1, 7, 0)
        preds = scheduled_predictions(
            spark, world["sched"], world["vstops"], world["tables"], now,
        ).where((F.col("trip_start_date") == dt.date(2024, 1, 1))
                & (F.col("event_type") == 2)
                & (F.col("stop_sequence") == 1))
        rows = {r.trip_id: r for r in preds.where(
            F.col("trip_id").isin("TR1v1n0", "TR1v1n10")).collect()}
        assert set(rows) == {"TR1v1n0", "TR1v1n10"}
        a, b = rows["TR1v1n0"], rows["TR1v1n10"]
        assert b.trip_start_time - a.trip_start_time == 3600
        # same variant + same time slot ⇒ same curve ⇒ the anchor
        # shift is exactly the schedule shift
        assert (b.prediction_min - a.prediction_min
                ).total_seconds() == 3600.0

    def test_resume_point_skips_written(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.scheduled import (
            resume_point, scheduled_predictions,
        )

        now = dt.datetime(2024, 1, 1, 7, 0)
        first_batch = scheduled_predictions(
            spark, world["sched"], world["vstops"], world["tables"], now,
        ).cache()
        hwm = resume_point(first_batch)
        assert hwm is not None
        second = scheduled_predictions(
            spark, world["sched"], world["vstops"], world["tables"], now,
            existing_predictions=first_batch,
        )
        # everything at-or-before the high-water mark is excluded
        start_ts = (F.to_timestamp("trip_start_date")
                    + F.col("trip_start_time") * F.expr("INTERVAL 1 SECOND"))
        overlap = second.where(start_ts < F.lit(hwm)).count()
        assert overlap == 0


NOW = dt.datetime(2024, 1, 1, 9, 0)


def _live(world, tables):
    """The live predictions of a refresh, as ``import -p`` builds them."""
    from dystonse_gtfs_importer_spark.plans import predict
    from dystonse_gtfs_importer_spark.schemas import ORIGIN_REALTIME

    sched = world["sched"]
    basis = predict.realtime_basis(world["records"], world["vstops"], NOW)
    lookups = predict.prediction_lookups(
        basis, world["vstops"], sched["stop_times"], sched["routes"])
    return predict.prediction_rows(
        predict.predict(lookups, tables["specific"], tables["general"],
                        tables["default"])
        .where(F.col("prediction_curve").isNotNull()),
        "test", "sched", ORIGIN_REALTIME)


class TestRefreshPlans:
    """The two prediction writes of a refresh: bounded jobs over the
    cached schedule frames, and no Python-RDD scans."""

    def test_scheduled_write_job_count(self, spark, world, stored_tables,
                                       jobs, tmp_path):
        from dystonse_gtfs_importer_spark.plans.scheduled import (
            scheduled_predictions,
        )
        from dystonse_gtfs_importer_spark.sources.store import (
            write_predictions,
        )

        with jobs() as n:
            write_predictions(scheduled_predictions(
                spark, world["sched"], world["vstops"], stored_tables, NOW),
                str(tmp_path / "p"), mode="append")
        assert 0 < n[0] <= 14, n

    def test_live_write_job_count(self, world, stored_tables, jobs,
                                  tmp_path):
        from dystonse_gtfs_importer_spark.sources.store import (
            write_predictions,
        )

        with jobs() as n:
            write_predictions(_live(world, stored_tables),
                              str(tmp_path / "p"), mode="append")
        assert 0 < n[0] <= 15, n

    def test_scheduled_plan_has_no_rdd_scan(self, spark, world,
                                            stored_tables):
        """The fixture feed has no calendar_dates.txt: the absent file
        must not become a Python-RDD (ExistingRDD) scan."""
        from dystonse_gtfs_importer_spark.plans.scheduled import (
            scheduled_predictions,
        )

        preds = scheduled_predictions(
            spark, world["sched"], world["vstops"], stored_tables, NOW)
        plan = preds._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan

    def test_stacked_lookups_equal_union(self, world):
        """``prediction_lookups`` fans out over event types with one
        ``stack``; its rows equal a union of one select per event type."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.predict import (
            prediction_lookups, realtime_basis,
        )

        sched, vstops = world["sched"], world["vstops"]
        basis = realtime_basis(world["records"], vstops, NOW)
        got = prediction_lookups(basis, vstops, sched["stop_times"],
                                 sched["routes"])
        fan = (basis.join(sched["stop_times"].select(
                   "trip_id", "stop_sequence", "stop_id",
                   "arrival_secs", "departure_secs"), "trip_id")
               .join(vstops.select("route_id", "route_variant",
                                   "stop_sequence", "stop_index",
                                   "stop_count"),
                     ["route_id", "route_variant", "stop_sequence"])
               .where(F.col("stop_index") > F.col("start_stop_index"))
               .join(sched["routes"].select("route_id", "route_type"),
                     "route_id"))
        union = union_per_event_type(fan, fan.columns, {
            "sched_event_secs": ("arrival_secs", "departure_secs")})
        union = union.select(
            "route_id", "route_variant", "trip_id", "trip_start_date",
            "trip_start_time", "route_type", "stop_id", "stop_sequence",
            "event_type",
            F.expr(S.gtfs_noon_datetime("trip_start_date",
                                        "sched_event_secs")).alias("event_dt"),
            "sched_event_secs",
            F.col("stop_index").alias("end_stop_index"),
            "stop_count", "start_stop_index", "initial_delay")
        assert got.columns == union.columns
        assert got.count() > 0
        assert got.exceptAll(union).count() == 0
        assert union.exceptAll(got).count() == 0
