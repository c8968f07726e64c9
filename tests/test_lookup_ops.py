"""Tests for S11 realtime-basis extraction, S15 outdated-prediction
removal, and J8 trip resolution."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.plans.import_etl import (
        build_records, latest_wins_merge,
    )
    from dystonse_gtfs_importer_spark.schemas import RT_EVENTS
    from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs, variant_stops

    d = tmp_path_factory.mktemp("gtfs_lk")
    write_gtfs_dir(build_schedule(), d)
    sched = read_gtfs(spark, str(d))
    rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
    records = latest_wins_merge(build_records(
        rt, sched["trips"], sched["stop_times"], "test", "sched")).cache()
    vstops = variant_stops(sched["trips"], sched["stop_times"])
    return {"sched": sched, "records": records, "vstops": vstops}


class TestRealtimeBasis:
    def test_one_basis_per_vehicle_in_past(self, world):
        from dystonse_gtfs_importer_spark.plans.predict import realtime_basis

        now = dt.datetime(2024, 1, 1, 12, 0)
        basis = realtime_basis(world["records"], world["vstops"], now).cache()
        # exactly one row per vehicle
        dup = (basis.groupBy("trip_id", "trip_start_date", "trip_start_time")
               .count().where(F.col("count") > 1).count())
        assert dup == 0
        assert basis.count() > 0

    def test_future_observations_excluded(self, world):
        from dystonse_gtfs_importer_spark.plans.predict import realtime_basis

        # before any trip's estimated departures → no basis at all
        early = dt.datetime(2024, 1, 1, 0, 1)
        assert realtime_basis(world["records"], world["vstops"],
                              early).count() == 0


class TestRemoveOutdated:
    def test_only_old_schedule_in_window_removed(self, spark):
        from dystonse_gtfs_importer_spark.schemas import PREDICTIONS
        from dystonse_gtfs_importer_spark.streaming.import_stream import (
            remove_outdated_predictions,
        )

        def row(tag, sched, start_secs, origin=2, source="s"):
            t0 = dt.datetime(2024, 1, 1, 10, 30)
            return {
                "source": source, "event_type": 2, "stop_id": "S1",
                "prediction_min": t0,
                "prediction_max": t0 + dt.timedelta(minutes=10),
                "route_id": "R", "trip_id": tag,
                "trip_start_date": dt.date(2024, 1, 1),
                "trip_start_time": start_secs, "stop_sequence": 1,
                "precision_type": 3, "origin_type": origin,
                "sample_size": 1,
                "prediction_curve": [{"x": 0.0, "y": 0.0},
                                     {"x": 1.0, "y": 1.0}],
                "schedule_file_name": sched,
            }

        end = dt.datetime(2024, 1, 1, 12)
        rows = [
            # old schedule file, trip starts before `end` → deleted
            row("drop-me", "old", 10 * 3600),
            # old file but trip starts after `end` → kept
            row("keep-late", "old", 14 * 3600),
            # old file, early start, REALTIME origin → kept (the
            # reference restricts to origin_type = Schedule)
            row("keep-rt", "old", 10 * 3600, origin=1),
            # old file, early start, different source → kept
            row("keep-other-src", "old", 10 * 3600, source="s2"),
            # current schedule file → kept
            row("keep-current", "new", 10 * 3600),
        ]
        df = spark.createDataFrame(rows, PREDICTIONS)
        kept = remove_outdated_predictions(df, "s", "new", end).collect()
        assert {r.trip_id for r in kept} == {
            "keep-late", "keep-rt", "keep-other-src", "keep-current"}


class TestResolveTrip:
    def test_resolves_known_departure(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.monitor import resolve_trip

        # fixture: trip TR1v1n0 (R1 short name '1', bus type 3,
        # headsign 'Head R1') departs its first stop at 08:00:30 →
        # minute 08:00; stop_id of variant 1's first stop is S1
        got = resolve_trip(world["sched"], route_type=3,
                           route_short_name="1", headsign="Head R1",
                           departure_hhmm="08:00", stop_id="S1",
                           on_date=dt.date(2024, 1, 1)).collect()
        assert len(got) == 1
        assert got[0].trip_id == "TR1v1n0"
        assert str(got[0].trip_start_date) == "2024-01-01"

    def test_past_midnight_trip_found_on_next_day(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.monitor import resolve_trip

        # night trip departs 25:00:30 on service day D → wall clock
        # 01:00 on D+1; resolving on D+1 must find service day D
        got = resolve_trip(world["sched"], route_type=3,
                           route_short_name="1", headsign="Head R1",
                           departure_hhmm="01:00", stop_id="S1",
                           on_date=dt.date(2024, 1, 2)).collect()
        assert len(got) == 1
        assert got[0].trip_id.endswith("night")
        assert str(got[0].trip_start_date) == "2024-01-01"

    def test_non_service_day_rejected(self, spark, world):
        """J8 fidelity: WD service doesn't run Saturdays — the naive
        time/headsign match exists, but the service-day check must
        reject it (journey_data.rs:406-476)."""
        import datetime as dt

        from dystonse_gtfs_importer_spark.plans.monitor import resolve_trip

        got = resolve_trip(world["sched"], route_type=3,
                           route_short_name="1", headsign="Head R1",
                           departure_hhmm="08:00", stop_id="S1",
                           on_date=dt.date(2024, 1, 6)).collect()
        assert got == []

    def test_added_service_day_resolves(self, spark, world, tmp_path):
        """calendar_dates type-1 exception makes the Saturday run."""
        import datetime as dt

        import pandas as pd

        from dystonse_gtfs_importer_spark.plans.monitor import resolve_trip
        from dystonse_gtfs_importer_spark.schemas import CALENDAR_DATES

        sched = dict(world["sched"])
        sched["calendar_dates"] = spark.createDataFrame(
            pd.DataFrame([{"service_id": "WD", "date": "20240106",
                           "exception_type": 1}]), CALENDAR_DATES)
        got = resolve_trip(sched, route_type=3,
                           route_short_name="1", headsign="Head R1",
                           departure_hhmm="08:00", stop_id="S1",
                           on_date=dt.date(2024, 1, 6)).collect()
        assert len(got) == 1
        assert str(got[0].trip_start_date) == "2024-01-06"

    def test_no_match_returns_empty(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.monitor import resolve_trip

        got = resolve_trip(world["sched"], route_type=3,
                           route_short_name="1", headsign="Head R1",
                           departure_hhmm="03:33", stop_id="S1",
                           on_date=dt.date(2024, 1, 1)).collect()
        assert got == []
