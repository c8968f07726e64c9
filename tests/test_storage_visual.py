"""Tests for storage layout (S16/S17), visual-schedule pipeline
(U2/A13/C20), count stats (A1/A2/F1), file-date as-of assignment
(S4/J3), and the C17/C18 format expressions."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
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

    d = tmp_path_factory.mktemp("gtfs_sv")
    write_gtfs_dir(build_schedule(), d)
    sched = read_gtfs(spark, str(d))
    rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
    records = latest_wins_merge(build_records(
        rt, sched["trips"], sched["stop_times"], "test", "sched")).cache()
    vstops = variant_stops(sched["trips"], sched["stop_times"])
    return {"records": records, "vstops": vstops, "sched": sched}


class TestStorage:
    def test_records_roundtrip_partitioned(self, spark, world, tmp_path):
        from dystonse_gtfs_importer_spark.sources.store import (
            read_records, write_records,
        )

        path = str(tmp_path / "records")
        write_records(world["records"], path)
        back = read_records(spark, path)
        assert back.count() == world["records"].count()
        # partition pruning: reading one source prunes directories
        import glob

        assert glob.glob(f"{path}/source=test/trip_start_date=*"), \
            "expected hive-style partition dirs"
        plan = back.where(
            (F.col("source") == "test")
            & (F.col("trip_start_date") == dt.date(2024, 1, 1))
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan or "partition" in plan.lower()

    def test_curve_tables_roundtrip(self, spark, world, tmp_path):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            general_delay_curves, prepare_dbitems,
        )
        from dystonse_gtfs_importer_spark.sources.store import (
            read_curve_tables, write_curve_tables,
        )

        items = prepare_dbitems(world["records"], world["vstops"])
        gd = general_delay_curves(items)
        base = str(tmp_path / "stats")
        write_curve_tables({"general": gd}, base)
        back = read_curve_tables(spark, base)["general"]
        assert back.count() == gd.count()
        row = back.first()
        assert row.curve[0]["y"] == 0.0


class TestVisualSchedule:
    def test_is_sub_window(self):
        from dystonse_gtfs_importer_spark.plans.visual_schedule import (
            is_sub_window,
        )

        assert is_sub_window(["b", "c"], ["a", "b", "c", "d"])
        assert is_sub_window(["c", "b"], ["a", "b", "c", "d"])  # reversed
        assert not is_sub_window(["a", "c"], ["a", "b", "c", "d"])  # gap
        assert not is_sub_window(["a", "e"], ["a", "b"])

    def test_greedy_groups_cover_all_variants(self, world):
        from dystonse_gtfs_importer_spark.plans.visual_schedule import (
            variant_draw_groups,
        )

        groups = variant_draw_groups(world["vstops"])
        covered = sorted(v for g in groups for v in g["variants"])
        expected = sorted(
            r.route_variant for r in world["vstops"]
            .select("route_id", "route_variant").distinct().collect())
        assert covered == expected  # every variant exactly once

    def test_trip_point_series_ordered(self, world):
        from dystonse_gtfs_importer_spark.plans.visual_schedule import (
            trip_point_series,
        )

        series = trip_point_series(world["records"], world["vstops"])
        row = series.first()
        idxs = [p.stop_index for p in row.points]
        assert idxs == sorted(idxs)


class TestStopPairCurveSeries:
    def test_plot_series_shapes(self, spark):
        """S19: curve-set + general curves exploded to plot points
        (draw_curves_for_stop_pair data, curve_visualisation.rs:381-463)."""
        from dystonse_gtfs_importer_spark.plans.visual_schedule import (
            stop_pair_curve_series,
        )
        from dystonse_gtfs_importer_spark.schemas import CURVE_TYPE

        curve = [{"x": -60.0, "y": 0.0}, {"x": 60.0, "y": 1.0}]
        specific = spark.createDataFrame(
            [("R1", 1, 2, 3, 0, 4, 0.0, curve, 30),
             ("R1", 1, 2, 3, 0, 4, 25.0, curve, 30)],
            "route_id string, route_variant long, event_type tinyint, "
            "time_slot int, start_stop_index int, end_stop_index int, "
            f"focus float, curve {CURVE_TYPE.simpleString()}, "
            "sample_size long")
        general = spark.createDataFrame(
            [("R1", 1, 2, 3, 0, curve, 40),    # departure at start
             ("R1", 1, 1, 3, 4, curve, 41),    # arrival at end
             ("R1", 1, 1, 3, 0, curve, 42)],   # arrival at START: excluded
            "route_id string, route_variant long, event_type tinyint, "
            f"time_slot int, stop_index int, "
            f"curve {CURVE_TYPE.simpleString()}, sample_size long")
        out = stop_pair_curve_series(specific, general).collect()
        assert {r.series for r in out} == {
            "curve_set", "departure_at_start", "arrival_at_end"}
        # (2 focus curves + 2 matched general curves) × 2 points each
        assert len(out) == 8
        assert {r.y_pct for r in out} == {0.0, 100.0}   # percent scale
        assert {r.focus for r in out if r.series == "curve_set"} == {0.0, 25.0}
        assert all(r.sample_size == 40 for r in out
                   if r.series == "departure_at_start")
        assert all(r.sample_size == 41 for r in out
                   if r.series == "arrival_at_end")


class TestCountStats:
    def test_buckets_and_sanity_filter(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.count_stats import count_stats

        cs = count_stats(world["records"]).collect()
        assert len(cs) >= 1
        assert all(r.n_records > 0 for r in cs)
        total = sum(r.n_records for r in cs)
        sane = world["records"].where(
            F.col("delay_arrival").between(-36000, 36000)).count()
        assert total == sane

    def test_assign_schedule_asof(self, spark):
        from dystonse_gtfs_importer_spark.plans.count_stats import (
            assign_schedule, file_date,
        )

        rt = spark.createDataFrame(
            [("feed-2024-01-05T08-00.pb",), ("feed-2024-01-02T08-00.pb",),
             ("feed-2023-12-30T08-00.pb",)], "feed_file string"
        ).withColumn("file_date", file_date())
        schedules = spark.createDataFrame(
            [("sched-A", dt.date(2024, 1, 1)), ("sched-B", dt.date(2024, 1, 4))],
            "schedule_file_name string, schedule_date date")
        got = {r.feed_file: r.schedule_file_name
               for r in assign_schedule(rt, schedules).collect()}
        assert got == {
            "feed-2024-01-05T08-00.pb": "sched-B",   # newest ≤ file date
            "feed-2024-01-02T08-00.pb": "sched-A",
            # 2023-12-30 predates all schedules → dropped (F15)
        }


class TestFormatExprs:
    def test_parity_and_values(self, spark):
        from dystonse_gtfs_importer_spark.functions import sql_shared as S

        pdf = pd.DataFrame({"secs": [0, 61, 125, -45, 3599]})
        for spark_e, duck_e, expect in [
            (S.format_delay("secs"), S.format_delay("secs"),
             ["+0", "+61", "+125", "-45", "+3599"]),
            (S.format_duration_min("secs", S.SPARK),
             S.format_duration_min("secs", S.DUCKDB),
             ["0:00 Min.", "1:01 Min.", "2:05 Min.", None, "59:59 Min."]),
        ]:
            sdf = spark.createDataFrame(pdf)
            got_s = [r[0] for r in sdf.selectExpr(f"{spark_e} AS v").collect()]
            con = duckdb.connect()
            con.register("t", pdf)
            got_d = [r[0] for r in
                     con.execute(f"SELECT {duck_e} AS v FROM t").fetchall()]
            if expect[3] is None:   # negative duration: engine-specific %
                got_s[3] = got_d[3] = None
            assert got_s == got_d
            for g, e in zip(got_s, expect):
                if e is not None:
                    assert g == e

    def test_route_type_letter(self, spark):
        from dystonse_gtfs_importer_spark.functions import sql_shared as S

        df = spark.createDataFrame(
            [(2, "RE5"), (2, "S3"), (2, "ICE 79"), (0, "4"), (3, "N62")],
            "rt int, name string")
        got = [r[0] for r in df.selectExpr(
            S.route_type_letter("rt", "name") + " AS v").collect()]
        assert got == ["r", "s", "d", "t", "b"]
