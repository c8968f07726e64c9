"""End-to-end tests of the GTFS domain pipelines on synthetic fixtures:
schedule read → records ETL → latest-wins merge → forward fill →
curve tables (general_delay, specific stop-pair sets, default ladder)."""

from __future__ import annotations

import numpy as np
import pytest

import pyspark.sql.functions as F

from gtfs_fixtures import (
    build_rt_events, build_schedule, union_per_event_type, write_gtfs_dir,
)


@pytest.fixture(scope="module")
def schedule_dfs(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs

    d = tmp_path_factory.mktemp("gtfs")
    write_gtfs_dir(build_schedule(), d)
    return read_gtfs(spark, str(d))


@pytest.fixture(scope="module")
def records(spark, schedule_dfs):
    from dystonse_gtfs_importer_spark.plans.import_etl import (
        build_records, latest_wins_merge,
    )
    from dystonse_gtfs_importer_spark.schemas import RT_EVENTS

    rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
    recs = build_records(rt, schedule_dfs["trips"], schedule_dfs["stop_times"],
                         source="test", schedule_file_name="sched-2024-01-01")
    return latest_wins_merge(recs).cache()


@pytest.fixture(scope="module")
def vstops(schedule_dfs):
    from dystonse_gtfs_importer_spark.sources.gtfs import variant_stops

    return variant_stops(schedule_dfs["trips"], schedule_dfs["stop_times"])


class TestGtfsRead:
    def test_tables_load(self, schedule_dfs):
        assert schedule_dfs["routes"].count() == 3
        assert schedule_dfs["trips"].count() == 3 * 2 * 41
        st = schedule_dfs["stop_times"]
        assert "arrival_secs" in st.columns

    def test_past_midnight_times(self, schedule_dfs):
        night = schedule_dfs["stop_times"].where(
            F.col("trip_id").endswith("night"))
        mx = night.agg(F.max("arrival_secs")).first()[0]
        assert mx > 86400  # 25:00:00+ parsed, not wrapped

    def test_variant_stops_geometry(self, vstops):
        one = (vstops.where((F.col("route_id") == "R1")
                            & (F.col("route_variant") == 1))
               .orderBy("stop_index").collect())
        assert [r.stop_index for r in one] == list(range(8))
        assert all(r.stop_count == 8 for r in one)
        # stop_sequence keeps its gaps
        assert [r.stop_sequence for r in one] == [1, 2, 4, 5, 7, 8, 10, 11]

    @pytest.mark.parametrize("header", [
        "\ufeffstop_id,stop_name",          # UTF-8 BOM
        '"stop_id","stop, name",""',         # quoted, comma, empty
        "stop_id,Stop_ID,stop_name,stop_id",  # duplicates, any case
        "\n  \nstop_id,stop_name",           # blank lines first
    ])
    def test_header_names_match_spark_reader(self, spark, tmp_path, header):
        """The driver-side header read names the columns exactly as
        Spark's own CSV header parsing does."""
        from dystonse_gtfs_importer_spark.sources.gtfs import _csv_header

        f = tmp_path / "stops.txt"
        f.write_text(header + "\nS1,a,b,c\n", encoding="utf-8")
        assert _csv_header(str(f), False) == \
            spark.read.csv(str(f), header=True).columns

    def test_bom_header_maps_by_name(self, spark, tmp_path):
        from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs

        write_gtfs_dir(build_schedule(), tmp_path)
        stops = tmp_path / "stops.txt"
        stops.write_text("\ufeff" + stops.read_text(), encoding="utf-8")
        got = read_gtfs(spark, str(tmp_path))["stops"]
        assert got.where(F.col("stop_id").isNull()).count() == 0
        assert got.count() == len(build_schedule()["stops"])

    def test_load_runs_no_jobs(self, spark, tmp_path, jobs):
        """Headers are read on the driver and the frames cache lazily:
        loading a feed runs no Spark job."""
        from dystonse_gtfs_importer_spark.sources.gtfs import (
            read_gtfs, variant_stops,
        )

        write_gtfs_dir(build_schedule(), tmp_path)
        with jobs() as n:
            sched = read_gtfs(spark, str(tmp_path))
            variant_stops(sched["trips"], sched["stop_times"])
        assert n == [0]

    def test_absent_optional_file_is_empty_local_relation(self,
                                                          schedule_dfs):
        """An absent optional file scans nothing: its frame optimizes to
        an empty LocalRelation carrying the schema's types."""
        from dystonse_gtfs_importer_spark.schemas import CALENDAR_DATES

        cd = schedule_dfs["calendar_dates"]
        plan = cd._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation <empty>"), plan
        assert [(f.name, f.dataType) for f in cd.schema.fields] == \
            [(f.name, f.dataType) for f in CALENDAR_DATES.fields]

    def test_reread_of_rewritten_dir_returns_new_rows(self, spark, tmp_path):
        """The frames are cached, yet a new load of a rewritten
        directory must return the new rows, not the cached old ones."""
        from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs

        sched = build_schedule()
        write_gtfs_dir(sched, tmp_path)
        ids = {r.route_id for r in
               read_gtfs(spark, str(tmp_path))["routes"].collect()}
        assert ids == set(sched["routes"]["route_id"])
        sched["routes"]["route_id"] = sched["routes"]["route_id"] + "x"
        write_gtfs_dir(sched, tmp_path)
        ids = {r.route_id for r in
               read_gtfs(spark, str(tmp_path))["routes"].collect()}
        assert ids == set(sched["routes"]["route_id"])


class TestImportEtl:
    def test_unknown_trip_and_stop_dropped(self, records):
        assert records.where(F.col("trip_id") == "UNKNOWN_TRIP").count() == 0
        assert records.where(F.col("stop_sequence") == 99).count() == 0

    def test_all_null_delay_rows_dropped(self, records):
        assert records.where(
            F.col("delay_arrival").isNull()
            & F.col("delay_departure").isNull()).count() == 0

    def test_null_trip_start_dropped(self, spark, schedule_dfs):
        """Updates whose trip descriptor lacks a parseable start are
        skipped (GtfsDateTime::from_trip_descriptor errors,
        per_schedule_importer.rs:159) — and a null key would poison the
        (source, trip_start_date) partition layout."""
        from dystonse_gtfs_importer_spark.plans.import_etl import build_records
        from dystonse_gtfs_importer_spark.schemas import RT_EVENTS

        rows = [
            ("f", 1704096000, "TR1v1n0", "R1", None, "08:00:00",
             1, "S1", 60, 60),          # no start_date → dropped
            ("f", 1704096000, "TR1v1n0", "R1", "20240101", "08:00:00",
             1, "S1", 60, 60),          # valid twin → kept
        ]
        rt = spark.createDataFrame(rows, RT_EVENTS)
        recs = build_records(rt, schedule_dfs["trips"],
                             schedule_dfs["stop_times"], "s", "f").collect()
        assert len(recs) == 1
        assert recs[0].trip_start_date is not None

    def test_latest_wins_unique_pk(self, records):
        from dystonse_gtfs_importer_spark.schemas import RECORDS_PK

        dupes = (records.groupBy(*RECORDS_PK).count()
                 .where(F.col("count") > 1).count())
        assert dupes == 0

    def test_latest_wins_keeps_newest(self, spark, schedule_dfs):
        from dystonse_gtfs_importer_spark.plans.import_etl import (
            build_records, latest_wins_merge,
        )
        from dystonse_gtfs_importer_spark.schemas import RT_EVENTS

        rt_pdf = build_rt_events(build_schedule())
        rt = spark.createDataFrame(rt_pdf, RT_EVENTS)
        recs = build_records(rt, schedule_dfs["trips"],
                             schedule_dfs["stop_times"], "test", "sched")
        merged = latest_wins_merge(recs)
        # pick a (trip, stop) reported in several feeds; merged row must
        # carry the max header_timestamp among its reports
        multi = (recs.groupBy("trip_id", "stop_sequence")
                 .agg(F.count("*").alias("n"),
                      F.max("time_of_recording").alias("max_ts"))
                 .where(F.col("n") > 1).limit(5).collect())
        assert multi, "fixture should re-report stops across feeds"
        for row in multi:
            got = (merged.where((F.col("trip_id") == row.trip_id)
                                & (F.col("stop_sequence") == row.stop_sequence))
                   .select("time_of_recording").first()[0])
            assert got == row.max_ts

    def test_merge_idempotent_and_commutative(self, spark, schedule_dfs, records):
        from dystonse_gtfs_importer_spark.plans.import_etl import latest_wins_merge

        again = latest_wins_merge(records, existing=records)
        assert again.count() == records.count()
        # re-merge in reversed input order yields the same set
        rev = latest_wins_merge(records.orderBy(F.desc("time_of_recording")),
                                existing=records)
        assert rev.exceptAll(again).count() == 0


class TestForwardFill:
    def test_gaps_filled(self, records, vstops):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            forward_fill_projection,
        )

        filled = forward_fill_projection(records, vstops).cache()
        # projected rows exist and carry non-null delay pairs
        proj = filled.where(F.col("is_projected"))
        assert proj.count() > 0
        # every (vehicle, stop) is unique and total rows ≥ real records
        assert filled.count() >= records.count()
        # spot-check one vehicle: delays constant across a gap
        veh = filled.groupBy("trip_id", "trip_start_date", "trip_start_time") \
            .agg(F.count("*").alias("n"), F.sum(F.col("is_projected").cast("int")).alias("p")) \
            .where((F.col("p") > 0)).first()
        rows = (filled.where(F.col("trip_id") == veh.trip_id)
                .orderBy("stop_sequence").collect())
        last_da = None
        for r in rows:
            if r.is_projected and last_da is not None:
                assert r.delay_arrival == last_da
            last_da = r.delay_arrival


class TestCurvePipelines:
    @pytest.fixture(scope="class")
    def items(self, records, vstops):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import prepare_dbitems

        return prepare_dbitems(records, vstops).cache()

    def test_dbitems_slots(self, items):
        # Monday 08:00-12:00 schedule → slot 3 (workday late morning)
        slots = {r.slot_arrival for r in items.select("slot_arrival").distinct().collect()}
        assert 3 in slots

    def test_general_delay_curves(self, items):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            general_delay_curves,
        )

        gd = general_delay_curves(items).cache()
        assert gd.count() > 0
        row = gd.first()
        ys = [p.y for p in row.curve]
        xs = [p.x for p in row.curve]
        assert ys[0] == 0.0 and ys[-1] == 1.0
        assert all(b >= a for a, b in zip(ys, ys[1:]))
        assert all(b > a for a, b in zip(xs, xs[1:]))
        assert row.sample_size >= 20
        # DEFAULT slot rows exist (slot 12)
        assert gd.where(F.col("time_slot") == 12).count() > 0

    def test_stop_pair_curve_sets(self, items):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            stop_pair_curve_sets,
        )

        sp = stop_pair_curve_sets(items).cache()
        assert sp.count() > 0
        row = sp.where(F.col("time_slot") == 12).first()
        assert row.end_stop_index > row.start_stop_index
        # delays were rounded to 12s before curve building → every
        # curve x is a multiple of 12
        xs = [p.x for p in row.curve]
        assert all(float(x) % 12 == 0 for x in xs)
        # span gate: curves narrower than 13s were discarded
        assert xs[-1] - xs[0] >= 13.0

    def test_default_curves_ladder(self, items, schedule_dfs):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import default_curves
        from dystonse_gtfs_importer_spark.schemas import (
            PRECISION_FALLBACK_GENERAL, PRECISION_GENERAL,
            PRECISION_SUPER_GENERAL,
        )

        dc = default_curves(items, schedule_dfs["routes"]).cache()
        precs = {r.precision_type for r in dc.select("precision_type").distinct().collect()}
        assert precs == {PRECISION_GENERAL, PRECISION_FALLBACK_GENERAL,
                         PRECISION_SUPER_GENERAL}
        # SuperGeneral: exactly one per event type, all dims null
        sg = dc.where(F.col("precision_type") == PRECISION_SUPER_GENERAL).collect()
        assert len(sg) == 2
        assert all(r.route_type is None and r.route_section is None for r in sg)
        # General rows carry full dimensionality
        g = dc.where(F.col("precision_type") == PRECISION_GENERAL).first()
        assert g.route_type is not None and g.route_section in (
            "beginning", "middle", "end")

    def test_default_ladder_numpy_recompute(self, spark, items,
                                            schedule_dfs):
        """The whole default ladder recomputed from its leaf basis with
        curves.py alone must equal ``default_curves`` exactly: leaves
        gated at ≥10 values, built, simplified and float32 round-
        tripped; each rung averaged in sorted key order; sample sizes
        the int of the inputs' mean.  A 9-value leaf added to the
        basis must fall to the gate and change nothing."""
        from dystonse_gtfs_importer_spark import curves as cv
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            default_curves, default_curves_from_counted, default_leaf_counted,
        )
        from dystonse_gtfs_importer_spark.schemas import (
            PRECISION_FALLBACK_GENERAL, PRECISION_GENERAL,
            PRECISION_SUPER_GENERAL,
        )

        routes = schedule_dfs["routes"]
        counted = default_leaf_counted(items, routes)
        dims = ["route_type", "route_section", "time_slot", "event_type"]
        first = counted.first().asDict()
        small = [{**first, "route_variant": -1, "delay": d, "cnt": c}
                 for d, c in ((-12, 2), (0, 2), (12, 2), (24, 3))]
        counted = counted.unionByName(spark.createDataFrame(
            [[r[c] for c in counted.columns] for r in small], counted.schema))
        basis = counted.toPandas()

        def f32(curve):
            return cv.Curve.from_points(curve.points())

        def rung(rows, keys, precision):
            out = []
            for key, grp in sorted(_group(rows, keys).items()):
                out.append({
                    **dict.fromkeys(dims), **dict(zip(keys, key)),
                    "curve": f32(cv.average_curves([r["curve"]
                                                    for r in grp])),
                    "n": int(np.mean([r["n"] for r in grp])),
                    "p": precision})
            return out

        leaves, gated = [], 0
        for key, g in basis.groupby(dims + ["route_variant"], sort=True):
            n = int(g["cnt"].sum())
            made = (cv.make_curve_counted(g["delay"].to_numpy(float),
                                          g["cnt"].to_numpy(float))
                    if n >= 10 else None)
            if made is None:
                gated += 1
                continue
            leaves.append({**dict(zip(dims, key)), "n": n,
                           "curve": f32(cv.simplify(made[0], 0.01))})
        assert gated == 1 and leaves  # only the added leaf is gated
        general = rung(leaves, dims, PRECISION_GENERAL)
        fallback = rung(general, ["route_type", "event_type"],
                        PRECISION_FALLBACK_GENERAL)
        supergeneral = rung(fallback, ["event_type"], PRECISION_SUPER_GENERAL)
        want = {(tuple(r[k] for k in dims), r["p"]):
                (r["n"], list(zip(r["curve"].xs, r["curve"].ys)))
                for r in general + fallback + supergeneral}

        for df in (default_curves(items, routes),
                   default_curves_from_counted(counted)):
            got = {(tuple(r[k] for k in dims), r.precision_type):
                   (r.sample_size, [(p.x, p.y) for p in r.curve])
                   for r in df.collect()}
            assert got == want and len(got) == 26

    def test_default_curves_job_count(self, items, schedule_dfs, jobs,
                                      tmp_path):
        """The ladder is one grouped pass plus driver code: computing
        and writing the default table stays within 6 Spark jobs."""
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            default_curves,
        )
        from dystonse_gtfs_importer_spark.sources.store import (
            write_curve_tables,
        )

        items.count()  # materialize the shared cache outside the block
        with jobs() as n:
            write_curve_tables(
                {"default": default_curves(items, schedule_dfs["routes"])},
                str(tmp_path / "stats"))
        assert 0 < n[0] <= 6, n

    def test_general_curves_job_count(self, items, jobs, tmp_path):
        """Computing and writing the general table over the shared
        cached items stays within 4 Spark jobs."""
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            general_delay_curves,
        )
        from dystonse_gtfs_importer_spark.sources.store import (
            write_curve_tables,
        )

        items.count()  # materialize the shared cache outside the block
        with jobs() as n:
            write_curve_tables({"general": general_delay_curves(items)},
                               str(tmp_path / "stats"))
        assert 0 < n[0] <= 4, n

    def test_default_table_is_a_local_relation(self, items, schedule_dfs):
        """The driver-built default table reaches Spark through Arrow:
        a local table scan, not a Python-RDD (ExistingRDD) scan."""
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            default_curves,
        )

        dc = default_curves(items, schedule_dfs["routes"])
        plan = dc._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    def test_unpivot_stack_equals_union(self, items):
        """The one ``stack`` fan-out over event types yields the same
        row multiset as a union of one select per event type."""
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            _unpivot_events,
        )

        cols = [c for c in items.columns
                if not c.startswith(("delay_", "dt_", "slot_"))]
        union = union_per_event_type(items, cols, {
            "delay": ("delay_arrival", "delay_departure"),
            "time_slot": ("slot_arrival", "slot_departure"),
            "event_dt": ("dt_arrival", "dt_departure")}
        ).where(F.col("delay").isNotNull())
        got = _unpivot_events(items)
        assert got.columns == union.columns
        assert got.exceptAll(union).count() == 0
        assert union.exceptAll(got).count() == 0


def _group(rows: list[dict], keys: list[str]) -> dict[tuple, list]:
    out: dict[tuple, list] = {}
    for r in rows:
        out.setdefault(tuple(r[k] for k in keys), []).append(r)
    return out
