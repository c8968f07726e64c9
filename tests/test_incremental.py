"""Incremental analyse (plans/incremental.py): folding record slices
into stored bases must reproduce the batch result EXACTLY — same
groups, same sample sizes, same curve points byte-for-byte."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir


def _sorted_rows(df, keys):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t))


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
        prepare_dbitems,
    )
    from dystonse_gtfs_importer_spark.plans.import_etl import (
        build_records, latest_wins_merge,
    )
    from dystonse_gtfs_importer_spark.schemas import RT_EVENTS
    from dystonse_gtfs_importer_spark.sources.gtfs import (
        read_gtfs, variant_stops,
    )

    base = tmp_path_factory.mktemp("incr")
    gdir = base / "gtfs"
    gdir.mkdir()
    write_gtfs_dir(build_schedule(), gdir)
    sched = read_gtfs(spark, str(gdir))
    vstops = variant_stops(sched["trips"], sched["stop_times"])

    rt = spark.createDataFrame(
        build_rt_events(build_schedule(), n_feeds=4), RT_EVENTS)
    records = latest_wins_merge(build_records(
        rt, sched["trips"], sched["stop_times"], "vbn", "s1")).cache()

    # two disjoint VEHICLE-COMPLETE slices (every record of a trip
    # instance stays in one slice — the incremental contract; in
    # production the slice is a closed service day)
    slice1 = records.where(F.crc32(F.col("trip_id")) % 2 == 0)
    slice2 = records.where(F.crc32(F.col("trip_id")) % 2 == 1)
    assert slice1.count() > 0 and slice2.count() > 0

    items_all = prepare_dbitems(records, vstops).cache()
    items1 = prepare_dbitems(slice1, vstops)
    items2 = prepare_dbitems(slice2, vstops)
    return {"sched": sched, "base": base, "items_all": items_all,
            "items1": items1, "items2": items2}


class TestIncrementalAnalyse:
    def test_two_slices_equal_batch(self, spark, setup):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            default_curves, general_delay_curves, stop_pair_curve_sets,
        )
        from dystonse_gtfs_importer_spark.plans.incremental import (
            incremental_analyse,
        )

        stats_dir = str(setup["base"] / "stats")
        routes = setup["sched"]["routes"]
        incremental_analyse(spark, stats_dir, setup["items1"], routes)
        tables = incremental_analyse(spark, stats_dir, setup["items2"],
                                     routes)

        batch = {
            "general": general_delay_curves(setup["items_all"]),
            "specific": stop_pair_curve_sets(setup["items_all"]),
            "default": default_curves(setup["items_all"], routes),
        }
        for name in ("general", "specific", "default"):
            got = _sorted_rows(tables[name], None)
            want = _sorted_rows(batch[name], None)
            assert got == want, f"{name}: incremental != batch"
            assert len(got) > 0, f"{name}: empty table"

    def test_merge_is_order_insensitive(self, spark, setup):
        from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
            general_delay_counted,
        )
        from dystonse_gtfs_importer_spark.plans.incremental import (
            merge_counted,
        )

        a = general_delay_counted(setup["items1"])
        b = general_delay_counted(setup["items2"])
        ab = _sorted_rows(merge_counted(a, b), None)
        ba = _sorted_rows(merge_counted(b, a), None)
        assert ab == ba
