"""The full reference user journey in one test: GTFS-RT protobuf
files → import ETL → records → analyse (curve tables) → live
prediction with realtime basis → prediction rows → departure board.

This is the 'a user of the reference could switch' demonstration:
every stage is the public API of this repo, no test-only shortcuts.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir


@pytest.fixture(scope="module")
def flow(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
        default_curves, general_delay_curves, prepare_dbitems,
        stop_pair_curve_sets,
    )
    from dystonse_gtfs_importer_spark.plans.import_etl import (
        build_records, latest_wins_merge,
    )
    from dystonse_gtfs_importer_spark.schemas import RT_EVENTS
    from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs, variant_stops
    from dystonse_gtfs_importer_spark.sources.store import (
        read_curve_tables, read_records, write_curve_tables, write_records,
    )

    base = tmp_path_factory.mktemp("e2e")
    gdir = base / "gtfs"
    gdir.mkdir()
    write_gtfs_dir(build_schedule(), gdir)
    sched = read_gtfs(spark, str(gdir))

    # 1. import: rt events → records, persisted partitioned
    rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
    records = latest_wins_merge(build_records(
        rt, sched["trips"], sched["stop_times"], "vbn", "sched-2024-01-01"))
    write_records(records, str(base / "records"))
    records = read_records(spark, str(base / "records"))

    # 2. analyse: records → the three statistics tables, persisted
    vstops = variant_stops(sched["trips"], sched["stop_times"])
    items = prepare_dbitems(records, vstops).cache()
    tables = {
        "general": general_delay_curves(items),
        "specific": stop_pair_curve_sets(items),
        "default": default_curves(items, sched["routes"]),
    }
    write_curve_tables(tables, str(base / "stats"))
    tables = read_curve_tables(spark, str(base / "stats"))
    return {"sched": sched, "vstops": vstops, "records": records,
            "tables": tables, "base": base}


class TestEndToEnd:
    def test_live_prediction_flow(self, spark, flow):
        from dystonse_gtfs_importer_spark.plans.predict import (
            predict, prediction_rows, realtime_basis,
        )
        from dystonse_gtfs_importer_spark.schemas import (
            ORIGIN_REALTIME, PRECISION_SPECIFIC, PRECISION_SUPER_GENERAL,
        )

        now = dt.datetime(2024, 1, 1, 9, 0)

        # 3. live basis per vehicle from the records table (S11)
        basis = realtime_basis(flow["records"], flow["vstops"], now)
        assert basis.count() > 0

        # 4. lookups: every later stop × both event types for vehicles
        #    with a basis (the make_prediction fan-out, library op)
        from dystonse_gtfs_importer_spark.plans.predict import (
            prediction_lookups,
        )

        lookups = prediction_lookups(basis, flow["vstops"],
                                     flow["sched"]["stop_times"],
                                     flow["sched"]["routes"])

        predicted = predict(lookups, flow["tables"]["specific"],
                            flow["tables"]["general"],
                            flow["tables"]["default"])
        predicted = predicted.where(
            F.col("prediction_curve").isNotNull()).cache()
        assert predicted.count() > 0
        precs = {r.precision_type for r in
                 predicted.select("precision_type").distinct().collect()}
        assert precs <= set(range(1, 7))
        # with a basis present, at least some predictions are Specific
        # or FallbackSpecific (rungs 1-2)
        assert precs & {1, 2}, f"no specific-rung hits: {precs}"

        # 5. materialize the predictions table (make_prediction)
        preds = prediction_rows(predicted, "vbn", "sched-2024-01-01",
                                ORIGIN_REALTIME).cache()
        row = preds.first()
        assert row.prediction_min <= row.prediction_max
        assert row.origin_type == ORIGIN_REALTIME

        # 6. departure board over the predictions table (monitor)
        from dystonse_gtfs_importer_spark.plans.monitor import (
            departure_board, predictions_for_stop,
        )

        stop_ids = [r.stop_id for r in
                    preds.select("stop_id").distinct().limit(3).collect()]
        window = (dt.datetime(2024, 1, 1, 8, 0),
                  dt.datetime(2024, 1, 1, 12, 0))
        at_stop = predictions_for_stop(preds, stop_ids, *window)
        rows = departure_board(at_stop, *window, all_predictions=preds)
        assert rows, "departure board should show departures"
        t50s = [r.t50 for r in rows]
        assert t50s == sorted(t50s)
