"""Monitor query-layer tests: departure board filters (F8-F11, W3),
interval-overlap reads (S8/S9), spatial extended stops (J6), and the
walk/convolve/transfer probability chain (C13-C15)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyspark.sql.functions as F
import pytest

from dystonse_gtfs_importer_spark.schemas import (
    ORIGIN_REALTIME, ORIGIN_SCHEDULE, PREDICTIONS,
)

BASE = dt.datetime(2024, 1, 1, 8, 0, 0)


def _curve(center_s: float, spread_s: float = 60.0):
    xs = np.linspace(center_s - spread_s, center_s + spread_s, 5)
    ys = [0.0, 0.25, 0.5, 0.75, 1.0]
    return [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)]


def _pred(trip, stop, seq, event_type, sched_offset_s, origin,
          route="R1", start_time=8 * 3600, spread=60.0, curve=None):
    curve = curve or _curve(0.0, spread)
    t = BASE + dt.timedelta(seconds=sched_offset_s)
    return {
        "source": "test", "event_type": event_type, "stop_id": stop,
        "prediction_min": t - dt.timedelta(seconds=spread),
        "prediction_max": t + dt.timedelta(seconds=spread),
        "route_id": route, "trip_id": trip,
        "trip_start_date": dt.date(2024, 1, 1),
        "trip_start_time": start_time, "stop_sequence": seq,
        "precision_type": 3, "origin_type": origin, "sample_size": 50,
        "prediction_curve": curve, "schedule_file_name": "sched",
    }


@pytest.fixture(scope="module")
def predictions(spark):
    rows = [
        # trip A: departures at two stops + final stop (must be dropped)
        _pred("A", "S1", 1, 2, 300, ORIGIN_REALTIME),
        _pred("A", "S2", 2, 2, 600, ORIGIN_REALTIME),
        _pred("A", "S3", 3, 2, 900, ORIGIN_REALTIME),
        # trip B: schedule-origin with a realtime twin (same route+start)
        _pred("B", "S1", 1, 2, 1200, ORIGIN_SCHEDULE, route="R2",
              start_time=9 * 3600),
        _pred("B_rt", "S1", 1, 2, 1230, ORIGIN_REALTIME, route="R2",
              start_time=9 * 3600),
        _pred("B_rt", "S9", 2, 2, 1800, ORIGIN_REALTIME, route="R2",
              start_time=9 * 3600),
        # trip C: schedule-origin, no twin → stays
        _pred("C", "S1", 1, 2, 2400, ORIGIN_SCHEDULE, route="R3",
              start_time=10 * 3600),
        _pred("C", "S9", 2, 2, 3000, ORIGIN_SCHEDULE, route="R3",
              start_time=10 * 3600),
        # trip D: far outside window (dropped by F8)
        _pred("D", "S1", 1, 2, 30000, ORIGIN_REALTIME),
        _pred("D", "S9", 2, 2, 32000, ORIGIN_REALTIME),
    ]
    return spark.createDataFrame(rows, PREDICTIONS).cache()


class TestDepartureBoard:
    def test_filters_compose(self, spark, predictions):
        from dystonse_gtfs_importer_spark.plans.monitor import (
            departure_board, predictions_for_stop,
        )

        window = (BASE, BASE + dt.timedelta(hours=1))
        at_stop = predictions_for_stop(
            predictions, ["S1", "S2", "S3"], *window)
        board = departure_board(at_stop, *window,
                                all_predictions=predictions)
        trips = [r.trip_id for r in board]
        assert "D" not in trips            # F8 outside window
        assert "B" not in trips            # F9 schedule with rt twin
        assert "C" in trips                # schedule without twin stays
        # F10: trip A's final stop S3 dropped, S1/S2 stay
        a_stops = [r.stop_id for r in board if r.trip_id == "A"]
        assert a_stops == ["S1", "S2"]
        # W3: sorted by median time
        t50s = [r.t50 for r in board]
        assert t50s == sorted(t50s)

    def test_heat_strip_column(self, spark, predictions):
        """S19/C22 on the board: with_heat_strip adds a decodable
        PNG data URL whose strip spans the board window."""
        import base64

        from dystonse_gtfs_importer_spark.operators.media_codecs import (
            decode_png,
        )
        from dystonse_gtfs_importer_spark.plans.monitor import (
            departure_board, predictions_for_stop,
        )

        window = (BASE, BASE + dt.timedelta(hours=1))
        at_stop = predictions_for_stop(
            predictions, ["S1", "S2", "S3"], *window)
        board = departure_board(at_stop, *window,
                                all_predictions=predictions,
                                with_heat_strip=True)
        urls = [r.strip_data_url for r in board]
        assert urls and all(u and u.startswith("data:image/png;base64,")
                            for u in urls)
        img = decode_png(base64.b64decode(urls[0].split(",", 1)[1]))
        assert img.shape == (4, 120, 3)

    def test_predictions_for_trip(self, predictions):
        from dystonse_gtfs_importer_spark.plans.monitor import (
            predictions_for_trip,
        )

        got = predictions_for_trip(
            predictions, "A", dt.date(2024, 1, 1), 8 * 3600, 2).collect()
        assert sorted(r.stop_sequence for r in got) == [2, 3]


# uniform over ±50 s: t05 = scheduled - 45 s and t95 = scheduled + 45 s,
# exact in binary floating point
_UNIFORM = [{"x": -50.0, "y": 0.0}, {"x": 50.0, "y": 1.0}]


def _board(spark, rows, window, full_rows=None):
    """departure_board over ``rows`` as given (no S8 read), with
    ``full_rows`` (default: rows) as all_predictions."""
    from dystonse_gtfs_importer_spark.plans.monitor import departure_board

    df = spark.createDataFrame(rows, PREDICTIONS)
    full = spark.createDataFrame(full_rows or rows, PREDICTIONS)
    return departure_board(df, *window, all_predictions=full)


class TestDriverBoardSemantics:
    """The driver-side F8-F10/W3 keep the SQL semantics of the Spark
    plan they replace."""

    WINDOW = (BASE, BASE + dt.timedelta(hours=1))

    def _dep(self, trip, offset_s, origin=ORIGIN_REALTIME, seq=1, **kw):
        return _pred(trip, "S1", seq, 2, offset_s, origin, spread=50.0,
                     curve=_UNIFORM, **kw)

    def _with_next(self, rows):
        # every trip gets a later stop, so F10 keeps its S1 departure
        return rows + [_pred(r["trip_id"], "S9", 2, 1, 9000,
                             ORIGIN_REALTIME, route=r["route_id"],
                             start_time=r["trip_start_time"])
                       for r in rows]

    def test_times_match_the_jvm_curve_expression(self, spark,
                                                  predictions):
        """The driver's t05/t50/t95 equal the C7 JVM expression over
        the same rows (the twin of curves.x_at_y)."""
        from dystonse_gtfs_importer_spark.functions.curve_udfs import (
            curve_x_at_y_expr,
        )
        from dystonse_gtfs_importer_spark.plans.monitor import (
            departure_board,
        )

        board = departure_board(predictions, *self.WINDOW)
        curve = F.col("prediction_curve")
        ref = (F.unix_timestamp("prediction_min")
               - curve_x_at_y_expr(curve, 0.0))
        jvm = {(r.trip_id, r.stop_id): r for r in predictions.select(
            "trip_id", "stop_id",
            *[(ref + curve_x_at_y_expr(curve, y)).alias(name)
              for name, y in (("t05", 0.05), ("t50", 0.5), ("t95", 0.95))]
        ).collect()}
        assert board
        for r in board:
            want = jvm[(r.trip_id, r.stop_id)]
            for name in ("t05", "t50", "t95"):
                assert r[name] == pytest.approx(want[name], abs=1e-6)

    def test_f8_bounds_are_strict(self, spark):
        hi_s = 3600
        rows = [self._dep("AT_HI", hi_s + 45),        # t05 == hi
                self._dep("BELOW_HI", hi_s + 44),
                self._dep("AT_LO", -45),              # t95 == lo
                self._dep("ABOVE_LO", -44)]
        got = {r.trip_id for r in
               _board(spark, rows, self.WINDOW, self._with_next(rows))}
        assert got == {"BELOW_HI", "ABOVE_LO"}

    def test_null_origin_type_dropped(self, spark):
        rows = [self._dep("NULL_ORIGIN", 600), self._dep("RT", 900)]
        rows[0]["origin_type"] = None
        got = [r.trip_id for r in
               _board(spark, rows, self.WINDOW, self._with_next(rows))]
        assert got == ["RT"]

    def test_f9_null_key_never_matches(self, spark):
        # schedule and realtime rows share a NULL route_id: SQL equality
        # on NULL is unknown, so the schedule row has no realtime twin
        rows = [self._dep("SCHED", 600, ORIGIN_SCHEDULE, route=None),
                self._dep("RT", 900, route=None),
                # a twin on a real route: the schedule row goes
                self._dep("TWIN_SCHED", 1200, ORIGIN_SCHEDULE, route="R7"),
                self._dep("TWIN_RT", 1300, route="R7")]
        got = [r.trip_id for r in
               _board(spark, rows, self.WINDOW, self._with_next(rows))]
        assert got == ["SCHED", "RT", "TWIN_RT"]

    def test_f10_with_and_without_all_predictions(self, spark, predictions):
        from dystonse_gtfs_importer_spark.plans.monitor import (
            departure_board, predictions_for_stop,
        )

        at_stop = predictions_for_stop(predictions, ["S1", "S2"],
                                       *self.WINDOW)
        full = departure_board(at_stop, *self.WINDOW,
                               all_predictions=predictions)
        assert [(r.trip_id, r.stop_id) for r in full] == [
            ("A", "S1"), ("A", "S2"), ("B_rt", "S1"), ("C", "S1")]
        # without all_predictions the last stop is the last one in the
        # window rows: A's S2, B_rt's and C's S1
        local = departure_board(at_stop, *self.WINDOW)
        assert [(r.trip_id, r.stop_id) for r in local] == [("A", "S1")]

    def test_tie_order_is_deterministic(self, spark):
        # equal t50: ordered by the predictions key, whatever the input
        # order (stop_sequence comes before route_id and trip_id)
        rows = [self._dep("T2", 600), self._dep("T1", 600),
                self._dep("T0", 600, route="R0"),
                self._dep("T9", 600, seq=0)]
        want = ["T9", "T0", "T1", "T2"]
        for order in (rows, rows[::-1]):
            got = [r.trip_id for r in _board(spark, order, self.WINDOW,
                                             self._with_next(rows))]
            assert got == want

    def test_empty_window_runs_only_the_s8_job(self, spark, predictions,
                                               jobs):
        from dystonse_gtfs_importer_spark.plans.monitor import (
            departure_board, predictions_for_stop,
        )

        at_stop = predictions_for_stop(predictions, ["NO_SUCH_STOP"],
                                       *self.WINDOW)
        with jobs() as n:
            board = departure_board(at_stop, *self.WINDOW,
                                    all_predictions=predictions,
                                    with_heat_strip=True)
        assert board == []
        assert n == [1]


class TestExtendedStops:
    def test_radius_join(self, spark):
        from dystonse_gtfs_importer_spark.plans.monitor import extended_stops

        stops = spark.createDataFrame([
            ("S1", "Hauptbahnhof", 53.0830, 8.8130),
            ("S2", "Hauptbahnhof", 53.0832, 8.8135),   # same name
            ("S3", "Nearby", 53.0835, 8.8140),          # ~80 m away
            ("S4", "Far", 53.2000, 9.0000),             # km away
        ], "stop_id string, stop_name string, stop_lat double, stop_lon double")
        ext = extended_stops(stops, "Hauptbahnhof")
        ids = {r.stop_id for r in ext.collect()}
        assert ids == {"S1", "S2", "S3"}


class TestTransferChain:
    def test_probability_orders_with_slack(self, spark, predictions):
        from dystonse_gtfs_importer_spark.plans.monitor import transfer_chances

        stops = spark.createDataFrame([
            ("S1", "Main", 53.0830, 8.8130),
            ("S9", "Main2", 53.0833, 8.8134),  # ~45 m from S1
        ], "stop_id string, stop_name string, stop_lat double, stop_lon double")

        arrivals = spark.createDataFrame(
            [_pred("ARR", "S1", 5, 1, 1100, ORIGIN_REALTIME)], PREDICTIONS)
        # two departures from S9: tight (60s after arrival) vs
        # comfortable (10 min after)
        deps = spark.createDataFrame([
            _pred("B_rt", "S9", 2, 2, 1160, ORIGIN_REALTIME),
            _pred("C", "S9", 2, 2, 1700, ORIGIN_SCHEDULE),
        ], PREDICTIONS)

        out = transfer_chances(arrivals, deps, stops,
                               min_probability=0.0).collect()
        p = {r.departure_trip: r.p_transfer for r in out}
        assert set(p) == {"B_rt", "C"}
        assert 0.0 <= p["B_rt"] <= 1.0 and 0.0 <= p["C"] <= 1.0
        # more slack → strictly better chance
        assert p["C"] > p["B_rt"]
        # 45 m walk is nearly instant relative to 10 min slack
        assert p["C"] > 0.9

    def test_min_probability_filter(self, spark, predictions):
        from dystonse_gtfs_importer_spark.plans.monitor import transfer_chances

        stops = spark.createDataFrame([
            ("S1", "Main", 53.0830, 8.8130),
            ("S9", "Main2", 53.0833, 8.8134),
        ], "stop_id string, stop_name string, stop_lat double, stop_lon double")
        arrivals = spark.createDataFrame(
            [_pred("ARR", "S1", 5, 1, 1700, ORIGIN_REALTIME)], PREDICTIONS)
        # departure 9 min BEFORE the arrival → chance ~0 → filtered (F11)
        deps = spark.createDataFrame(
            [_pred("GONE", "S9", 2, 2, 1160, ORIGIN_REALTIME)], PREDICTIONS)
        out = transfer_chances(arrivals, deps, stops).collect()
        assert out == []


class TestAutocomplete:
    def test_terms_all_match(self, spark):
        from dystonse_gtfs_importer_spark.plans.monitor import autocomplete_stops

        stops = spark.createDataFrame(
            [(f"S{i}", n) for i, n in enumerate(
                ["Bremen Hauptbahnhof", "Bremen Hemelingen",
                 "Hamburg Hauptbahnhof", "Bremen Neustadt"])],
            "stop_id string, stop_name string")
        got = [r.stop_name for r in
               autocomplete_stops(stops, "bremen haupt").collect()]
        assert got == ["Bremen Hauptbahnhof"]
