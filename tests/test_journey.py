"""Multi-leg journey assembly e2e (parse_journey flow): stop → trip →
stop → walk → stop over the GTFS fixtures, with per-leg probabilities
from the C13-C15 curve chain."""

from __future__ import annotations

import datetime as dt

import pytest

from gtfs_fixtures import build_schedule, write_gtfs_dir

from dystonse_gtfs_importer_spark.schemas import ORIGIN_REALTIME, PREDICTIONS

TRIP = "TR1v1n0"
START_SECS = 8 * 3600 + 30          # fixture trip departs 08:00:30
BASE = dt.datetime(2024, 1, 1, 8, 0, 30)


def _curve(spread_s: float = 60.0):
    return [{"x": -spread_s, "y": 0.0}, {"x": 0.0, "y": 0.5},
            {"x": spread_s, "y": 1.0}]


def _pred(stop, seq, event_type, sched_offset_s, spread=60.0):
    t = BASE + dt.timedelta(seconds=sched_offset_s)
    return {
        "source": "test", "event_type": event_type, "stop_id": stop,
        "prediction_min": t - dt.timedelta(seconds=spread),
        "prediction_max": t + dt.timedelta(seconds=spread),
        "route_id": "R1", "trip_id": TRIP,
        "trip_start_date": dt.date(2024, 1, 1),
        "trip_start_time": START_SECS, "stop_sequence": seq,
        "precision_type": 3, "origin_type": ORIGIN_REALTIME,
        "sample_size": 50, "prediction_curve": _curve(spread),
        "schedule_file_name": "sched",
    }


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs

    d = tmp_path_factory.mktemp("gtfs_journey")
    write_gtfs_dir(build_schedule(), d)
    sched = read_gtfs(spark, str(d))
    # fixture variant 1 of R1: stops S1(seq1) S3(seq2) S5(seq4) …;
    # departure at boarding seq 1 (30 s delay), arrival at seq 2
    # (scheduled 2 min later, 90 s delay)
    preds = spark.createDataFrame([
        _pred("S1", 1, 2, 30),
        _pred("S3", 2, 1, 120 + 90),
    ], PREDICTIONS).cache()
    return {"sched": sched, "preds": preds}


JOURNEY = [
    "Stop 0",                                     # S0/S1 (+S2 extended)
    {"route_type": 3, "route_short_name": "1",
     "headsign": "Head R1", "departure_hhmm": "08:00"},
    "Stop 1",                                     # alight S3 (seq 2)
    "walk",
    "Stop 2",                                     # S4/S5, ~330 m on
]


class TestJourney:
    def test_full_chain(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.journey import (
            journey_probabilities,
        )

        legs = journey_probabilities(
            world["sched"], world["preds"], JOURNEY,
            dt.datetime(2024, 1, 1, 8, 0))
        kinds = [l["component"] for l in legs]
        assert kinds == ["stop", "trip", "stop", "walk", "stop"]

        # probabilities: start certain, boarding costs some, the rest
        # carries through unchanged (alighting + walking lose nothing)
        probs = [l["prob"] for l in legs]
        assert probs[0] == 1.0
        assert 0.0 < legs[1]["p_board"] <= 1.0
        assert probs[1] == pytest.approx(legs[1]["p_board"], abs=1e-4)
        assert probs[1] == probs[2] == probs[3] == probs[4]
        assert probs == sorted(probs, reverse=True)

        # the running median time advances monotonically: departure
        # after journey start, arrival after departure, walk adds time
        assert legs[1]["trip_id"] == TRIP
        assert legs[2]["t50_s"] > legs[1]["t50_s"]
        assert legs[4]["t50_s"] > legs[2]["t50_s"]
        # ~330 m walk at fixture geometry: at least a couple of minutes
        assert legs[4]["t50_s"] - legs[2]["t50_s"] >= 120

    def test_generous_slack_boards_with_high_probability(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.journey import (
            journey_probabilities,
        )

        # arriving 10 min before the 08:00 departure → near-certain
        legs = journey_probabilities(
            world["sched"], world["preds"], JOURNEY[:2] + ["Stop 1"],
            dt.datetime(2024, 1, 1, 7, 50))
        assert legs[1]["p_board"] > 0.95

    def test_missing_prediction_bails(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.journey import (
            journey_probabilities,
        )

        empty = world["preds"].limit(0)
        with pytest.raises(LookupError, match="no departure prediction"):
            journey_probabilities(world["sched"], empty, JOURNEY[:3],
                                  dt.datetime(2024, 1, 1, 8, 0))

    def test_unresolvable_trip_bails(self, spark, world):
        from dystonse_gtfs_importer_spark.plans.journey import (
            journey_probabilities,
        )

        bad = dict(JOURNEY[1], departure_hhmm="03:33")
        with pytest.raises(LookupError, match="trip not found"):
            journey_probabilities(world["sched"], world["preds"],
                                  ["Stop 0", bad, "Stop 1"],
                                  dt.datetime(2024, 1, 1, 8, 0))
