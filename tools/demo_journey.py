#!/usr/bin/env python3
"""Demo: the complete reference user journey on this engine.

Writes a synthetic GTFS schedule + GTFS-RT protobuf feed files to a
temp dir, then drives the public API end-to-end: Structured-Streaming
import (corrupt file dropped on purpose) -> records table -> analyse
(general/specific/default curve tables) -> realtime-basis live
predictions -> scheduled predictions -> departure board + transfer
chances. Prints one numbered line per stage.

Usage: python3 tools/demo_journey.py
"""
import datetime as dt, sys, tempfile, pathlib
REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tests")); sys.path.insert(0, str(REPO))
from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir
import pyspark.sql.functions as F
from dystonse_gtfs_importer_spark.session import get_spark
from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs, variant_stops
from dystonse_gtfs_importer_spark.sources.gtfs_rt import encode_feed_message
from dystonse_gtfs_importer_spark.streaming.import_stream import run_import_stream
from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
    prepare_dbitems, general_delay_curves, stop_pair_curve_sets, default_curves)
from dystonse_gtfs_importer_spark.plans.predict import predict, prediction_rows, realtime_basis
from dystonse_gtfs_importer_spark.plans.scheduled import scheduled_predictions
from dystonse_gtfs_importer_spark.plans.monitor import (
    departure_board, predictions_for_stop, transfer_chances, autocomplete_stops)
from dystonse_gtfs_importer_spark.sources.store import write_curve_tables, read_curve_tables, read_records
from dystonse_gtfs_importer_spark.schemas import ORIGIN_REALTIME

spark = get_spark(app_name="journey")
base = pathlib.Path(tempfile.mkdtemp())
g = base/"gtfs"; g.mkdir(); write_gtfs_dir(build_schedule(), g)
sched = read_gtfs(spark, str(g))
vstops = variant_stops(sched["trips"], sched["stop_times"])

rt_dir = base/"rt"; rt_dir.mkdir()
pdfres = build_rt_events(build_schedule())
import pandas as pd
for feed, grp in pdfres.groupby("feed_file"):
    tus = {}
    for r in grp.itertuples(index=False):
        key = (r.trip_id, r.start_date, r.start_time)
        arr = None if pd.isna(r.arrival_delay) else int(r.arrival_delay)
        dep = None if pd.isna(r.departure_delay) else int(r.departure_delay)
        tus.setdefault(key, []).append((int(r.stop_sequence), r.stop_id, arr, dep))
    msg = encode_feed_message(int(grp["header_timestamp"].iloc[0]),
        [{"trip_id": k[0], "route_id": "R", "start_date": k[1], "start_time": k[2],
          "stop_time_updates": v} for k, v in tus.items()])
    (rt_dir/feed).write_bytes(msg)
(rt_dir/"corrupt-2024-01-01T08-99.pb").write_bytes(b"\x9c\x01garbage\xff")
rec_dir, ck = str(base/"records"), str(base/"ck")
q = run_import_stream(spark, str(rt_dir), sched["trips"], sched["stop_times"],
                      "vbn", "sched-1", rec_dir, ck)
q.awaitTermination(180)
records = read_records(spark, rec_dir)
print("1) streamed records:", records.count(), "(corrupt file skipped)")

items = prepare_dbitems(records, vstops).cache()
tables = {"general": general_delay_curves(items), "specific": stop_pair_curve_sets(items),
          "default": default_curves(items, sched["routes"])}
write_curve_tables(tables, str(base/"stats"))
tables = read_curve_tables(spark, str(base/"stats"))
print("2) curves:", {k: v.count() for k, v in tables.items()})

now = dt.datetime(2024, 1, 1, 9, 0)
basis = realtime_basis(records, vstops, now)
from dystonse_gtfs_importer_spark.plans.predict import prediction_lookups
lookups = prediction_lookups(basis, vstops, sched["stop_times"], sched["routes"])
live = prediction_rows(
    predict(lookups, tables["specific"], tables["general"], tables["default"])
    .where(F.col("prediction_curve").isNotNull()), "vbn", "sched-1", ORIGIN_REALTIME).cache()
print("3) live predictions:", live.count(),
      "precisions:", sorted(r.precision_type for r in live.select("precision_type").distinct().collect()))

schedp = scheduled_predictions(spark, sched, vstops, tables, now).cache()
allpreds = live.unionByName(schedp).cache()
print("4) scheduled predictions:", schedp.count(), "total:", allpreds.count())

w = (dt.datetime(2024,1,1,8,0), dt.datetime(2024,1,1,12,0))
stops_here = [r.stop_id for r in live.select("stop_id").distinct().limit(4).collect()]
board = departure_board(predictions_for_stop(allpreds, stops_here, *w), *w,
                        all_predictions=allpreds)
print("5) board rows:", len(board), "sorted:", [r.t50 for r in board] == sorted(r.t50 for r in board))
tc = transfer_chances(allpreds.where(F.col("event_type")==1).limit(20),
                      allpreds.where(F.col("event_type")==2).limit(50), sched["stops"],
                      min_probability=0.0)
print("6) transfer chances:", tc.count())
empty = len(departure_board(predictions_for_stop(allpreds, ["NO_SUCH_STOP"], *w), *w,
                            all_predictions=allpreds))
print("7) probe unknown stop -> board rows:", empty)
print("8) autocomplete:", [r.stop_name for r in autocomplete_stops(sched["stops"], "stop 1").limit(3).collect()])

# 9) multi-leg journey: stop -> trip -> stop with per-leg probabilities
from dystonse_gtfs_importer_spark.plans.journey import journey_probabilities
start_stop = sched["stops"].where(F.col("stop_id") == "S1").first().stop_name
alight_name = sched["stops"].where(F.col("stop_id") == "S3").first().stop_name
try:
    # trip TR1v1n10 departs S1 at 09:10:30 — inside the scheduled-
    # predictions window (which starts at `now` = 09:00)
    legs = journey_probabilities(
        sched, allpreds,
        [start_stop,
         {"route_type": 3, "route_short_name": "1",
          "headsign": "Head R1", "departure_hhmm": "09:00"},
         alight_name],
        dt.datetime(2024, 1, 1, 8, 55))
    print("9) journey legs:", [(l["component"], l["prob"]) for l in legs])
except LookupError as e:
    print("9) journey: no prediction coverage on fixture —", e)
spark.stop()
