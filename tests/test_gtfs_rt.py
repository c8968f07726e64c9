"""GTFS-RT wire-format decoder tests: encode → write .pb/.zip files →
read through the binaryFile + mapInPandas source → flat rows."""

from __future__ import annotations

import zipfile

import pyspark.sql.functions as F

from dystonse_gtfs_importer_spark.sources.gtfs_rt import (
    decode_feed_message, encode_feed_message,
)


def sample_feed(ts=1704096000):
    return encode_feed_message(ts, [
        {"trip_id": "T1", "route_id": "R1", "start_date": "20240101",
         "start_time": "08:00:00",
         "stop_time_updates": [
             (1, "S0", 60, 70),
             (2, "S1", None, -30),     # negative delay (early)
             (4, "S2", None, None),    # no delays at all
         ]},
        {"trip_id": "T2", "route_id": "R1", "start_date": "20240101",
         "start_time": "25:00:00",     # past-midnight start
         "stop_time_updates": [(1, "S0", 12, None)]},
    ])


class TestDecoder:
    def test_roundtrip(self):
        rows = decode_feed_message(sample_feed(), "f.pb")
        assert len(rows) == 4
        by_key = {(r["trip_id"], r["stop_sequence"]): r for r in rows}
        assert by_key[("T1", 1)]["arrival_delay"] == 60
        assert by_key[("T1", 1)]["departure_delay"] == 70
        assert by_key[("T1", 2)]["arrival_delay"] is None
        assert by_key[("T1", 2)]["departure_delay"] == -30  # two's complement
        assert by_key[("T2", 1)]["start_time"] == "25:00:00"
        assert all(r["header_timestamp"] == 1704096000 for r in rows)

    def test_missing_header_timestamp_skips_file(self):
        assert decode_feed_message(encode_feed_message(None, [
            {"trip_id": "T1", "stop_time_updates": [(1, "S0", 5, 5)]}
        ]), "f.pb") == []

    def test_zip_wrapped(self, tmp_path):
        import io

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("feed.pb", sample_feed())
        rows = decode_feed_message(buf.getvalue(), "f.zip")
        assert len(rows) == 4


class TestSparkSource:
    def test_read_directory(self, spark, tmp_path):
        from dystonse_gtfs_importer_spark.sources.gtfs_rt import read_gtfs_rt

        d = tmp_path / "rt"
        d.mkdir()
        (d / "feed-2024-01-01T08-00.pb").write_bytes(sample_feed(1704096000))
        (d / "feed-2024-01-01T08-02.pb").write_bytes(sample_feed(1704096120))
        (d / "garbage.pb").write_bytes(b"\xff\xff\xff\x01not a protobuf")

        df = read_gtfs_rt(spark, str(d)).cache()
        assert df.count() == 8  # corrupt file skipped, 4 rows x 2 feeds
        assert df.schema.simpleString().startswith("struct<feed_file:string")
        files = {r.feed_file for r in df.select("feed_file").distinct().collect()}
        assert files == {"feed-2024-01-01T08-00.pb", "feed-2024-01-01T08-02.pb"}
        assert df.where(F.col("departure_delay") == -30).count() == 2

    def test_feeds_into_import_etl(self, spark, tmp_path):
        """RT protobuf source → build_records end-to-end."""
        from gtfs_fixtures import build_schedule, write_gtfs_dir

        from dystonse_gtfs_importer_spark.plans.import_etl import build_records
        from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs
        from dystonse_gtfs_importer_spark.sources.gtfs_rt import read_gtfs_rt

        g = tmp_path / "gtfs"
        g.mkdir()
        write_gtfs_dir(build_schedule(), g)
        sched = read_gtfs(spark, str(g))

        d = tmp_path / "rt"
        d.mkdir()
        feed = encode_feed_message(1704096000, [
            {"trip_id": "TR1v1n0", "route_id": "R1", "start_date": "20240101",
             "start_time": "08:00:00",
             "stop_time_updates": [(1, "S3", 120, 150), (4, "S7", 60, None)]},
            {"trip_id": "NOPE", "route_id": "R1", "start_date": "20240101",
             "start_time": "08:00:00", "stop_time_updates": [(1, "S0", 5, 5)]},
        ])
        (d / "feed.pb").write_bytes(feed)

        rt = read_gtfs_rt(spark, str(d))
        recs = build_records(rt, sched["trips"], sched["stop_times"],
                             "test", "sched").collect()
        assert len(recs) == 2  # unknown trip dropped
        r = {x.stop_sequence: x for x in recs}
        assert r[1].delay_arrival == 120 and r[1].delay_departure == 150
        assert r[4].delay_arrival == 60 and r[4].delay_departure is None
        assert str(r[1].trip_start_date) == "2024-01-01"
        assert r[1].trip_start_time == 8 * 3600
