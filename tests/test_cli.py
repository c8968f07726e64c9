"""End-to-end drive of the CLI facade (cli.py) — the reference's
four-mode command tree (main.rs:231-251) over a real lake directory:
import batch → analyse compute-curves/count → predict start/single →
monitor autocomplete/board."""

from __future__ import annotations

import pandas as pd
import pytest

from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir

from dystonse_gtfs_importer_spark.cli import main


def _write_rt_files(rows: pd.DataFrame, rt_dir) -> None:
    from dystonse_gtfs_importer_spark.sources.gtfs_rt import (
        encode_feed_message,
    )

    for feed_file, grp in rows.groupby("feed_file"):
        trips = []
        keys = ["trip_id", "route_id", "start_date", "start_time"]
        for (trip_id, route_id, sd, st), g in grp.groupby(keys):
            stus = [
                (int(r.stop_sequence), r.stop_id,
                 None if pd.isna(r.arrival_delay) else int(r.arrival_delay),
                 None if pd.isna(r.departure_delay) else int(r.departure_delay))
                for r in g.itertuples()
            ]
            trips.append({"trip_id": trip_id, "route_id": route_id,
                          "start_date": sd, "start_time": st,
                          "stop_time_updates": stus})
        ts = int(grp.header_timestamp.iloc[0])
        (rt_dir / feed_file).write_bytes(encode_feed_message(ts, trips))


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli_lake")
    sched_dir = base / "schedules" / "gtfs-2024-01-01"
    sched_dir.mkdir(parents=True)
    write_gtfs_dir(build_schedule(), sched_dir)
    rt_dir = base / "rt"
    rt_dir.mkdir()
    _write_rt_files(build_rt_events(build_schedule()), rt_dir)
    return base


def _run(spark, lake, *argv) -> int:
    return main(["-s", "vbn", "--dir", str(lake), *argv], spark=spark)


class TestCli:
    def test_01_import_batch_record(self, spark, lake):
        assert _run(spark, lake, "import", "-r", "batch") == 0
        records = spark.read.parquet(str(lake / "records"))
        assert records.count() > 0
        assert records.select("source").distinct().first().source == "vbn"

    def test_02_analyse_compute_curves(self, spark, lake, capsys):
        assert _run(spark, lake, "analyse", "compute-curves", "--all") == 0
        out = capsys.readouterr().out
        assert "specific:" in out and "default:" in out
        assert (lake / "stats").exists()

    def test_03_analyse_count(self, spark, lake, capsys):
        assert _run(spark, lake, "analyse", "count", "-i", "1h") == 0
        lines = capsys.readouterr().out.strip().splitlines()
        assert lines and all(len(ln.split("\t")) == 3 for ln in lines)

    def test_04_predict_start_scheduled(self, spark, lake, capsys):
        assert _run(spark, lake, "predict", "start",
                    "--now", "2024-01-01T08:30:00") == 0
        assert "scheduled prediction rows" in capsys.readouterr().out
        preds = spark.read.parquet(str(lake / "predictions"))
        assert preds.count() > 0

    def test_04b_predict_start_counts_on_the_write(
            self, spark, lake, capsys, jobs, monkeypatch, tmp_path):
        """The printed row count rides on the write's own job: no
        Spark job runs after the predictions are written (a count()
        would re-run the whole prediction plan), and the count equals
        the rows in the fresh predictions table."""
        import re
        import shutil

        from dystonse_gtfs_importer_spark.sources import store

        fresh = tmp_path / "lake"
        for d in ("schedules", "stats"):
            shutil.copytree(lake / d, fresh / d)
        sc, real, seen = spark.sparkContext, store.write_predictions, []

        def write(preds, path, mode="overwrite"):
            real(preds, path, mode=mode)
            group = sc.getLocalProperty("spark.jobGroup.id")
            seen.append(len(sc.statusTracker().getJobIdsForGroup(group)))

        monkeypatch.setattr(store, "write_predictions", write)
        capsys.readouterr()
        with jobs() as n:
            assert _run(spark, fresh, "predict", "start",
                        "--now", "2024-01-01T08:30:00") == 0
        assert seen == n, (seen, n)
        printed = int(re.search(r"wrote (\d+) scheduled prediction rows",
                                capsys.readouterr().out).group(1))
        written = spark.read.parquet(str(fresh / "predictions")).count()
        assert printed == written > 0

    def test_05_predict_single(self, spark, lake, capsys):
        assert _run(spark, lake, "predict", "single",
                    "--route-id", "R1", "--trip-id", "TR1v1n0",
                    "--date-time", "2024-01-01T08:30:00",
                    "--end-stop-sequence", "7") == 0
        out = capsys.readouterr().out
        assert "precision_type=" in out and "percentiles=" in out

    def test_06_monitor_autocomplete(self, spark, lake, capsys):
        assert _run(spark, lake, "monitor", "autocomplete", "stop 1") == 0
        names = capsys.readouterr().out.strip().splitlines()
        assert names and all("Stop 1" in n for n in names)

    def test_07_monitor_board(self, spark, lake, capsys):
        assert _run(spark, lake, "monitor", "board",
                    "--stop-name", "Stop 3",
                    "--when", "2024-01-01T08:00:00",
                    "--window-hours", "6") == 0
        # board may be empty for a sparse stop, but the command runs;
        # pick the busiest outcome: any printed line is trip\tstop\tt50
        for ln in capsys.readouterr().out.strip().splitlines():
            assert len(ln.split("\t")) == 3

    def test_07b_monitor_board_strips(self, spark, lake, capsys):
        assert _run(spark, lake, "monitor", "board",
                    "--stop-name", "Stop 3",
                    "--when", "2024-01-01T08:00:00",
                    "--window-hours", "6", "--strips") == 0
        for ln in capsys.readouterr().out.strip().splitlines():
            cols = ln.split("\t")
            assert len(cols) == 4
            assert cols[3].startswith("data:image/png;base64,")

    def test_08_import_cleanup(self, spark, lake):
        """Every prediction in the lake is for a 2024-01-01 trip, more
        than 12 h before now, so cleanup keeps no row and the table
        goes, as before the first predict."""
        assert spark.read.parquet(str(lake / "predictions")).count() > 0
        assert _run(spark, lake, "import", "-c", "batch") == 0
        assert not (lake / "predictions").exists()

    def test_08b_zero_row_writes_leave_a_readable_lake(
            self, spark, lake, capsys, monkeypatch):
        """After a cleanup that kept nothing, an `import -p` and a
        `predict start` that write no row leave no table behind, and
        `monitor` shows an empty board instead of failing."""
        import datetime as dt
        import types

        from dystonse_gtfs_importer_spark import cli

        class Clock(dt.datetime):
            @classmethod
            def now(cls, tz=None):  # before every departure: no basis
                return cls(2023, 12, 31, 8, 0)

        capsys.readouterr()
        with monkeypatch.context() as m:
            m.setattr(cli, "dt", types.SimpleNamespace(
                datetime=Clock, timedelta=dt.timedelta))
            assert _run(spark, lake, "-v", "import", "-p", "batch") == 0
        assert _wrote(capsys, "prediction rows") == 0
        assert not (lake / "predictions").exists()

        assert _run(spark, lake, "predict", "start",
                    "--now", "2023-06-01T08:00:00") == 0
        assert "wrote 0 scheduled" in capsys.readouterr().out
        assert not (lake / "predictions").exists()

        assert _run(spark, lake, "monitor", "board",
                    "--stop-name", "Stop 3",
                    "--when", "2024-01-01T08:00:00",
                    "--window-hours", "6") == 0
        assert capsys.readouterr().out.strip() == ""

    def test_09_analyse_incremental_day(self, spark, lake, capsys):
        assert _run(spark, lake, "analyse", "compute-curves",
                    "--incremental-day", "2024-01-01") == 0
        out = capsys.readouterr().out
        assert "(incremental)" in out
        assert (lake / "stats" / "basis" / "general").exists()

    def test_10_import_predict(self, spark, lake, capsys):
        from dystonse_gtfs_importer_spark.schemas import ORIGIN_REALTIME

        assert _run(spark, lake, "-v", "import", "-p", "batch") == 0
        n = _wrote(capsys, "prediction rows")
        preds = spark.read.parquet(str(lake / "predictions"))
        # cleanup emptied the table, so it holds only this append
        assert preds.where(
            preds.origin_type == ORIGIN_REALTIME).count() == n > 0
        assert preds.count() == n

    def test_10b_cleanup_then_append_keeps_the_kept_rows(
            self, spark, lake, capsys, monkeypatch, tmp_path):
        """predict start → import -c → import -p: the table reads back
        the rows cleanup kept plus the appended ones, and the
        partitions cleanup emptied are gone, even when the session
        conf makes partition overwrites dynamic."""
        import datetime as dt
        import shutil
        import types

        from dystonse_gtfs_importer_spark import cli
        from dystonse_gtfs_importer_spark.streaming.import_stream import (
            cleanup_predictions,
        )

        class Clock(dt.datetime):
            @classmethod
            def now(cls, tz=None):
                return cls(2024, 1, 3, 8, 30)

        monkeypatch.setattr(cli, "dt", types.SimpleNamespace(
            datetime=Clock, timedelta=dt.timedelta))
        fresh, pdir = tmp_path / "lake", tmp_path / "lake" / "predictions"
        for d in ("schedules", "stats", "records", "rt"):
            shutil.copytree(lake / d, fresh / d)
        assert _run(spark, fresh, "predict", "start",
                    "--now", "2024-01-01T08:30:00") == 0
        before = spark.read.parquet(str(pdir)).localCheckpoint()
        kept = cleanup_predictions(before, Clock.now())
        dates = {r.trip_start_date for r in
                 before.select("trip_start_date").distinct().collect()}
        kept_dates = {r.trip_start_date for r in
                      kept.select("trip_start_date").distinct().collect()}
        n_kept = kept.count()
        assert 0 < n_kept < before.count() and kept_dates < dates

        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "dynamic")
        try:
            assert _run(spark, fresh, "import", "-c", "batch") == 0
        finally:
            spark.conf.set(key, prev)
        assert {p.name for p in (pdir / "source=vbn").iterdir()} == {
            f"trip_start_date={d}" for d in kept_dates}

        capsys.readouterr()
        assert _run(spark, fresh, "-v", "import", "-p", "batch") == 0
        n = _wrote(capsys, "prediction rows")
        assert n > 0
        assert spark.read.parquet(str(pdir)).count() == n_kept + n

    def test_11_analyse_draw_curves(self, spark, lake, capsys):
        assert _run(spark, lake, "analyse", "draw-curves",
                    "-r", "R1") == 0
        assert "curve points" in capsys.readouterr().out
        assert (lake / "curves_csv").exists()

    def test_12_analyse_graph(self, spark, lake, capsys):
        assert _run(spark, lake, "analyse", "graph", "-r", "R1") == 0
        assert "graph points" in capsys.readouterr().out

    def test_12b_analyse_render_sinks(self, spark, lake, capsys):
        """S19 end-to-end: --render writes real SVG curve pages and
        PNG schedule pages next to the CSV series."""
        import xml.etree.ElementTree as ET

        from dystonse_gtfs_importer_spark.operators.media_codecs import (
            decode_png,
        )

        assert _run(spark, lake, "analyse", "draw-curves", "-r", "R1",
                    "--render") == 0
        assert "SVG pages" in capsys.readouterr().out
        svgs = list((lake / "curves_svg").glob("*.svg"))
        assert svgs
        root = ET.fromstring(svgs[0].read_text())
        assert root.tag.endswith("svg")

        assert _run(spark, lake, "analyse", "graph", "-r", "R1",
                    "--render") == 0
        assert "PNG pages" in capsys.readouterr().out
        pngs = list((lake / "graph_png").glob("*.png"))
        assert pngs
        img = decode_png(pngs[0].read_bytes())
        assert img.shape[2] == 3

    def test_13_import_manual(self, spark, lake, tmp_path):
        rt_file = sorted((lake / "rt").glob("*.pb"))[0]
        sched = sorted((lake / "schedules").iterdir())[0]
        assert _run(spark, lake, "import", "-r", "manual",
                    str(sched), str(rt_file)) == 0


    def test_13b_import_batch_twice_is_latest_wins_over_both(
            self, spark, lake, tmp_path):
        """Two `import -r batch` runs equal one latest-wins merge over
        both batches, and the second run leaves the files of the
        partition it does not touch alone."""
        import shutil

        from dystonse_gtfs_importer_spark.plans.import_etl import (
            build_records, latest_wins_merge,
        )
        from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs
        from dystonse_gtfs_importer_spark.sources.gtfs_rt import (
            read_gtfs_rt,
        )

        day1 = build_rt_events(build_schedule())
        day2 = day1.assign(
            start_date="20240102", header_timestamp=day1.header_timestamp
            + 86400, feed_file="d2-" + day1.feed_file)
        # later reports of day 2 with other delays supersede batch A's
        day2b = day2.assign(
            header_timestamp=day2.header_timestamp + 600,
            arrival_delay=day2.arrival_delay + 30,
            feed_file="d2b-" + day1.feed_file)
        a, b, fresh = tmp_path / "a", tmp_path / "b", tmp_path / "lake"
        for d, rows in ((a, pd.concat([day1, day2])), (b, day2b)):
            (d / "rt").mkdir(parents=True)
            _write_rt_files(rows, d / "rt")
        shutil.copytree(lake / "schedules", fresh / "schedules")

        def files(day):
            part = (fresh / "records" / "source=vbn"
                    / f"trip_start_date={day}")
            return {(p.name, p.stat().st_mtime_ns)
                    for p in part.glob("*.parquet")}

        assert _run(spark, fresh, "import", "-r", "batch", str(a)) == 0
        day1_files, day2_files = files("2024-01-01"), files("2024-01-02")
        assert day1_files and day2_files
        assert _run(spark, fresh, "import", "-r", "batch", str(b)) == 0
        assert files("2024-01-01") == day1_files
        assert files("2024-01-02") != day2_files

        sched_dir = next((fresh / "schedules").iterdir())
        sched = read_gtfs(spark, str(sched_dir))
        rt = read_gtfs_rt(spark, str(a / "rt")).unionByName(
            read_gtfs_rt(spark, str(b / "rt")))
        want = latest_wins_merge(build_records(
            rt, sched["trips"], sched["stop_times"], "vbn", sched_dir.name))
        got = spark.read.parquet(str(fresh / "records"))
        assert sorted(map(tuple, got.select(*want.columns).collect())) \
            == sorted(map(tuple, want.collect()))


def _wrote(capsys, what: str) -> int:
    """The row count a verbose run printed as ``wrote <n> <what>``."""
    import re

    err = capsys.readouterr().err
    return int(re.search(rf"wrote (\d+) {what}", err).group(1))


class TestAppendPredictions:
    def test_counts_rows_written_including_none(self, spark, tmp_path):
        from dystonse_gtfs_importer_spark.cli import _append_predictions

        schema = "source string, trip_start_date string, v int"
        path = str(tmp_path / "predictions")
        empty = spark.createDataFrame([], schema)
        assert _append_predictions(empty, path) == 0
        assert not (tmp_path / "predictions").exists()  # no table, no dir
        rows = spark.createDataFrame(
            [("s", "2024-01-01", i) for i in range(3)], schema)
        assert _append_predictions(rows, path) == 3
        assert spark.read.parquet(path).count() == 3


class TestCorpusIngestCli:
    def test_ingest_dedup_and_blocklist_on_arrival(
            self, spark, tmp_path, capsys):
        """`corpus ingest` end to end: exact dup dropped, blocklisted
        doc never published, near-dup screening columns present, and
        the accounting line reports the published count."""
        import json as _json

        src = tmp_path / "in"
        src.mkdir()
        rows = [
            {"doc_id": 1, "text": "alpha beta gamma delta",
             "lang": "en", "source": "s"},
            {"doc_id": 2, "text": "alpha  BETA gamma delta ",
             "lang": "en", "source": "s"},          # exact dup of 1
            {"doc_id": 3, "text": "totally different text with bad "
             "phrase inside", "lang": "en", "source": "s"},
            {"doc_id": 4, "text": "quarterly revenue spanning "
             "seventeen regional markets", "lang": "en", "source": "s"},
        ]
        (src / "b0.json").write_text(
            "\n".join(_json.dumps(r) for r in rows))
        key = "spark.sql.sources.partitionOverwriteMode"
        spark.conf.set(key, "static")
        rc = main(["-s", "x", "--dir", str(tmp_path), "corpus",
                   "ingest", "--in", str(src),
                   "--blocklist", "bad phrase"], spark=spark)
        assert rc == 0
        assert spark.conf.get(key) == "static"  # the sink leaks no conf
        acct = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert acct["corpus_docs"] == 2
        docs = spark.read.parquet(
            str(tmp_path / "corpus" / "documents"))
        ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
        assert ids == [1, 4]
        assert "fingerprint" in docs.columns and "mhb_0" in docs.columns

    def test_ingest_no_near_dup_and_backfill_cli(
            self, spark, tmp_path, capsys):
        """--no-near-dup publishes NULL-band rows (exact screening
        only), and `corpus backfill-bands` then fills the bands in
        place through the CLI dispatch."""
        import json as _json

        src = tmp_path / "in"
        src.mkdir()
        rows = [
            {"doc_id": 1, "text": "alpha beta gamma delta",
             "lang": "en", "source": "s"},
            {"doc_id": 2, "text": "alpha beta gamma delta ",
             "lang": "en", "source": "s"},          # exact dup
        ]
        (src / "b0.json").write_text(
            "\n".join(_json.dumps(r) for r in rows))
        out = tmp_path / "corpus2"
        rc = main(["-s", "x", "--dir", str(tmp_path), "corpus",
                   "ingest", "--in", str(src), "--out", str(out),
                   "--no-near-dup"], spark=spark)
        assert rc == 0
        docs = spark.read.parquet(str(out / "documents"))
        assert [r.doc_id for r in docs.collect()] == [1]
        assert docs.where("mhb_0 IS NOT NULL").count() == 0
        capsys.readouterr()
        rc = main(["-s", "x", "--dir", str(tmp_path), "corpus",
                   "backfill-bands", "--corpus", str(out)],
                  spark=spark)
        assert rc == 0
        acct = _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1])
        assert acct["docs"] == 1
        docs = spark.read.parquet(str(out / "documents"))
        assert docs.where("mhb_0 IS NOT NULL").count() == 1
