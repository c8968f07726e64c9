"""Monitor HTML layer tests: the page renderers of ``monitor_html``
(stop/trip pages, breadcrumbs, timeline, bubbles, URL scheme —
/root/reference/src/monitor/mod.rs:139-1080) and the ``monitor_app``
dispatcher end-to-end over the GTFS fixture world, including one real
HTTP round-trip."""

from __future__ import annotations

import datetime as dt
import html.parser
import json
import re

import pytest
from gtfs_fixtures import build_schedule, write_gtfs_dir

from dystonse_gtfs_importer_spark import monitor_html as H
from dystonse_gtfs_importer_spark.schemas import (
    ORIGIN_REALTIME, ORIGIN_SCHEDULE, PREDICTIONS,
)

TRIP = "TR1v1n0"
START_SECS = 8 * 3600 + 30
BASE = dt.datetime(2024, 1, 1, 8, 0, 30)
START_DT = dt.datetime(2024, 1, 1, 8, 0)


def _curve(spread_s: float = 60.0):
    return [{"x": -spread_s, "y": 0.0}, {"x": 0.0, "y": 0.5},
            {"x": spread_s, "y": 1.0}]


def _pred(stop, seq, event_type, sched_offset_s, spread=60.0,
          origin=ORIGIN_REALTIME, precision=3, trip=TRIP, route="R1",
          start_secs=START_SECS):
    t = BASE + dt.timedelta(seconds=sched_offset_s)
    return {
        "source": "test", "event_type": event_type, "stop_id": stop,
        "prediction_min": t - dt.timedelta(seconds=spread),
        "prediction_max": t + dt.timedelta(seconds=spread),
        "route_id": route, "trip_id": trip,
        "trip_start_date": dt.date(2024, 1, 1),
        "trip_start_time": start_secs, "stop_sequence": seq,
        "precision_type": precision, "origin_type": origin,
        "sample_size": 50, "prediction_curve": _curve(spread),
        "schedule_file_name": "sched",
    }


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs

    d = tmp_path_factory.mktemp("gtfs_html")
    write_gtfs_dir(build_schedule(), d)
    sched = read_gtfs(spark, str(d))
    preds = spark.createDataFrame([
        _pred("S1", 1, 2, 30),           # departure at boarding stop
        _pred("S3", 2, 1, 120 + 90),     # arrival two stops later
        _pred("S3", 2, 2, 150),          # onward departure from S3
        _pred("S5", 4, 1, 400),          # a later arrival (last stop)
    ], PREDICTIONS).cache()
    return {"sched": sched, "preds": preds}


@pytest.fixture(scope="module")
def app(world):
    from dystonse_gtfs_importer_spark.monitor_app import MonitorApp

    return MonitorApp(world["sched"], world["preds"])


@pytest.fixture(scope="module")
def busy_app(spark, world):
    """Five departures from Stop 0 on routes 1 and 2, stored out of
    time order, each with a later stop so none is a final stop."""
    from dystonse_gtfs_importer_spark.monitor_app import MonitorApp

    rows = []
    for n, (route, offset) in enumerate([("R2", 600), ("R1", 60),
                                         ("R2", 420), ("R1", 780),
                                         ("R1", 240)]):
        variant = "v1" if route == "R1" else "v11"
        trip = dict(trip=f"T{route}{variant}n{n}", route=route,
                    start_secs=START_SECS + offset)
        rows += [_pred("S1", 1, 2, offset, **trip),
                 _pred("S9", 2, 1, offset + 600, **trip)]
    return MonitorApp(world["sched"], spark.createDataFrame(
        rows, PREDICTIONS).cache())


TRIP_DESC = {"route_type": 3, "route_short_name": "1",
             "headsign": "Head R1", "departure_hhmm": "08:00"}


class _Auditor(html.parser.HTMLParser):
    """Collects tag balance and .outer row count."""

    def __init__(self):
        super().__init__()
        self.stack, self.outers, self.errors = [], 0, []

    VOID = {"meta", "link", "input", "br", "img"}

    def handle_starttag(self, tag, attrs):
        if tag in self.VOID:
            return
        self.stack.append(tag)
        if any(k == "class" and v and "outer" in v.split()
               for k, v in attrs):
            self.outers += 1

    def handle_endtag(self, tag):
        if tag in self.VOID:
            return
        if not self.stack or self.stack[-1] != tag:
            self.errors.append(f"unbalanced </{tag}> at {self.stack[-3:]}")
        else:
            self.stack.pop()


def _audit(page: str) -> _Auditor:
    a = _Auditor()
    a.feed(page)
    assert not a.errors, a.errors
    assert not a.stack, f"unclosed tags: {a.stack}"
    return a


class TestFragments:
    def test_format_delay(self):
        assert H.format_delay(3) == "+3"
        assert H.format_delay(0) == "0"
        assert H.format_delay(-2) == "-2"

    def test_format_duration(self):
        assert H.format_duration(45) == "45 Sek."
        assert H.format_duration(125) == "2:05 Min."

    def test_type_bubble_rail_prefixes(self):
        assert H.type_bubble(2, "RB31") == ("RB", "r")
        assert H.type_bubble(2, "RE7") == ("RE", "r")
        assert H.type_bubble(2, "S3") == ("S", "s")
        assert H.type_bubble(2, "RS1") == ("RS", "s")
        assert H.type_bubble(2, "ICE 100") == ("IC", "r")
        assert H.type_bubble(2, "ALX") == ("Bahn", "z")

    def test_type_bubble_modes(self):
        assert H.type_bubble(3, "1") == ("Bus", "b")
        assert H.type_bubble(0, "4") == ("Tram", "m")
        assert H.type_bubble(1, "U2") == ("U", "u")
        assert H.type_bubble(4, "F") == ("F", "f")
        assert H.type_bubble(99, "X") == ("?", "d")

    def test_source_area_classes(self):
        a = H.source_area(1, 1, 42)           # realtime + specific
        assert ">E/S+<" in a and 'bubble a' in a and "42" in a
        b = H.source_area(2, 5, 7)            # schedule + general
        assert ">P/G<" in b and 'bubble d' in b
        c = H.source_area(1, 5, 7)            # unused realtime
        assert ">U/G<" in c
        assert ">-<" in H.source_area(None, None, None)

    def test_board_window_rounds_to_nice_marks(self):
        t01 = int(dt.datetime(2024, 1, 1, 8, 3, 40,
                              tzinfo=dt.timezone.utc).timestamp())
        t99 = t01 + 22 * 60
        lo, hi, length = H.board_window(t01, t99)
        assert dt.datetime.fromtimestamp(
            lo, dt.timezone.utc).strftime("%H:%M") == "08:00"
        assert length == 50 and hi == lo + 50 * 60   # 22+30 → 50
        assert length % 5 == 0

    def test_timeline_counts(self):
        lo = 1_700_000_100 - 1_700_000_100 % 300
        tl = H.timeline_html(lo, 30)
        assert tl.count('class="timebar"') == 7      # 0,5,…,30
        assert tl.count('class="timelabel"') == 7
        assert tl.count("small_timebar") == 30 - 6   # minutes less majors

    def test_marker_percentages_bounded(self):
        row = H.departure_row_html({
            "scheduled_s": 1000, "t01_s": 940, "t50_s": 1000,
            "t99_s": 1060, "route_type": 3, "route_name": "1",
            "headsign": "X", "prob": 80.0, "origin_type": 1,
            "precision_type": 1, "sample_size": 5, "strip_url": "",
        }, 900, 1200)
        for m in re.finditer(r'class="marker \w+" style="left:([-\d.]+)%',
                             row):
            assert 0.0 <= float(m.group(1)) <= 100.0

    def test_autocomplete_json_trailing_sentinel(self):
        out = H.autocomplete_json(["Markt", "Mühle"])
        data = json.loads(out)
        assert data == ["Markt", "Mühle", ""]

    def test_german_date(self):
        assert H.german_date(dt.date(2024, 1, 1)) == "Montag, 1. Januar"
        assert H.german_date(dt.date(2026, 3, 8)) == "Sonntag, 8. März"


class TestUrlScheme:
    def test_roundtrip_with_escapes(self):
        comps = ["Bahnhof/Nord ?", TRIP_DESC, "Zoo `Mitte`", "walk",
                 "Endstelle"]
        url = H.journey_url(START_DT, comps)
        start, parsed = H.parse_journey_path(url)
        assert start == START_DT
        assert parsed == comps

    def test_trip_part_display(self):
        url = H.journey_url(START_DT, ["A", TRIP_DESC])
        assert "Bus 1 nach Head R1 um 08:00" in H.path_unquote(url)

    def test_stop_names_that_look_like_trips_stay_stops(self):
        # a stop name matching the trip regex but with an unknown
        # route-type word parses back as a stop
        start, parsed = H.parse_journey_path(
            "/01.01.24 08:00/Gasthof Alt nach Neu um 12:00/")
        assert parsed == ["Gasthof Alt nach Neu um 12:00"]

    def test_breadcrumbs_links_and_span(self):
        bc = H.breadcrumbs_html(START_DT, ["A", TRIP_DESC, "B"])
        assert bc.count("<a ") == 3            # search + A + trip
        assert "<span>B</span>" in bc
        assert ">Bus 1</a>" in bc              # bus gets the type prefix


class TestStopPage:
    def test_single_stop_board(self, app):
        page = app.stop_page(START_DT, ["Stop 0"])
        aud = _audit(page)
        assert "Abfahrten für Stop 0" in page
        assert aud.outers == 1                 # the one departure
        assert "Head R1" in page
        assert "data:image/png;base64," in page     # heat strip
        assert 'class="marker plan"' in page
        # extended platforms S0/S1/S2 carry two distinct names
        assert "extended_stops" in page

    def test_departures_in_median_time_order(self, busy_app):
        """W3: the board lists departures by median time, whatever
        order the predictions table holds them in."""
        page = busy_app.stop_page(START_DT, ["Stop 0"])
        assert _audit(page).outers == 5
        assert "Head R1" in page and "Head R2" in page
        t50s = re.findall(r'title="Vermutlich (\d\d:\d\d:\d\d)"', page)
        assert len(t50s) == 5
        assert t50s == sorted(t50s)

    def test_spark_jobs_per_stop_page(self, busy_app, jobs):
        """The board runs only the S8 read and the last-stop aggregate
        in Spark; the whole page stays within six jobs."""
        with jobs() as n:
            busy_app.stop_page(START_DT, ["Stop 0"])
        assert 0 < n[0] <= 6

    def test_full_journey_walk_first_line(self, app):
        page = app.stop_page(START_DT, [
            "Stop 0", TRIP_DESC, "Stop 1", "walk", "Stop 2"])
        _audit(page)
        assert "m Fußweg" in page
        assert "Ankunft an Stop 2" in page

    def test_arrival_first_line_after_trip(self, app):
        page = app.stop_page(START_DT, ["Stop 0", TRIP_DESC, "Stop 1"])
        aud = _audit(page)
        assert "Ankunft an Stop 1" in page
        # arrival line + onward departure from S3
        assert aud.outers >= 2

    def test_escaping(self):
        row = H.departure_row_html({
            "scheduled_s": 0, "t01_s": 0, "t50_s": 0, "t99_s": 0,
            "route_type": 3, "route_name": "1",
            "headsign": 'Ziel <b>"x"</b>', "prob": 50.0,
            "origin_type": 1, "precision_type": 1, "sample_size": 1,
            "strip_url": "",
        }, 0, 600)
        assert "<b>" not in row and "&lt;b&gt;" in row


class TestTripPage:
    def test_stop_ladder(self, app):
        page = app.trip_page(START_DT, ["Stop 0", TRIP_DESC])
        aud = _audit(page)
        assert "Halte für Bus Linie 1 nach Head R1" in page
        # boarding stop renders as a non-link div; the arrivals link on
        assert aud.outers >= 2
        assert 'class="area stopname">Stop 1</div>' in page
        # boarding row carries the running probability
        assert re.search(r'class="area prob">\d+ %', page)

    def test_spark_jobs_per_trip_page(self, app, jobs):
        """The journey leg resolves the trip and reads its departure
        row; the page adds only the arrivals and the trip's stop rows.
        Pinned at the count before the page shared the journey's
        boarding leg (24-25 jobs here)."""
        with jobs() as n:
            app.trip_page(START_DT, ["Stop 0", TRIP_DESC])
        assert 0 < n[0] <= 25


class TestDispatch:
    def test_routes(self, app):
        status, ctype, body, _ = app.handle("/")
        assert status == 200 and b"Start-Haltestelle" in body
        status, _, body, _ = app.handle("/help/")
        assert status == 200 and "Hilfe".encode() in body
        status, ctype, body, _ = app.handle("/style.css")
        assert status == 200 and ctype.startswith("text/css")
        status, ctype, body, _ = app.handle(
            "/autocomplete", {"term": "stop 0"})
        assert status == 200
        assert "Stop 0" in json.loads(body.decode())
        status, _, _, headers = app.handle(
            "/stop-by-name", {"start": "Stop 0"})
        assert status == 302 and headers["Location"].endswith("/Stop 0/")

    def test_journey_dispatch_and_error(self, app):
        url = H.journey_url(START_DT, ["Stop 0"])
        status, _, body, _ = app.handle(url)
        assert status == 200 and "Abfahrten für Stop 0".encode() in body
        status, _, body, _ = app.handle(
            H.journey_url(START_DT, ["No Such Stop"]))
        assert status == 500 and b"Fehler 500" in body

    def test_access_log(self, app, caplog):
        """serve_monitor logs one line per request: method, path,
        status and latency."""
        import http.client
        import logging
        import threading

        from dystonse_gtfs_importer_spark.monitor_app import serve_monitor

        caplog.set_level(logging.INFO,
                         logger="dystonse_gtfs_importer_spark.monitor_app")
        srv = serve_monitor(app, port=0)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            for path in ("/style.css", "/stop-by-name?start=Stop+0"):
                conn = http.client.HTTPConnection(
                    "127.0.0.1", srv.server_address[1], timeout=30)
                conn.request("GET", path)
                conn.getresponse().read()
                conn.close()
        finally:
            srv.shutdown()
            srv.server_close()
        lines = [r.getMessage() for r in caplog.records
                 if r.name == "dystonse_gtfs_importer_spark.monitor_app"]
        assert len(lines) == 2
        assert re.fullmatch(r"GET /style\.css 200 \d+\.\d ms", lines[0])
        assert re.fullmatch(r"GET /stop-by-name 302 \d+\.\d ms", lines[1])

    def test_concurrent_requests(self, app):
        """ThreadingHTTPServer + concurrent Spark actions per request
        — four parallel page loads must all succeed (Spark supports
        concurrent jobs from multiple driver threads)."""
        import threading
        import urllib.request

        from dystonse_gtfs_importer_spark.monitor_app import serve_monitor

        srv = serve_monitor(app, port=0)
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        results: list = []

        def hit(path):
            try:
                with urllib.request.urlopen(
                        f"http://127.0.0.1:{port}{path}",
                        timeout=120) as r:
                    results.append(r.status)
            except Exception as e:       # pragma: no cover
                results.append(repr(e))

        quoted = urllib.request.quote(
            H.journey_url(START_DT, ["Stop 0"]))
        try:
            threads = [threading.Thread(target=hit, args=(p,))
                       for p in (quoted, quoted, "/autocomplete?term=stop",
                                 "/style.css")]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=180)
            assert results == [200, 200, 200, 200], results
        finally:
            srv.shutdown()
            srv.server_close()

    def test_http_roundtrip(self, app):
        import threading
        import urllib.request

        from dystonse_gtfs_importer_spark.monitor_app import serve_monitor

        srv = serve_monitor(app, port=0)
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            quoted = urllib.request.quote(
                H.journey_url(START_DT, ["Stop 0"]))
            with urllib.request.urlopen(
                    f"http://127.0.0.1:{port}{quoted}", timeout=30) as r:
                assert r.status == 200
                assert "text/html" in r.headers["Content-Type"]
                page = r.read().decode()
            assert "Abfahrten für Stop 0" in page
            with urllib.request.urlopen(
                    f"http://127.0.0.1:{port}/", timeout=30) as r:
                assert r.status == 200
        finally:
            srv.shutdown()
            srv.server_close()
