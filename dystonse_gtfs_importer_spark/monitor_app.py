"""Monitor request dispatcher — the Spark-backed equivalent of the
reference's HTTP service (``serve_monitor``/``handle_request``,
/root/reference/src/monitor/mod.rs:102-190): pretty journey URLs in,
rendered HTML pages out.

Per request, Spark runs the table reads (S8 window, board last stops,
J6 platform groups, J8 trip resolution) and only O(board size) rows
cross to the driver, which filters, sorts and scores them, as the
reference does with its per-request MySQL reads.
Rendering itself is the pure-stdlib :mod:`monitor_html`.
"""

from __future__ import annotations

import datetime as dt
import logging
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import curves as cv
from . import monitor_html as H
from .plans.journey import _curve_and_ref, _haversine_m, journey_probabilities
# resolve_trip runs inside journey_probabilities; it stays importable
# here, where perfbench/spans.py wraps the monitor's layer functions
from .plans.monitor import (  # noqa: F401
    autocomplete_stops, departure_board, predictions_for_stop,
    predictions_for_trip, resolve_trip,
)
from .rendering import heat_strip_data_url
from .schemas import EVENT_ARRIVAL

log = logging.getLogger(__name__)


def _utc(epoch_s: int) -> dt.datetime:
    """Naive UTC datetime for an epoch — the engine's timestamps are
    session-TZ-naive (tests pin the session to UTC)."""
    return dt.datetime.fromtimestamp(int(epoch_s),
                                     dt.timezone.utc).replace(tzinfo=None)


class MonitorApp:
    """Routes a request path to a rendered page.

    ``schedule`` is the GTFS DataFrame dict (stops/routes/trips/
    stop_times[/calendar]); ``predictions`` the predictions table."""

    def __init__(self, schedule: dict[str, DataFrame],
                 predictions: DataFrame, radius_m: float = 300.0):
        self.schedule = schedule
        self.predictions = predictions
        self.radius_m = radius_m
        self.min_chance = 0.05                      # F11
        # compute_meta_data (mod.rs:1432-1490): headsign and route
        # name/type of each board row
        self.headsigns = {
            (r.trip_id, r.route_id): r.trip_headsign for r in
            schedule["trips"].select(
                "trip_id", "route_id", "trip_headsign").collect()}
        self.route_names = {
            r.route_id: (r.route_short_name, r.route_type) for r in
            schedule["routes"].select(
                "route_id", "route_short_name", "route_type").collect()}

    # -- dispatch (handle_request, mod.rs:139-190) -------------------

    def handle(self, path: str, query: dict[str, str] | None = None
               ) -> tuple[int, str, bytes, dict[str, str]]:
        query = query or {}
        parts = [p for p in path.split("/") if p]
        try:
            if not parts:
                return self._ok(H.search_page_html())
            if parts == ["style.css"]:
                return 200, "text/css; charset=utf-8", \
                    H.STYLE_CSS.encode(), {}
            if parts[0] == "help":
                return self._ok(H.help_page_html())
            if parts == ["autocomplete"]:
                names = [r.stop_name for r in autocomplete_stops(
                    self.schedule["stops"],
                    query.get("term", "")).collect()]
                return 200, "application/json; charset=utf-8", \
                    H.autocomplete_json(names).encode(), {}
            if parts == ["stop-by-name"]:
                now = dt.datetime.now().replace(second=0, microsecond=0)
                url = H.journey_url(now, [query.get("start", "")])
                return 302, "text/plain", b"", {"Location": url}
            start_dt, comps = H.parse_journey_path(path)
            if not comps:
                raise ValueError("journey has no components")
            last = comps[-1]
            if isinstance(last, dict):
                return self._ok(self.trip_page(start_dt, comps))
            if last == "walk":
                raise ValueError("journey may not end mid-walk")
            return self._ok(self.stop_page(start_dt, comps))
        except Exception as e:  # generate_error_page (mod.rs:185-189)
            return 500, "text/html; charset=utf-8", \
                H.error_page_html(500, str(e)).encode(), {}

    @staticmethod
    def _ok(page: str):
        return 200, "text/html; charset=utf-8", page.encode(), {}

    # -- stop page (generate_stop_page, mod.rs:426-591) ---------------

    def stop_page(self, start_dt: dt.datetime, components: list) -> str:
        legs, state = journey_probabilities(
            self.schedule, self.predictions, components, start_dt,
            return_state=True)
        stop_name = components[-1]
        start_curve, start_ref = state["curve"], state["ref_s"]
        start_prob = state["prob"]

        t01 = start_ref + int(cv.x_at_y(start_curve, 0.01))
        t99 = start_ref + int(cv.x_at_y(start_curve, 0.99))
        lo_s, hi_s, len_min = H.board_window(t01, t99)
        lo_dt, hi_dt = _utc(lo_s), _utc(hi_s)

        ext = state["ext_rows"]
        primary = [(r.stop_lat, r.stop_lon) for r in ext
                   if r.stop_name == stop_name
                   and r.stop_lat is not None]
        # per-platform walk distance for platforms reached under
        # another name (extended_stops_distances)
        dist_by_id, name_by_id = {}, {}
        for r in ext:
            name_by_id[r.stop_id] = r.stop_name
            if r.stop_name != stop_name and primary \
                    and r.stop_lat is not None:
                dist_by_id[r.stop_id] = min(
                    _haversine_m(a[0], a[1], r.stop_lat, r.stop_lon)
                    for a in primary)
        ext_names = [stop_name] + sorted(
            {r.stop_name for r in ext} - {stop_name})

        preds = predictions_for_stop(
            self.predictions, list(name_by_id), lo_dt, hi_dt)
        rows = departure_board(preds, lo_dt, hi_dt,
                               all_predictions=self.predictions,
                               with_heat_strip=True)

        rows_html: list[str] = []
        # first line: how the traveller arrives here
        if state["last_walk_m"] is not None:
            strip = heat_strip_data_url(cv.heat_strip(
                start_curve, start_ref, lo_s, hi_s), height=4)
            rows_html.append(H.walk_arrival_row_html(
                stop_name, state["last_walk_m"],
                start_ref + int(cv.x_at_y(start_curve, 0.01)),
                start_ref + int(cv.x_at_y(start_curve, 0.50)),
                start_ref + int(cv.x_at_y(start_curve, 0.99)),
                start_prob * 100.0, lo_s, hi_s, strip))
        elif state["last_arrival_row"] is not None \
                and len(components) >= 3:
            arr, desc = state["last_arrival_row"], components[-2]
            c, ref = _curve_and_ref(arr)
            rows_html.append(H.departure_row_html({
                "scheduled_s": ref,
                "t01_s": ref + int(cv.x_at_y(c, 0.01)),
                "t50_s": ref + int(cv.x_at_y(c, 0.50)),
                "t99_s": ref + int(cv.x_at_y(c, 0.99)),
                "route_type": desc["route_type"],
                "route_name": desc["route_short_name"],
                "headsign": stop_name, "prob": start_prob * 100.0,
                "origin_type": arr.origin_type,
                "precision_type": arr.precision_type,
                "sample_size": arr.sample_size,
                "strip_url": heat_strip_data_url(cv.heat_strip(
                    c, ref, lo_s, hi_s), height=4),
            }, lo_s, hi_s, arrival=True))

        stop_url = H.journey_url(start_dt, components)
        for r in rows:
            c, ref = _curve_and_ref(r)
            walk_m = dist_by_id.get(r.stop_id, 0.0)
            # C13-C15: chance to catch it, walking from the platform
            # group's anchor if this is an alternative platform
            arr_curve = cv.convolve_duration(
                start_curve, cv.walk_time_curve(walk_m))
            local = cv.transfer_probability(arr_curve, start_ref, c, ref)
            if local < self.min_chance:               # F11
                continue
            route_name, route_type = self.route_names.get(
                r.route_id, (None, None))
            dep = {
                "scheduled_s": ref,
                "t01_s": ref + int(cv.x_at_y(c, 0.01)),
                "t50_s": ref + int(cv.x_at_y(c, 0.50)),
                "t99_s": ref + int(cv.x_at_y(c, 0.99)),
                "route_type": route_type if route_type is not None
                else -1,
                "route_name": route_name or r.route_id,
                "headsign": self.headsigns.get(
                    (r.trip_id, r.route_id)) or "?",
                "prob": start_prob * local * 100.0,
                "origin_type": r.origin_type,
                "precision_type": r.precision_type,
                "sample_size": r.sample_size,
                "strip_url": r.strip_data_url,
            }
            if r.stop_id in dist_by_id:
                dep.update(walk_m=walk_m,
                           walk_stop_name=name_by_id[r.stop_id],
                           walk_min_s=int(cv.walk_time_curve(walk_m).min_x),
                           walk_max_s=int(cv.walk_time_curve(walk_m).max_x))
            rows_html.append(H.departure_row_html(
                dep, lo_s, hi_s, stop_url=stop_url))

        return H.stop_page_html(stop_name, ext_names, lo_s, hi_s,
                                len_min, rows_html, start_dt, components)

    # -- trip page (generate_trip_page, mod.rs:691-800) ----------------

    def trip_page(self, start_dt: dt.datetime, components: list) -> str:
        desc = components[-1]
        legs, state = journey_probabilities(
            self.schedule, self.predictions, components, start_dt,
            return_state=True)
        trip = state["trip"]
        boarding_seq, dep_row = trip["boarding_seq"], trip["departure_row"]
        dep_curve, dep_ref = state["curve"], state["ref_s"]
        start_prob = state["prob"]
        arrivals = (predictions_for_trip(
            self.predictions, trip["trip_id"], trip["trip_start_date"],
            trip["trip_start_time"], boarding_seq)
            .where((F.col("event_type") == EVENT_ARRIVAL)
                   & (F.col("stop_sequence") > boarding_seq))
            .collect())

        t01 = dep_ref + int(cv.x_at_y(dep_curve, 0.01))
        arr_by_seq = {}
        t99 = t01 + 300
        for a in arrivals:
            c, ref = _curve_and_ref(a)
            arr_by_seq[a.stop_sequence] = (a, c, ref)
            t99 = max(t99, ref + int(cv.x_at_y(c, 0.99)))
        lo_s, hi_s, len_min = H.board_window(t01, t99)

        # only this trip's stop rows cross the driver boundary (the
        # stops dimension joins in before the collect)
        stop_times = (self.schedule["stop_times"]
                      .where((F.col("trip_id") == trip["trip_id"])
                             & (F.col("stop_sequence") >= boarding_seq))
                      .join(F.broadcast(self.schedule["stops"]
                                        .select("stop_id", "stop_name")),
                            "stop_id", "left")
                      .orderBy("stop_sequence").collect())

        def row_dict(pred_row, c, ref):
            return {
                "scheduled_s": ref,
                "t01_s": ref + int(cv.x_at_y(c, 0.01)),
                "t50_s": ref + int(cv.x_at_y(c, 0.50)),
                "t99_s": ref + int(cv.x_at_y(c, 0.99)),
                "origin_type": pred_row.origin_type,
                "precision_type": pred_row.precision_type,
                "sample_size": pred_row.sample_size,
                "strip_url": heat_strip_data_url(cv.heat_strip(
                    c, ref, lo_s, hi_s), height=4),
            }

        rows_html = []
        for st in stop_times:
            name = st.stop_name or st.stop_id
            if st.stop_sequence == boarding_seq:
                rows_html.append(H.trip_stop_row_html(
                    name, row_dict(dep_row, dep_curve, dep_ref),
                    lo_s, hi_s, arrival=False,
                    prob=start_prob * 100.0))
            else:
                hit = arr_by_seq.get(st.stop_sequence)
                rows_html.append(H.trip_stop_row_html(
                    name, row_dict(*hit) if hit else None,
                    lo_s, hi_s, arrival=True, prob=None))

        return H.trip_page_html(
            desc["route_type"], desc["route_short_name"],
            desc["headsign"], lo_s, hi_s, len_min, rows_html,
            start_dt, components)


# -- stdlib HTTP front (serve_monitor, mod.rs:102-137) ---------------------

def serve_monitor(app: MonitorApp, port: int = 3000, *, threaded=True):
    """Build (not start) an http.server for ``app``; the caller runs
    ``serve_forever`` — tests drive it from a thread, the CLI blocks."""
    import http.server
    from urllib.parse import parse_qsl, urlsplit

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):                         # noqa: N802
            split = urlsplit(self.path)
            t0 = time.perf_counter()
            status, ctype, body, headers = app.handle(
                split.path, dict(parse_qsl(split.query)))
            log.info("%s %s %d %.1f ms", self.command, split.path, status,
                     1000 * (time.perf_counter() - t0))
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            for k, v in headers.items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, fmt, *args):  # http.server's stderr lines
            log.debug(fmt, *args)

    cls = (http.server.ThreadingHTTPServer if threaded
           else http.server.HTTPServer)
    return cls(("0.0.0.0", port), Handler)
