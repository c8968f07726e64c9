"""Seeded input generator for the benchmark workloads.

Everything the engine reads is written here as files: the GTFS schedule
CSVs, GTFS-RT feed files, the history records (parquet) and the board
request list (JSON).  The same seed gives byte-identical inputs; the
sizes are fixed per workload, so seeds change identities and delays,
never the amount of work.

Traffic properties the engine's behaviour depends on:

* route frequencies are skewed (headways 7.5 to 60 min), so curve groups
  and board pages differ in size;
* a vehicle is reported in many consecutive feeds with a changing delay,
  so latest-wins has real work to do;
* a share of the feeds is dropped out of header-timestamp order, about
  2 % are corrupt files, and every feed carries updates for an unknown
  trip_id, an unknown stop_sequence, and some updates with no delay.

Malformed trip descriptors (``"08:15"``, ``"8:xx:00"``) are left out on
purpose: under ANSI mode they abort the whole import batch today instead
of being skipped.  They join the mix once trip-descriptor parsing is
ANSI-safe.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from dystonse_gtfs_importer_spark.sources.gtfs_rt import encode_feed_message

SOURCE = "bench"
SCHEDULE_NAME = "gtfs-bench"
FEED_DAY = dt.date(2024, 3, 7)          # a Thursday: workday time slots
HEADWAYS_MIN = (7.5, 10, 15, 20, 30, 60)
ROUTE_TYPES = (3, 0, 3, 2, 3, 0)        # bus, tram, bus, rail, ...
STOP_GRID_M = 500.0                     # stop names 500 m apart
PLATFORM_OFFSET_DEG = 0.0003            # two platforms ~35 m apart
WORDS_A = ("Markt", "Hafen", "Linden", "Kirch", "Berg", "Wiesen", "Schul",
           "Mühlen", "Brunnen", "Garten", "Post", "Rat")
WORDS_B = ("platz", "straße", "weg", "allee", "tor", "hof", "ring", "damm")


@dataclass(frozen=True)
class Size:
    """Fixed per-workload input size (seed-independent)."""
    routes: int
    stops_per_variant: int
    service_from_h: int
    service_to_h: int
    history_days: int


def _hms(secs: int) -> str:
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def _epoch(day: dt.date, secs: int) -> int:
    """GTFS service-day seconds → epoch (UTC; the benchmark runs the
    session in UTC, so the noon rule and midnight agree)."""
    midnight = dt.datetime(day.year, day.month, day.day,
                           tzinfo=dt.timezone.utc)
    return int(midnight.timestamp()) + int(secs)


# ---------------------------------------------------------------------------
# schedule
# ---------------------------------------------------------------------------

def build_schedule(rng: np.random.Generator, size: Size,
                   calendar_end: dt.date) -> dict[str, pd.DataFrame]:
    n_names = size.routes * (size.stops_per_variant - 1) + 1
    names = [f"{WORDS_A[i % len(WORDS_A)]}{WORDS_B[i // len(WORDS_A)]}"
             for i in rng.permutation(len(WORDS_A) * len(WORDS_B))[:n_names]]
    # names on a line of grid cells 500 m apart, two platforms each
    step = STOP_GRID_M / 111_000.0
    stops = []
    for i, name in enumerate(names):
        lat, lon = 53.0 + (i % 6) * step, 8.8 + (i // 6) * step * 1.6
        for p in range(2):
            stops.append({"stop_id": f"S{i:02d}{'ab'[p]}", "stop_name": name,
                          "stop_lat": round(lat + p * PLATFORM_OFFSET_DEG, 6),
                          "stop_lon": round(lon, 6)})
    stops = pd.DataFrame(stops)

    # The network's shape is fixed per size: route r runs every
    # HEADWAYS_MIN[r] minutes over stop positions that overlap the next
    # route's in one transfer stop.  The seed picks the names at those
    # positions, run times, offsets and delays, so runs with other seeds
    # see the same amount of work.
    routes, trips, st = [], [], []
    for r in range(size.routes):
        route_id = f"R{r + 1}"
        headway = HEADWAYS_MIN[r]
        routes.append({"route_id": route_id, "agency_id": "A1",
                       "route_short_name": str(r + 1),
                       "route_type": ROUTE_TYPES[r % len(ROUTE_TYPES)]})
        first = r * (size.stops_per_variant - 1)
        path = [(first + i) % n_names for i in range(size.stops_per_variant)]
        run_s = rng.integers(110, 150, size.stops_per_variant)
        for v, seq_names in ((1, path), (2, path[::-1])):
            variant = (r + 1) * 10 + v
            headsign = names[seq_names[-1]]
            platform = "ab"[v - 1]
            offset = int(rng.integers(0, int(headway * 60)))
            start = size.service_from_h * 3600 + offset
            k = 0
            while start < size.service_to_h * 3600:
                trip_id = f"{route_id}v{v}t{k:03d}"
                trips.append({"trip_id": trip_id, "route_id": route_id,
                              "service_id": "ALL", "trip_headsign": headsign,
                              "shape_id": f"sh{variant}",
                              "route_variant": variant})
                t = start
                for s, name_i in enumerate(seq_names):
                    # stop_sequence with gaps, like real feeds
                    st.append({"trip_id": trip_id, "stop_sequence": 10 * (s + 1),
                               "stop_id": f"S{name_i:02d}{platform}",
                               "arrival_time": _hms(t),
                               "departure_time": _hms(t + 30)})
                    t += 30 + int(run_s[s])
                k += 1
                start += int(headway * 60)
    first_day = FEED_DAY - dt.timedelta(days=size.history_days)
    calendar = pd.DataFrame([{
        "service_id": "ALL", "monday": 1, "tuesday": 1, "wednesday": 1,
        "thursday": 1, "friday": 1, "saturday": 1, "sunday": 1,
        "start_date": first_day.strftime("%Y%m%d"),
        "end_date": calendar_end.strftime("%Y%m%d")}])
    return {"agency": pd.DataFrame([{"agency_id": "A1",
                                     "agency_name": "Bench Transit"}]),
            "routes": pd.DataFrame(routes), "trips": pd.DataFrame(trips),
            "stop_times": pd.DataFrame(st), "stops": stops,
            "calendar": calendar}


def write_schedule(schedule: dict[str, pd.DataFrame], path: Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    for name, df in schedule.items():
        df.to_csv(path / f"{name}.txt", index=False)


def _trip_frame(schedule: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """One row per stop_time with the trip's route and start seconds."""
    st = schedule["stop_times"].merge(
        schedule["trips"][["trip_id", "route_id", "route_variant"]],
        on="trip_id")
    secs = st["arrival_time"].str.split(":", expand=True).astype(int)
    st["arr_s"] = secs[0] * 3600 + secs[1] * 60 + secs[2]
    st["dep_s"] = st["arr_s"] + 30
    # a trip starts at its first scheduled departure
    st["start_s"] = st.groupby("trip_id")["dep_s"].transform("min")
    st["end_s"] = st.groupby("trip_id")["arr_s"].transform("max")
    return st.sort_values(["trip_id", "stop_sequence"], ignore_index=True)


# ---------------------------------------------------------------------------
# history records
# ---------------------------------------------------------------------------

def build_history(rng: np.random.Generator, schedule, days: list[dt.date],
                  until_s: int | None = None) -> pd.DataFrame:
    """Records rows (the RECORDS schema) for whole service days; on the
    last day only stop events scheduled before ``until_s``.  Delays are
    a per-vehicle random walk along the trip, route-skewed."""
    st = _trip_frame(schedule)
    route_bias = {r: float(b) for r, b in zip(
        sorted(st["route_id"].unique()),
        rng.normal(60, 40, st["route_id"].nunique()))}
    out = []
    for d_i, day in enumerate(days):
        df = st.copy()
        if until_s is not None and d_i == len(days) - 1:
            df = df[df["dep_s"] < until_s]
        trip_ids = df["trip_id"].unique()
        base = pd.Series(rng.normal(0, 90, len(trip_ids)), index=trip_ids)
        steps = rng.normal(6, 30, len(df))
        walk = pd.Series(steps).groupby(df["trip_id"].to_numpy()).cumsum()
        delay = (df["trip_id"].map(base).to_numpy()
                 + df["route_id"].map(route_bias).to_numpy()
                 + walk.to_numpy())
        arr = np.round(delay).astype("int64")
        dep = arr + rng.integers(-5, 25, len(df))
        keep = rng.random(len(df)) >= 0.15           # unreported stops
        arr_null = rng.random(len(df)) < 0.05
        rec_s = np.array([_epoch(day, s) for s in df["dep_s"]]) + dep
        out.append(pd.DataFrame({
            "source": SOURCE,
            "route_id": df["route_id"].to_numpy(),
            "route_variant": df["route_variant"].to_numpy().astype("int64"),
            "trip_id": df["trip_id"].to_numpy(),
            "trip_start_date": day,
            "trip_start_time": df["start_s"].to_numpy().astype("int32"),
            "stop_sequence": df["stop_sequence"].to_numpy().astype("int32"),
            "stop_id": df["stop_id"].to_numpy(),
            "time_of_recording": pd.to_datetime(rec_s, unit="s"),
            "delay_arrival": pd.array(np.where(arr_null, 0, arr),
                                      dtype="Int32"),
            "delay_departure": pd.array(dep, dtype="Int32"),
            "schedule_file_name": SCHEDULE_NAME,
        })[keep])
        out[-1].loc[arr_null[keep], "delay_arrival"] = pd.NA
    return pd.concat(out, ignore_index=True)


def write_history(history: pd.DataFrame, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    history.to_parquet(path, index=False)


# ---------------------------------------------------------------------------
# GTFS-RT feeds
# ---------------------------------------------------------------------------

CORRUPT_SHARE = 0.02
OUT_OF_ORDER_SHARE = 0.15


def build_feeds(rng: np.random.Generator, schedule, n_feeds: int,
                first_s: int, every_s: int = 30, horizon_s: int = 600
                ) -> tuple[list[tuple[str, bytes]], pd.DataFrame]:
    """``n_feeds`` snapshots of the active trips on FEED_DAY, one every
    ``every_s`` seconds from ``first_s``; each active vehicle reports
    every stop up to ``horizon_s`` ahead with its current delay.

    Returns the feed files in drop order (some pairs swapped against
    header-timestamp order) and the events encoded in the good files,
    with the feed's drop index, for the reference computation."""
    st = _trip_frame(schedule)
    by_trip = {t: g for t, g in st.groupby("trip_id", sort=True)}
    span = st.groupby("trip_id").agg(start_s=("start_s", "first"),
                                     end_s=("end_s", "first"),
                                     route_id=("route_id", "first"))
    delay = {t: float(rng.normal(60, 90)) for t in span.index}
    # one corrupt file in every 1/CORRUPT_SHARE, at a seeded offset, so
    # the backlog and the live phase both meet some
    period = round(1 / CORRUPT_SHARE)
    first = int(rng.integers(period // 2))
    corrupt = set(range(first, n_feeds, period))
    day = FEED_DAY.strftime("%Y%m%d")
    files, events = [], []
    for k in range(n_feeds):
        now_s = first_s + k * every_s
        ts = _epoch(FEED_DAY, now_s)
        name = f"feed-{k:05d}.pb"
        active = span[(span["start_s"] - 120 <= now_s)
                      & (span["end_s"] + 120 >= now_s)]
        tus, rows = [], []
        for trip_id, trip in active.iterrows():
            delay[trip_id] += float(rng.normal(4, 20))   # changed delays
            if rng.random() < 0.1:                       # vehicle silent
                continue
            g = by_trip[trip_id]
            g = g[g["arr_s"] <= now_s + horizon_s]
            stus = []
            for seq, stop_id in zip(g["stop_sequence"], g["stop_id"]):
                d = int(round(delay[trip_id]))
                arr, dep = d, d + 10
                u = rng.random()
                if u < 0.03:
                    arr = dep = None                     # F4: no delay
                elif u < 0.08:
                    arr = None
                stus.append((int(seq), stop_id, arr, dep))
            if not stus:
                continue
            tus.append({"trip_id": trip_id, "route_id": trip["route_id"],
                        "start_date": day, "start_time": _hms(trip["start_s"]),
                        "stop_time_updates": stus})
            rows += [(k, ts, trip_id, day, int(trip["start_s"]), *u)
                     for u in stus]
        # J1: unknown trip; J2: a known trip with an unknown stop_sequence
        if tus:
            tus.append({"trip_id": f"X{k}", "route_id": "R1",
                        "start_date": day, "start_time": "07:00:00",
                        "stop_time_updates": [(10, "S00a", 30, 40)]})
            bad_seq = dict(tus[0])
            bad_seq["stop_time_updates"] = [(15, "S00a", 30, 40)]
            tus.append(bad_seq)
            rows.append((k, ts, f"X{k}", day, 7 * 3600, 10, "S00a", 30, 40))
            rows.append((k, ts, bad_seq["trip_id"], day,
                         int(span.loc[bad_seq["trip_id"], "start_s"]),
                         15, "S00a", 30, 40))
        if k in corrupt:
            # wire type 7 on the first tag: the decoder rejects the file
            blob = b"\x0f" + rng.bytes(int(rng.integers(20, 200)))
        else:
            blob = encode_feed_message(ts, tus)
            events += rows
        files.append((name, blob))
    # out-of-order arrival: swap some adjacent pairs in drop order
    order = list(range(n_feeds))
    i = 0
    while i < n_feeds - 1:
        if rng.random() < OUT_OF_ORDER_SHARE:
            order[i], order[i + 1] = order[i + 1], order[i]
            i += 2
        else:
            i += 1
    ev = pd.DataFrame(events, columns=[
        "feed", "header_timestamp", "trip_id", "start_date",
        "trip_start_time", "stop_sequence", "stop_id", "arrival_delay",
        "departure_delay"])
    return [files[i] for i in order], ev


def write_atomic(src_dir: Path, dst_dir: Path, name: str,
                 blob: bytes) -> None:
    """Write under a staging name, then rename into the watched
    directory, so the stream never lists a half-written file."""
    tmp = src_dir / (name + ".part")
    tmp.write_bytes(blob)
    os.replace(tmp, dst_dir / name)


# ---------------------------------------------------------------------------
# board requests
# ---------------------------------------------------------------------------

# The mix, in a fixed order, so a run with any seed sends the same
# sequence of page kinds.  A run times only a handful of pages, so every
# kind whose cost differs from a stop page's (the multi-leg journey at
# about twice it, the trip page, autocomplete and the unknown stop)
# opens the run as its checked, untimed warm-up, and only stop pages are
# timed: over mixed kinds the median would move with the number of
# pages a run fits, not with the cost of a page.  The warm-up ends with
# a plain stop page: the first one of a run costs about a quarter more
# than the next ones, even net of JIT compilation.
WARMUP_KINDS = ("journey", "trip", "autocomplete", "unknown", "stop")
REQUEST_CYCLE = ("stop",)


def build_requests(rng: np.random.Generator, schedule, now_s: int,
                   n: int) -> list[dict]:
    """A seeded request mix for the board: WARMUP_KINDS, then
    REQUEST_CYCLE repeated, each kind filled with seeded stops and trips.

    Each request carries the path components and the expected status
    and page marker."""
    st = _trip_frame(schedule)
    stops = schedule["stops"]
    name_of = dict(zip(stops["stop_id"], stops["stop_name"]))
    trips = schedule["trips"].set_index("trip_id")
    routes = schedule["routes"].set_index("route_id")
    names = list(stops["stop_name"].unique())       # by grid position
    # boardable: trips starting after `now` (they carry schedule-origin
    # predictions) departing a non-final stop within the next hour
    last_seq = st.groupby("trip_id")["stop_sequence"].transform("max")
    board = st[(st["start_s"] >= now_s) & (st["dep_s"] < now_s + 3600)
               & (st["stop_sequence"] < last_seq)]
    out: list[dict] = []
    pos = iter(range(0, 10**6, 3))    # stop positions, same for every seed
    kinds = WARMUP_KINDS + REQUEST_CYCLE * (n // len(REQUEST_CYCLE) + 1)
    for kind in kinds[:n]:
        start_min = int(rng.integers(0, 45))
        start_s = now_s + 60 * start_min
        if kind == "stop":
            name = names[next(pos) % len(names)]
            out.append({"kind": kind, "start_s": start_s,
                        "components": [name], "status": 200,
                        "marker": f"Abfahrten für {name}"})
        elif kind == "unknown":
            name = f"Nirgendwo {int(rng.integers(1000))}"
            out.append({"kind": kind, "start_s": start_s,
                        "components": [name], "status": 500,
                        "marker": "Fehler 500"})
        elif kind == "autocomplete":
            name = names[int(rng.integers(len(names)))]
            out.append({"kind": kind, "term": name.lower(),
                        "status": 200, "marker": name})
        else:
            row = board.iloc[int(rng.integers(len(board)))]
            trip = trips.loc[row["trip_id"]]
            route = routes.loc[trip["route_id"]]
            board_name = name_of[row["stop_id"]]
            desc = {"route_type": int(route["route_type"]),
                    "route_short_name": str(route["route_short_name"]),
                    "headsign": trip["trip_headsign"],
                    "departure_hhmm": _hms(int(row["dep_s"]))[:5]}
            start_s = int(row["dep_s"]) - 60 * int(rng.integers(2, 10))
            if kind == "trip":
                out.append({"kind": kind, "start_s": start_s,
                            "components": [board_name, desc],
                            "status": 200, "marker": "Halte für"})
                continue
            later = st[(st["trip_id"] == row["trip_id"])
                       & (st["stop_sequence"] > row["stop_sequence"])]
            alight = name_of[later.iloc[
                int(rng.integers(len(later)))]["stop_id"]]
            walk_to = names[int(rng.integers(len(names)))]
            comps = [board_name, desc, alight, "walk", walk_to]
            out.append({"kind": kind, "start_s": start_s,
                        "components": comps, "status": 200,
                        "marker": f"Abfahrten für {walk_to}"})
    return out


def write_requests(requests: list[dict], path: Path) -> None:
    path.write_text(json.dumps(requests, ensure_ascii=False))
