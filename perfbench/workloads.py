"""The workloads, driven through the engine's public functions.

Each workload has a set-up (inputs generated from the seed, then the
precomputation the timed part depends on), a timed part that runs for
the requested seconds, and a check of the program's outputs.  The timed
part has two phases, so every workload reports the same end-to-end
metrics:

* a bulk phase, throughput-bound (``bulk_cpu_s``);
* a closed loop of single operations, each started only after the
  previous one finished (``op_cpu_ms``).

=============== ================================ ===========================
workload        bulk phase                       one operation
=============== ================================ ===========================
import_stream   drain a backlog of feed files    drop one feed file, wait
                with ``run_import_stream``       for its merge to commit
board           ``compute-curves --all``, then   one HTTP request to
                refresh the predictions table    ``serve_monitor``
                (scheduled + live ``predict``)
=============== ================================ ===========================

The op loop follows the bulk phase and a short untimed warm-up.  It
times a fixed minimum number of operations of one kind, then goes on
until the requested seconds have passed, so the median does not depend
on how many operations fit.

Every phase is measured in wall time and in CPU time of the whole
process tree (driver Python, JVM, Python workers).  The end-to-end
metrics are CPU times net of the JVM's JIT compiler threads, scaled to
a reference host speed: the kernel leaves hypervisor steal out of CPU
time, while on a shared host a spell of steal makes the same run's wall
times up to 2.5 times as long; JIT compilation, up to half of a phase's
CPU time in these short runs, varies from run to run with its timing;
and the host runs everything about half as fast in its busy spells as
in its quiet ones (see README.md).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from pathlib import Path

import numpy as np
import pyspark.sql.functions as F

import checks
import gen
import rss
from dystonse_gtfs_importer_spark import monitor_html as H
from dystonse_gtfs_importer_spark.monitor_app import MonitorApp, serve_monitor
from dystonse_gtfs_importer_spark.plans import analyse_gtfs, predict, scheduled
from dystonse_gtfs_importer_spark.plans.scheduled import PREDICTION_BUFFER
from dystonse_gtfs_importer_spark.schemas import ORIGIN_REALTIME, RECORDS
from dystonse_gtfs_importer_spark.sources import gtfs, store
from dystonse_gtfs_importer_spark.streaming import import_stream


# CPU milliseconds of the host-speed loop per vCPU on the 4-vCPU x86-64
# virtual machine of the baseline, in a quiet spell.  A constant: it
# scales every time metric alike, so it cancels when two commits are
# compared.
REF_LOOP_MS = 2.5


def host_speed_ms() -> float:
    """CPU milliseconds a fixed pure-Python loop takes: the best of
    three on each vCPU, with this thread pinned to it, and the median
    over the vCPUs.  It reads about twice as high in the host's busy
    spells as in its quiet ones, as the engine's own CPU time does."""
    cpus = os.sched_getaffinity(0)
    took = []
    try:
        for cpu in sorted(cpus):
            os.sched_setaffinity(0, {cpu})
            best = float("inf")
            for _ in range(3):
                t, x = time.thread_time(), 0
                for i in range(50_000):
                    x += i * i % 7
                best = min(best, time.thread_time() - t)
            took.append(best)
    finally:
        os.sched_setaffinity(0, cpus)
    return 1000 * statistics.median(took)


LOOP_MS: list[float] = []          # every host_speed_ms reading of the run


def speed_scale() -> float:
    """Factor that scales this run's CPU times to the reference host
    speed: one per run, from the median of all its loop readings, since
    the host's spells last minutes."""
    return REF_LOOP_MS / statistics.median(LOOP_MS)


@contextlib.contextmanager
def measure(out: list, **attrs):
    """Append one sample to ``out``: wall seconds; CPU seconds of this
    process tree (driver, JVM, Python workers) in all (``cpu_s``), in
    JIT compiler threads (``jit_s``) and in everything else
    (``work_s``); the host-speed loop before and after (``loop_ms``);
    the host's busy and steal seconds."""
    pid = os.getpid()
    LOOP_MS.append(host_speed_ms())
    h0, c0, t0 = rss.host_cpu_s(), rss.tree_cpu_s(pid), time.perf_counter()
    yield
    t1, c1, h1 = time.perf_counter(), rss.tree_cpu_s(pid), rss.host_cpu_s()
    LOOP_MS.append(host_speed_ms())
    cpu, jit = c1["total"] - c0["total"], c1["jit"] - c0["jit"]
    out.append({**attrs, "wall_s": t1 - t0, "cpu_s": cpu, "jit_s": jit,
                "work_s": cpu - jit, "loop_ms": LOOP_MS[-2:],
                "busy_s": h1["busy"] - h0["busy"],
                "steal_s": h1["steal"] - h0["steal"]})


def _utc(day: dt.date, secs: int) -> dt.datetime:
    return dt.datetime(day.year, day.month, day.day) + dt.timedelta(
        seconds=secs)


def _load_records_table(spark, history_file: Path, records_dir: Path) -> None:
    """Write the generated history into the partitioned records table
    through the store's own writer."""
    hist = spark.read.parquet(str(history_file)).select(
        *[F.col(f.name).cast(f.dataType) for f in RECORDS.fields])
    store.write_records(hist, str(records_dir))


def _read_schedule(spark, sched_dir: Path):
    sched = gtfs.read_gtfs(spark, str(sched_dir))
    return sched, gtfs.variant_stops(sched["trips"], sched["stop_times"])


def compute_curves(spark, records, vstops, routes, stats_dir: Path) -> None:
    """``analyse compute-curves --all``: the compute-curves branch of
    ``cli.cmd_analyse``, minus its row-count printout."""
    items = analyse_gtfs.prepare_dbitems(records, vstops).cache()
    try:
        tables = {"specific": analyse_gtfs.stop_pair_curve_sets(items),
                  "general": analyse_gtfs.general_delay_curves(items),
                  "default": analyse_gtfs.default_curves(items, routes)}
        store.write_curve_tables(tables, str(stats_dir))
    finally:
        items.unpersist()


class Workload:
    """Base: subclasses fill ``setup``, ``run`` and ``check``."""

    name = ""

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = \
            spark, work, seed, tracer
        self.rng = np.random.default_rng(seed)
        self.bulk: list[dict] = []
        self.ops: list[dict] = []
        self.notes: dict = {}

    def fresh(self, name: str) -> Path:
        d = self.work / name
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return d

    @property
    def lake(self) -> Path:
        return self.work / "lake"

    def output_files(self, table: str) -> int:
        return sum(1 for _ in (self.lake / table).rglob("*.parquet"))

    def output_bytes(self, table: str) -> int:
        return sum(f.stat().st_size
                   for f in (self.lake / table).rglob("*.parquet"))

    def curve_rows(self) -> int:
        return sum(df.count() for df in store.read_curve_tables(
            self.spark, str(self.lake / "stats")).values())


# ---------------------------------------------------------------------------
# import_stream
# ---------------------------------------------------------------------------

class ImportStream(Workload):
    """The reference's ``import`` mode: a file-source stream of GTFS-RT
    feeds merged latest-wins into a records table that already holds
    several days of history.

    The importer first takes two feeds one at a time (untimed: the
    first batches JIT-compile), then stops.  A backlog of feeds piles up
    and is drained when it restarts from its checkpoint (bulk phase).  Then
    live feeds arrive one at a time: LIVE_WARMUP untimed (the first
    batches of the restarted query run slower), then at least MIN_LIVE
    timed, and more until the requested seconds are over.  Restarting,
    rather than dropping the backlog into a running stream, keeps the
    backlog in one micro-batch: a running stream may list the directory
    while the files are being renamed into it."""

    name = "import_stream"
    SIZE = gen.Size(routes=6, stops_per_variant=10, service_from_h=6,
                    service_to_h=14, history_days=4)
    WARMUP = 2
    BACKLOG = 40
    LIVE_WARMUP = 3
    MIN_LIVE = 10
    LIVE_MAX = 24
    FIRST_FEED_S = 7 * 3600

    def setup(self) -> None:
        days = [gen.FEED_DAY - dt.timedelta(days=i)
                for i in range(self.SIZE.history_days, 0, -1)]
        self.schedule = gen.build_schedule(self.rng, self.SIZE, gen.FEED_DAY)
        history = gen.build_history(self.rng, self.schedule, days)
        self.history_rows = history.groupby("trip_start_date").size()
        files, self.events = gen.build_feeds(
            self.rng, self.schedule, self.WARMUP + self.BACKLOG + self.LIVE_MAX,
            self.FIRST_FEED_S)
        b = self.WARMUP + self.BACKLOG
        self.warm, self.backlog, self.live = \
            files[:self.WARMUP], files[self.WARMUP:b], files[b:]
        inp = self.fresh("input")
        gen.write_schedule(self.schedule, inp / "gtfs")
        gen.write_history(history, inp / "history.parquet")

        self.sched, _ = _read_schedule(self.spark, inp / "gtfs")
        self.records_dir = self.lake / "records"
        _load_records_table(self.spark, inp / "history.parquet",
                            self.records_dir)
        self.staging = self.fresh("staging")
        self.rt_dir = self.fresh("rt")
        self.dropped: list[str] = []

    def _start(self):
        return import_stream.run_import_stream(
            self.spark, str(self.rt_dir), self.sched["trips"],
            self.sched["stop_times"], gen.SOURCE, gen.SCHEDULE_NAME,
            str(self.records_dir), str(self.work / "checkpoint"),
            trigger={"processingTime": "0 seconds"})

    def _feed(self, q, name: str, blob: bytes) -> None:
        with self.tracer.root("feed", file=name):
            gen.write_atomic(self.staging, self.rt_dir, name, blob)
            q.processAllAvailable()
        self.dropped.append(name)

    def run(self, seconds: float) -> None:
        q = self._start()
        try:
            for name, blob in self.warm:
                self._feed(q, name, blob)
        finally:
            q.stop()
        warm = _batches(q, "warmup")
        for name, blob in self.backlog:
            gen.write_atomic(self.staging, self.rt_dir, name, blob)
        self.dropped += [name for name, _ in self.backlog]
        q = None
        try:
            with self.tracer.root("catch_up", feeds=len(self.backlog)):
                with measure(self.bulk):
                    q = self._start()
                    q.processAllAvailable()
            for name, blob in self.live[:self.LIVE_WARMUP]:
                self._feed(q, name, blob)
            deadline = time.perf_counter() + seconds
            for name, blob in self.live[self.LIVE_WARMUP:]:
                if len(self.ops) >= self.MIN_LIVE and \
                        time.perf_counter() >= deadline:
                    break
                with measure(self.ops):
                    self._feed(q, name, blob)
        finally:
            if q is not None:
                q.stop()
        # the per-micro-batch breakdown: free to read, kept in both runs
        bulk, *live = _batches(q, "live")
        bulk["phase"] = "bulk"
        for b in live[:self.LIVE_WARMUP]:
            b["phase"] = "live_warmup"
        self.live_batches = live[self.LIVE_WARMUP:]
        self.notes["micro_batches"] = warm + [bulk] + live

    def check(self) -> tuple[int, int]:
        dropped = set(self.dropped)
        ev = self.events[self.events["feed"].map(
            lambda k: f"feed-{k:05d}.pb" in dropped)]
        want = checks.expected_records(ev, self.schedule)
        got = (self.spark.read.parquet(str(self.records_dir))
               .where(F.col("trip_start_date") == F.lit(gen.FEED_DAY))
               .toPandas())
        bad_feeds = checks.diff_records(want, got)
        hist = (self.spark.read.parquet(str(self.records_dir))
                .where(F.col("trip_start_date") < F.lit(gen.FEED_DAY))
                .groupBy("trip_start_date").count().toPandas())
        hist_ok = (dict(zip(hist["trip_start_date"], hist["count"]))
                   == self.history_rows.to_dict())
        self.notes.update(expected_rows=len(want), got_rows=len(got),
                          history_intact=hist_ok)
        return len(self.dropped), len(bad_feeds) + (0 if hist_ok else 1)


def _batches(q, phase: str) -> list[dict]:
    """The query's micro-batches that read feeds, from recentProgress."""
    return [{"phase": phase, "batch": p["batchId"],
             "rows": p["numInputRows"], **p["durationMs"]}
            for p in q.recentProgress if p["numInputRows"] > 0]


# ---------------------------------------------------------------------------
# board
# ---------------------------------------------------------------------------

class Board(Workload):
    """The reference's nightly ``analyse compute-curves --all`` and
    ``predict start``, then the ``monitor`` web board: recompute the
    curve tables and the predictions table, then serve a seeded request
    mix to one closed-loop HTTP client.

    The network is small (the curve analysis's cost grows with its
    curve groups), but the calendar runs on past the feed day, so the
    predictions table fills the whole PREDICTION_BUFFER."""

    name = "board"
    SIZE = gen.Size(routes=2, stops_per_variant=5, service_from_h=6,
                    service_to_h=10, history_days=3)
    NOW_S = 8 * 3600
    REQUESTS = 400
    WARMUP = len(gen.WARMUP_KINDS)
    MIN_OPS = 3

    def setup(self) -> None:
        days = [gen.FEED_DAY - dt.timedelta(days=i)
                for i in range(self.SIZE.history_days, -1, -1)]
        # the calendar runs to the end of the prediction buffer
        end = (_utc(gen.FEED_DAY, self.NOW_S) + PREDICTION_BUFFER).date()
        self.schedule = gen.build_schedule(self.rng, self.SIZE, end)
        # history up to `now` on the feed day gives live vehicles
        history = gen.build_history(self.rng, self.schedule, days,
                                    until_s=self.NOW_S)
        self.requests = gen.build_requests(self.rng, self.schedule,
                                           self.NOW_S, self.REQUESTS)
        inp = self.fresh("input")
        gen.write_schedule(self.schedule, inp / "gtfs")
        gen.write_history(history, inp / "history.parquet")
        gen.write_requests(self.requests, inp / "requests.json")

        self.sched, self.vstops = _read_schedule(self.spark, inp / "gtfs")
        _load_records_table(self.spark, inp / "history.parquet",
                            self.lake / "records")
        self.records = (store.read_records(self.spark,
                                           str(self.lake / "records"))
                        .where(F.col("source") == gen.SOURCE))

    def refresh(self) -> None:
        """``analyse compute-curves --all``, then ``predict start``
        (scheduled, as in ``cli.cmd_predict``) and the live predictions
        of ``import -p`` (as in ``cli.cmd_import``), each appended to
        the predictions table."""
        with self.tracer.span("curves", "phase"):
            compute_curves(self.spark, self.records, self.vstops,
                           self.sched["routes"], self.lake / "stats")
            t = self.tables = store.read_curve_tables(
                self.spark, str(self.lake / "stats"))
        now = _utc(gen.FEED_DAY, self.NOW_S)
        preds_dir = str(self.lake / "predictions")
        with self.tracer.span("scheduled", "phase"):
            existing = (self.spark.read.parquet(preds_dir)
                        if Path(preds_dir).exists() else None)
            sched = scheduled.scheduled_predictions(
                self.spark, self.sched, self.vstops, t, now,
                existing_predictions=existing,
                source=gen.SOURCE, schedule_file_name=gen.SCHEDULE_NAME)
            store.write_predictions(sched, preds_dir, mode="append")
        with self.tracer.span("live", "phase"):
            basis = predict.realtime_basis(self.records, self.vstops, now)
            lookups = predict.prediction_lookups(
                basis, self.vstops, self.sched["stop_times"],
                self.sched["routes"])
            live = predict.prediction_rows(
                predict.predict(lookups, t["specific"], t["general"],
                                t["default"])
                .where(F.col("prediction_curve").isNotNull()),
                gen.SOURCE, gen.SCHEDULE_NAME, ORIGIN_REALTIME)
            store.write_predictions(live, preds_dir, mode="append")

    def run(self, seconds: float) -> None:
        with self.tracer.root("refresh"), measure(self.bulk):
            self.refresh()
        preds = self.spark.read.parquet(str(self.lake / "predictions"))
        srv = serve_monitor(MonitorApp(self.sched, preds), port=0)
        server = threading.Thread(target=srv.serve_forever, daemon=True)
        server.start()
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        self.results = []
        deadline = float("inf")         # set once the warm-up is done
        try:
            for i, req in enumerate(self.requests):
                if len(self.ops) >= self.MIN_OPS and \
                        time.perf_counter() >= deadline:
                    break
                url = base + _request_path(req)
                timed = self.ops if i >= self.WARMUP else \
                    self.notes.setdefault("warmup", [])
                with self.tracer.root("request", kind=req["kind"], i=i), \
                        measure(timed, kind=req["kind"]):
                    status, body = _get(url)
                self.results.append((req, status, body))
                if i == self.WARMUP - 1:
                    deadline = time.perf_counter() + seconds
        finally:
            srv.shutdown()
            srv.server_close()
            server.join()
        self.n_predictions = preds.count()

    def check(self) -> tuple[int, int]:
        failed = [r["kind"] for r, status, body in self.results
                  if not checks.page_ok(r, status, body)]
        kinds: dict[str, int] = {}
        for r, _, _ in self.results:
            kinds[r["kind"]] = kinds.get(r["kind"], 0) + 1
        attempted, bad = checks.curve_invariants(self.tables)
        items = analyse_gtfs.prepare_dbitems(self.records, self.vstops)
        n_re, bad_re = checks.general_recompute(self.tables["general"], items,
                                                self.rng, n=12)
        self.notes.update(predictions=self.n_predictions, requests=kinds,
                          failed_kinds=failed, curve_rows=attempted,
                          recomputed_curves=n_re)
        return (len(self.results) + attempted + n_re + 1,
                len(failed) + bad + bad_re + (self.n_predictions == 0))


def _request_path(req: dict) -> str:
    if req["kind"] == "autocomplete":
        return "/autocomplete?" + urllib.parse.urlencode({"term": req["term"]})
    start = dt.datetime(gen.FEED_DAY.year, gen.FEED_DAY.month,
                        gen.FEED_DAY.day) + dt.timedelta(seconds=req["start_s"])
    return urllib.request.quote(H.journey_url(start, req["components"]))


def _get(url: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:          # 4xx / 5xx pages
        return e.code, e.read().decode()


WORKLOADS = {w.name: w for w in (ImportStream, Board)}


def summarize(w: Workload) -> dict[str, tuple[float, str]]:
    """The workload's end-to-end metrics: CPU time net of JIT
    compilation at the reference host speed for the bulk phase and,
    median over the timed operations, for one operation.  Only the median: a run times
    MIN_OPS (3) pages or MIN_LIVE (10) feeds, too few for a higher
    percentile to have ten samples beyond it."""
    k = speed_scale()
    return {"bulk_cpu_s": (k * w.bulk[0]["work_s"], "s"),
            "op_cpu_ms": (1000 * k * statistics.median(
                x["work_s"] for x in w.ops), "ms")}


def wall_clock(w: Workload) -> dict[str, float]:
    """The same phases in wall time, for the report only: on a shared
    host, hypervisor steal moves these far more than the code does."""
    return {"bulk_wall_s": w.bulk[0]["wall_s"],
            "op_wall_p50_ms": 1000 * statistics.median(
                x["wall_s"] for x in w.ops)}
