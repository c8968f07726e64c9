"""Spans around the engine's layer functions, for the traced run.

The benchmark wraps the public layer functions at their module
attribute (for example ``monitor_app.journey_probabilities``,
``import_stream.merge_batch_overwrite``, ``plans.import_etl
.build_records``) and restores them when the run ends.  A span records
its name, layer, start, end, parent and root (the feed, refresh or
request it serves); spans stay in memory until the report is built.

Spark work is attributed through job groups: each span that may run
Spark jobs sets a job group of its own on its thread, and restores the
previous one when it ends.  Many layer functions return lazy DataFrames
whose jobs run later inside an action; those jobs belong to the span
that ran the action (usually a store writer or the page handler).  Job
and task counts come from ``statusTracker``; shuffle and spill bytes
from the status store's stage data, read over py4j.

Counts ride on the jobs that already run: ``DataFrame.observe`` on the
DataFrames a layer returns, and accumulators inside the GTFS-RT decoder,
which runs in the Python workers.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import statistics
import threading
import time
from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

PKG = "dystonse_gtfs_importer_spark"
GROUP = "spark.jobGroup.id"

# (module, attribute, layer, span name, runs Spark jobs)
WRAPPED = [
    ("sources.gtfs", "read_gtfs", "gtfs", "read_gtfs", True),
    ("sources.gtfs", "variant_stops", "gtfs", "variant_stops", True),
    ("streaming.import_stream", "run_import_stream", "import_stream",
     "start", True),
    ("streaming.import_stream", "merge_batch_overwrite", "import_stream",
     "merge", True),
    ("plans.import_etl", "build_records", "import_etl", "build_records", True),
    ("plans.import_etl", "latest_wins_merge", "import_etl", "latest_wins",
     True),
    ("sources.store", "write_records", "store", "write_records", True),
    ("sources.store", "read_records", "store", "read_records", True),
    ("sources.store", "read_curve_tables", "store", "read_curves", True),
    ("sources.store", "write_predictions", "store", "write_predictions",
     True),
    ("plans.analyse_gtfs", "prepare_dbitems", "analyse_gtfs",
     "prepare_dbitems", True),
    ("plans.analyse_gtfs", "general_delay_curves", "analyse_gtfs",
     "general_plan", True),
    ("plans.analyse_gtfs", "stop_pair_curve_sets", "analyse_gtfs",
     "specific_plan", True),
    ("plans.analyse_gtfs", "default_curves", "analyse_gtfs", "default_plan",
     True),
    ("plans.scheduled", "scheduled_predictions", "scheduled", "predictions",
     True),
    ("plans.predict", "predict", "predict", "predict", True),
    ("plans.predict", "realtime_basis", "predict", "realtime_basis", True),
    ("plans.predict", "prediction_lookups", "predict", "lookups", True),
    ("plans.predict", "prediction_rows", "predict", "rows", True),
    ("monitor_app", "journey_probabilities", "journey", "probabilities",
     True),
    ("monitor_app", "departure_board", "monitor", "board_plan", True),
    ("monitor_app", "predictions_for_stop", "monitor", "for_stop", True),
    ("monitor_app", "predictions_for_trip", "monitor", "for_trip", True),
    ("monitor_app", "resolve_trip", "monitor", "resolve_trip", True),
    ("monitor_app", "autocomplete_stops", "monitor", "autocomplete", True),
    ("plans.journey", "extended_stops", "monitor", "extended_stops", True),
    ("plans.journey", "predictions_for_trip", "monitor", "for_trip", True),
    ("plans.journey", "resolve_trip", "monitor", "resolve_trip", True),
    ("monitor_app:MonitorApp", "handle", "monitor_app", "handle", True),
    ("monitor_app:MonitorApp", "stop_page", "monitor_app", "stop_page", True),
    ("monitor_app:MonitorApp", "trip_page", "monitor_app", "trip_page", True),
    ("monitor_html", "stop_page_html", "monitor_html", "render", False),
    ("monitor_html", "trip_page_html", "monitor_html", "render", False),
    ("monitor_html", "error_page_html", "monitor_html", "render", False),
    ("monitor_html", "autocomplete_json", "monitor_html", "render", False),
    ("monitor_html", "departure_row_html", "monitor_html", "render", False),
    ("monitor_html", "trip_stop_row_html", "monitor_html", "render", False),
    ("monitor_html", "walk_arrival_row_html", "monitor_html", "render",
     False),
]

# layers whose Spark work is reported as .jobs/.tasks/.shuffle_bytes/
# .spill_bytes.  import_etl, scheduled, predict and monitor are left out:
# they only build lazy DataFrames, so their jobs run in the span of the
# action (the merge, the store writers, the page handler) and theirs
# would read 0 whatever the engine does.
LAYERS = ("gtfs", "import_stream", "store", "analyse_gtfs", "journey",
          "monitor_app")


def _resolve(path: str):
    """'plans.predict' → the module; 'monitor_app:MonitorApp' → the class."""
    mod, _, cls = path.partition(":")
    obj = importlib.import_module(f"{PKG}.{mod}")
    return getattr(obj, cls) if cls else obj


def make_decoder(original, seconds, rows, files, failed):
    """Worker-side wrapper of the GTFS-RT ``decode_partition`` kernel:
    time, rows out, files and failed files go to accumulators.  A file
    fails when ``decode_feed_message`` raises; the kernel skips it."""
    def decode(batches):
        from dystonse_gtfs_importer_spark.sources import gtfs_rt

        inner = gtfs_rt.decode_feed_message

        def counted(data, name):
            files.add(1)
            try:
                return inner(data, name)
            except Exception:
                failed.add(1)
                raise

        gtfs_rt.decode_feed_message = counted
        try:
            for pdf in original(batches_timed(batches)):
                rows.add(len(pdf))
                yield pdf
        finally:
            gtfs_rt.decode_feed_message = inner

    def batches_timed(batches):
        for pdf in batches:
            t = time.perf_counter()
            yield pdf
            seconds.add(time.perf_counter() - t)

    return decode


class NullTracer:
    """The untraced run: phases are marked but nothing is recorded."""

    @contextlib.contextmanager
    def span(self, name: str, layer: str, spark: bool = True, **attrs):
        yield

    @contextlib.contextmanager
    def root(self, name: str, **attrs):
        yield

    @contextlib.contextmanager
    def install(self):
        yield


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.observed: list[tuple[str, Observation]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open_root: dict | None = None
        acc = self.sc.accumulator
        self.decode = {"seconds": acc(0.0), "rows": acc(0), "files": acc(0),
                       "failed": acc(0)}

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str, spark: bool = True, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._open_root
        s = {"id": next(self._ids), "name": name, "layer": layer,
             "parent": parent["id"] if parent else None,
             "root": parent["root"] if parent else None,
             "attrs": attrs, "group": None,
             "thread": threading.get_ident()}
        if s["root"] is None:
            s["root"] = s["id"]
        prev = None
        if spark:
            prev = self.sc.getLocalProperty(GROUP)
            s["group"] = f"perfbench-{s['id']}"
            self.sc.setLocalProperty(GROUP, s["group"])
        stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            if spark:
                self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def root(self, name: str, **attrs):
        with self.span(name, "root", **attrs) as s:
            outer, self._open_root = self._open_root, s
            try:
                yield s
            finally:
                self._open_root = outer

    def _observe(self, label: str, df: DataFrame, *exprs) -> DataFrame:
        obs = Observation(f"perfbench_{label}_{next(self._ids)}")
        self.observed.append((label, obs))
        return df.observe(obs, *exprs)

    # -- wrapping ------------------------------------------------------------

    def _wrapper(self, fn, layer: str, name: str, spark: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._local.__dict__.get("stack") or [None]
            caller = stack[-1]["name"] if stack[-1] else None
            with tracer.span(name, layer, spark):
                out = fn(*args, **kwargs)
            return tracer._count(layer, name, out, caller)
        return traced

    def _count(self, layer: str, name: str, out, caller: str | None):
        """Counters on the DataFrames a layer returns (no extra pass)."""
        n = F.count(F.lit(1)).alias("rows")
        if not isinstance(out, DataFrame):
            return out
        if (layer, name) == ("import_etl", "build_records"):
            return self._observe("etl_out", out, n)
        if (layer, name) == ("analyse_gtfs", "prepare_dbitems"):
            return self._observe("items", out, n)
        if (layer, name) == ("predict", "predict"):
            return self._observe(
                "lookups_" + ("scheduled" if caller == "predictions"
                              else "live"), out, n,
                F.count("prediction_curve").alias("hit"),
                F.sum(F.when(F.col("precision_type") == 1, 1).otherwise(0))
                .alias("specific"))
        return out

    def _curve_writer(self, fn):
        """One child span per curve table: the table's jobs (its whole
        lazy analyse plan) run inside the store writer."""
        tracer = self

        @functools.wraps(fn)
        def write(tables, base, mode="overwrite"):
            with tracer.span("write_curves", "store"):
                for name, df in tables.items():
                    with tracer.span(name, "analyse_gtfs"):
                        fn({name: df}, base, mode=mode)
        return write

    @contextlib.contextmanager
    def install(self):
        """Patch every layer function; restore them on exit."""
        saved = []

        def patch(owner, attr, new):
            saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, new)

        for path, attr, layer, name, spark in WRAPPED:
            owner = _resolve(path)
            fn = owner.__dict__[attr]
            patch(owner, attr, self._wrapper(fn, layer, name, spark))
        store = _resolve("sources.store")
        patch(store, "write_curve_tables",
              self._curve_writer(store.__dict__["write_curve_tables"]))
        stream = _resolve("streaming.import_stream")
        d = self.decode
        patch(stream, "decode_partition", make_decoder(
            stream.__dict__["decode_partition"], d["seconds"], d["rows"],
            d["files"], d["failed"]))
        try:
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    # -- report ----------------------------------------------------------------

    def _spark_work(self) -> dict[int, dict]:
        """Jobs, tasks, shuffle and spill bytes per span id."""
        st = self.sc.statusTracker()
        jvm_store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        seen_stages: set[int] = set()
        out = {}
        for s in self.spans:
            if not s["group"]:
                continue
            w = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
            for job in st.getJobIdsForGroup(s["group"]):
                w["jobs"] += 1
                info = st.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    if sid in seen_stages:
                        continue            # a stage shared by two jobs
                    seen_stages.add(sid)
                    data = jvm_store.stageData(sid, False, no_status, False,
                                               no_quantiles)
                    it = data.iterator()
                    while it.hasNext():
                        d = it.next()
                        if d.status().toString() != "COMPLETE":
                            continue        # skipped: output reused
                        w["tasks"] += d.numCompleteTasks()
                        w["shuffle_bytes"] += d.shuffleWriteBytes()
                        w["spill_bytes"] += (d.memoryBytesSpilled()
                                             + d.diskBytesSpilled())
            out[s["id"]] = w
        return out

    def _observations(self) -> dict[str, dict]:
        tot: dict[str, dict] = defaultdict(lambda: defaultdict(int))
        for label, obs in self.observed:
            if not obs._jo.future().isCompleted():
                continue                    # the DataFrame never ran
            for k, v in obs.get.items():
                tot[label][k] += v or 0
        return tot

    def report(self) -> dict:
        """Self time, jobs and tasks per span; per-layer totals; the
        per-layer metric values.  Call once, after the run."""
        work = self._spark_work()
        by_id = {s["id"]: s for s in self.spans}
        child_cover: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] in by_id and \
                    by_id[s["parent"]]["thread"] == s["thread"]:
                child_cover[s["parent"]] += s["end"] - s["start"]
        rows = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            dur = s["end"] - s["start"]
            rows.append({**{k: s[k] for k in ("id", "name", "layer",
                                               "parent", "root", "attrs")},
                         "start": s["start"], "end": s["end"], "dur_s": dur,
                         "self_s": dur - child_cover[s["id"]],
                         **work.get(s["id"], {})})
        self.rows = rows
        self.obs = self._observations()
        return {"spans": rows, "observed": self.obs,
                "decode": {k: a.value for k, a in self.decode.items()}}

    def metrics(self, w) -> dict[str, tuple[float, str]]:
        """The per-layer metrics of BENCHMARK.json (call after report)."""
        rows, obs = self.rows, self.obs
        roots = [r for r in rows if r["layer"] == "root"]

        def total(layer, name=None, key="dur_s"):
            return sum(r.get(key, 0) for r in rows if r["layer"] == layer
                       and (name is None or r["name"] == name))

        requests = [r for r in roots if r["name"] == "request"]

        def per_request(select, key="dur_s") -> float:
            """Median over the requests that ran a selected span."""
            vals = []
            for q in requests:
                hit = [r for r in rows if r["root"] == q["id"] and select(r)]
                if hit:
                    vals.append(sum(r.get(key, 0) for r in hit))
            return statistics.median(vals) if vals else 0.0

        def phase(name) -> float:
            return sum(r["dur_s"] for r in rows
                       if r["layer"] == "phase" and r["name"] == name)

        d = self.decode
        etl_in = d["rows"].value
        etl_out = obs["etl_out"]["rows"]
        sched, live_p = obs["lookups_scheduled"], obs["lookups_live"]
        lookups = sched["rows"] + live_p["rows"]
        live = getattr(w, "live_batches", [])

        def batch_ms(key):
            vals = [b.get(key, 0) for b in live]
            return statistics.median(vals) if vals else 0.0

        m = {
            "gtfs_rt.decode_s": (d["seconds"].value, "s"),
            "gtfs_rt.rows_out": (etl_in, "count"),
            "gtfs_rt.failed_files": (d["failed"].value, "count"),
            "import_etl.build_records_s": (
                total("import_etl", "build_records"), "s"),
            "import_etl.rows_in": (etl_in, "count"),
            "import_etl.rows_out": (etl_out, "count"),
            "import_etl.kept_ratio": (etl_out / etl_in if etl_in else 0.0,
                                      "ratio"),
            "import_etl.latest_wins_s": (
                total("import_etl", "latest_wins"), "s"),
            # every new record either lands in the feed day's partition
            # (empty before the run) or is superseded by a newer report
            "import_etl.superseded_rows": (
                etl_out - w.notes.get("got_rows", etl_out), "count"),
            "import_stream.merge_s": (total("import_stream", "merge"), "s"),
            "import_stream.latest_offset_ms": (batch_ms("latestOffset"),
                                               "ms"),
            "import_stream.add_batch_ms": (batch_ms("addBatch"), "ms"),
            "import_stream.query_planning_ms": (batch_ms("queryPlanning"),
                                                "ms"),
            "import_stream.wal_commit_ms": (batch_ms("walCommit"), "ms"),
            "store.write_records_s": (total("store", "write_records"), "s"),
            "store.records_files": (w.output_files("records"), "count"),
            "store.write_curves_s": (total("store", "write_curves"), "s"),
            "store.write_predictions_s": (
                total("store", "write_predictions"), "s"),
            "store.predictions_bytes": (w.output_bytes("predictions"),
                                        "bytes"),
            "analyse_gtfs.prepare_dbitems_s": (
                total("analyse_gtfs", "prepare_dbitems"), "s"),
            "analyse_gtfs.general_s": (
                total("analyse_gtfs", "general")
                + total("analyse_gtfs", "general_plan"), "s"),
            "analyse_gtfs.specific_s": (
                total("analyse_gtfs", "specific")
                + total("analyse_gtfs", "specific_plan"), "s"),
            "analyse_gtfs.default_s": (
                total("analyse_gtfs", "default")
                + total("analyse_gtfs", "default_plan"), "s"),
            "analyse_gtfs.items_rows": (obs["items"]["rows"], "count"),
            "analyse_gtfs.curve_rows": (w.curve_rows(), "count"),
            "scheduled.lookups": (sched["rows"], "count"),
            "scheduled.predictions_s": (phase("scheduled"), "s"),
            "predict.live_s": (phase("live"), "s"),
            "predict.hit_ratio": (
                (sched["hit"] + live_p["hit"]) / lookups if lookups else 0.0,
                "ratio"),
            "predict.specific_ratio": (
                (sched["specific"] + live_p["specific"]) / lookups
                if lookups else 0.0, "ratio"),
            "monitor_app.handle_ms": (1000 * per_request(
                lambda r: r["layer"] == "monitor_app"
                and r["name"] == "handle"), "ms"),
            "http.overhead_ms": (1000 * statistics.median(
                [q["dur_s"] - sum(r["dur_s"] for r in rows
                                  if r["root"] == q["id"]
                                  and r["name"] == "handle")
                 for q in requests]) if requests else 0.0, "ms"),
            "journey.probabilities_ms": (1000 * per_request(
                lambda r: r["layer"] == "journey"), "ms"),
            "monitor.board_ms": (1000 * per_request(
                lambda r: r["name"] == "stop_page", key="self_s"), "ms"),
            "monitor_html.render_ms": (1000 * per_request(
                lambda r: r["layer"] == "monitor_html"), "ms"),
            "monitor.jobs_per_request": (per_request(
                lambda r: True, key="jobs"), "count"),
        }
        for layer in LAYERS:
            for key, unit in (("jobs", "count"), ("tasks", "count"),
                              ("shuffle_bytes", "bytes"),
                              ("spill_bytes", "bytes")):
                m[f"{layer}.{key}"] = (total(layer, key=key), unit)
        return m
