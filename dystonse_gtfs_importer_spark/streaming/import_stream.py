"""Structured-Streaming import (ST1-ST5).

The reference's ``import automatic`` polls a directory every 5 s,
processes new files with a rayon pool, and moves them to imported/ or
failed/ (/root/reference/src/importer/mod.rs:30,295-359).  That is
precisely Spark's file streaming source:

* ST1  micro-batch file ingestion → ``readStream.format("binaryFile")``
       with ``trigger(processingTime='5 seconds')`` (or availableNow
       for drain-the-backlog runs); ``cleanSource=archive`` replaces
       the imported/ move (S18).
* ST2  per-vehicle prediction-basis dedup with 12 h state TTL
       (importer/mod.rs:42, per_schedule_importer.rs:266-313)
       → ``applyInPandasWithState`` keyed by VehicleIdentifier.
* ST3  late data → latest-wins merge inside ``foreachBatch`` (W2).
* ST5  retention → ``cleanup_predictions`` filter, the Delta-DELETE
       equivalent on plain parquet.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import sql_shared as SQL
from ..schemas import ORIGIN_SCHEDULE, RT_EVENTS
from ..sources.gtfs_rt import decode_partition

BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary")

VEHICLE_KEY = ["trip_id", "start_date", "start_time"]


def stream_rt_events(spark: SparkSession, rt_dir: str,
                     pattern: str = "*.pb",
                     archive_dir: str | None = None,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """ST1: streaming RT_EVENTS from a feed-dump directory."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", pattern)
    )
    if archive_dir is not None:
        reader = (reader.option("cleanSource", "archive")
                  .option("sourceArchiveDir", archive_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    binary = reader.load(rt_dir).select("path", "content")
    return binary.mapInPandas(decode_partition, RT_EVENTS)


def _dedup_basis_batch(df: pd.DataFrame, last: tuple | None,
                       cols: list[str]):
    """Shared ST2 kernel: drop rows whose basis (stop_sequence,
    departure_delay) equals the previous row's, the first row checked
    against the carried cross-batch basis.  A vectorized shift-compare
    is equivalent to the reference's sequential walk because every
    dropped row's basis EQUALS the carried state, so the carried state
    is always the previous row's basis
    (per_schedule_importer.rs:266-313); null-safe equality treats
    (NaN == NaN) as a match.  Returns (kept rows, new carried basis)."""
    df = df.sort_values(["header_timestamp", "stop_sequence"],
                        ignore_index=True)
    ss, dd = df["stop_sequence"], df["departure_delay"]
    same_prev = ((ss.eq(ss.shift()) | (ss.isna() & ss.shift().isna()))
                 & (dd.eq(dd.shift()) | (dd.isna() & dd.shift().isna())))
    keep = ~same_prev

    def basis_at(i: int):
        return (None if pd.isna(ss.iloc[i]) else int(ss.iloc[i]),
                None if pd.isna(dd.iloc[i]) else int(dd.iloc[i]))

    keep.iloc[0] = last is None or basis_at(0) != last
    return df.loc[keep, cols], basis_at(len(df) - 1)


def dedup_prediction_basis(events: DataFrame,
                           ttl_hours: int = 12) -> DataFrame:
    """ST2: drop events whose PredictionBasis (stop_sequence,
    departure_delay) equals the vehicle's previously-seen basis; state
    expires after ``ttl_hours`` (MAX_ESTIMATED_TRIP_DURATION,
    importer/mod.rs:27)."""
    state_schema = "stop_sequence int, departure_delay int"

    def dedup(key, pdfs: Iterator[pd.DataFrame], state: GroupState
              ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last = tuple(state.get) if state.exists else None
        cols = [f.name for f in RT_EVENTS.fields]
        frames = list(pdfs)
        df = (pd.concat(frames, ignore_index=True) if frames
              else pd.DataFrame(columns=cols))
        if df.empty:
            yield pd.DataFrame(columns=cols)
            return
        kept, new_basis = _dedup_basis_batch(df, last, cols)
        state.update(new_basis)
        state.setTimeoutDuration(ttl_hours * 3600 * 1000)
        yield kept

    return (
        events.groupBy(*VEHICLE_KEY)
        .applyInPandasWithState(
            dedup,
            outputStructType=RT_EVENTS,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


class Pinger:
    """S21: GET a liveness URL at most once per minute after each
    import iteration (ping_url, importer/mod.rs:268-292).  A pure
    driver-side side-effect — never ships to executors.  ``http_get``
    and ``clock`` are injectable so tests (and offline runs) need no
    network; failures are swallowed like the reference's
    ``let _ = reqwest::…``."""

    def __init__(self, url: str, min_interval_s: float = 60.0,
                 http_get=None, clock=None):
        import time as _time

        def _default_get(u: str) -> None:
            import urllib.request
            urllib.request.urlopen(u, timeout=10).close()

        self.url = url
        self.min_interval_s = min_interval_s
        self.http_get = http_get or _default_get
        self.clock = clock or _time.monotonic
        self._last: float | None = None

    def ping(self) -> bool:
        """Fire if the rate limit allows; returns whether it fired."""
        now = self.clock()
        if self._last is not None and now - self._last < self.min_interval_s:
            return False
        self._last = now
        try:
            self.http_get(self.url)
        except Exception:  # noqa: BLE001 — liveness ping must never fail the batch
            pass
        return True


def merge_batch_overwrite(spark: SparkSession, recs: DataFrame,
                          records_dir: str, source: str) -> bool:
    """One partition-scoped latest-wins merge published by
    ``store.write_records`` (dynamic partition overwrite) — only the
    (source, trip_start_date) partitions present in the batch are read
    back, merged, and rewritten: O(touched partitions) per batch, not
    O(table).  Logically replay-idempotent (latest-wins over the same
    rows), but NOT snapshot-atomic across partitions for concurrent
    readers."""
    from pathlib import Path

    from ..plans.import_etl import latest_wins_merge
    from ..sources.store import write_records

    touched = [r.trip_start_date for r in
               recs.select("trip_start_date").distinct().collect()]
    if not touched:
        return False
    existing = None
    if Path(records_dir).exists():
        existing = (
            spark.read.parquet(records_dir)
            # partition-pruned scan: only touched partitions
            .where((F.col("source") == source)
                   & F.col("trip_start_date").isin(touched)))
    write_records(latest_wins_merge(recs, existing=existing), records_dir)
    return True


def run_import_stream(
    spark: SparkSession,
    rt_dir: str,
    trips: DataFrame,
    stop_times: DataFrame,
    source: str,
    schedule_file_name: str,
    records_dir: str,
    checkpoint_dir: str,
    dedup_basis: bool = False,
    trigger: dict | None = None,
    pinger: Pinger | None = None,
):
    """The full streaming import: files → decode → (optional ST2 dedup)
    → records ETL → latest-wins merge into a parquet records table
    partitioned by (source, trip_start_date).

    Each micro-batch is one partition-scoped merge published by
    dynamic partition overwrite (:func:`merge_batch_overwrite`); on a
    cluster with a table format it becomes a Delta/Iceberg MERGE (the
    reference upserts per-row into MySQL, importer/mod.rs:579-611).
    """
    from ..plans.import_etl import build_records

    events = stream_rt_events(spark, rt_dir)
    if dedup_basis:
        events = dedup_prediction_basis(events)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        recs = build_records(batch_df, trips, stop_times,
                             source, schedule_file_name).cache()
        try:
            merge_batch_overwrite(spark, recs, records_dir, source)
        finally:
            recs.unpersist()
            if pinger is not None:
                pinger.ping()

    writer = events.writeStream.foreachBatch(sink) \
        .option("checkpointLocation", checkpoint_dir)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def _trip_start_s():
    """Epoch seconds of a prediction row's trip start (C1 noon rule)."""
    return F.unix_timestamp(F.expr(SQL.gtfs_noon_datetime(
        "trip_start_date", "trip_start_time")))


def remove_outdated_predictions(predictions: DataFrame, source: str,
                                current_schedule: str,
                                window_end) -> DataFrame:
    """ST5/S15: drop SCHEDULE-origin predictions of this ``source``
    written from an OLDER schedule file whose trip STARTS before
    ``window_end`` — they were superseded by regeneration from the
    current schedule (delete_outdated_predictions,
    /root/reference/src/importer/scheduled_predictions_importer.rs:244-265:
    ``source = :source AND trip_start < :end AND schedule_file_name !=
    :current AND origin_type = Schedule``).  Realtime-origin rows and
    other sources are never touched."""
    outdated = (
        (F.col("source") == source)
        & (F.col("origin_type") == ORIGIN_SCHEDULE)
        & (F.col("schedule_file_name") != current_schedule)
        & (_trip_start_s() < F.unix_timestamp(F.lit(window_end)))
    )
    return predictions.where(~outdated)


def cleanup_predictions(predictions: DataFrame, now_ts,
                        max_age_hours: int = 12) -> DataFrame:
    """ST5/S14: retain only predictions whose trip started less than
    ``max_age_hours`` before ``now_ts`` (run_cleanup,
    importer/mod.rs:174-223) — the anti-filter rewrite of DELETE."""
    cutoff = F.unix_timestamp(F.lit(now_ts)) - max_age_hours * 3600
    return predictions.where(_trip_start_s() >= cutoff)
