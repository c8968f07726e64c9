"""Snapshot-atomic publish (sources/snapshot.py) and replay
idempotence of the streaming latest-wins merge.

The invariants under test:
* a reader NEVER observes a half-published multi-partition batch —
  the only mutation point is the single atomic manifest replace;
* a crash after data-file staging but before the manifest publish
  leaves the table exactly at the previous snapshot, and the retry
  completes the commit;
* re-applying an already-committed batch_id is a byte-identical no-op
  (micro-batch replay safety, batched_statements.rs retry semantics);
* readers holding the previous manifest keep a consistent view until
  vacuum.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from dystonse_gtfs_importer_spark.sources.snapshot import SnapshotStore
from dystonse_gtfs_importer_spark.streaming.import_stream import (
    merge_batch_overwrite,
)

PART_COLS = ["source", "trip_start_date"]


def _recs(spark, rows):
    """Minimal records frames: (trip_start_date, stop_sequence, delay,
    recorded_epoch) with constant PK remainder."""
    return spark.createDataFrame(
        [("test", "R1", "R1v1", "TR1", d, 28800, seq, f"S{seq}",
          dt.datetime(2024, 1, 1, 8, 0, 0)
          + dt.timedelta(seconds=rec), float(delay), float(delay), "sched")
         for d, seq, delay, rec in rows],
        "source string, route_id string, route_variant string, "
        "trip_id string, trip_start_date string, trip_start_time int, "
        "stop_sequence int, stop_id string, time_of_recording timestamp, "
        "delay_arrival double, delay_departure double, "
        "schedule_file_name string")


def _state(store, spark):
    df = store.read(spark)
    if df is None:
        return set()
    # partition-type inference reads the hive dir value as DATE (same
    # as spark.read.parquet on the overwrite layout) — normalize
    return {(str(r.trip_start_date), r.stop_sequence, r.delay_arrival)
            for r in df.collect()}


class TestSnapshotStore:
    def test_commit_and_manifest_read(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path / "t"), PART_COLS)
        assert store.read(spark) is None
        store.commit(_recs(spark, [
            ("2024-01-01", 1, 60, 0), ("2024-01-02", 1, 70, 0)]),
            batch_id=0)
        assert _state(store, spark) == {
            ("2024-01-01", 1, 60.0), ("2024-01-02", 1, 70.0)}
        # manifest-level partition pruning reads only matching files
        d1 = store.read_partitions(spark, source="test",
                                   trip_start_date=["2024-01-01"])
        assert [str(r.trip_start_date)
                for r in d1.collect()] == ["2024-01-01"]

    def test_crash_between_stage_and_publish_is_invisible(
            self, spark, tmp_path, monkeypatch):
        """Interleaved reader: kill the commit AFTER data files moved
        into data/ but BEFORE the manifest replace — every read still
        sees exactly the old snapshot (never a mix), and the retry
        lands the full batch."""
        store = SnapshotStore(str(tmp_path / "t"), PART_COLS)
        store.commit(_recs(spark, [
            ("2024-01-01", 1, 60, 0), ("2024-01-02", 1, 70, 0)]),
            batch_id=0)
        old = _state(store, spark)
        old_manifest = (Path(store.root) / "MANIFEST").read_text()

        boom = RuntimeError("crash before publish")
        monkeypatch.setattr(
            SnapshotStore, "_publish",
            lambda self, m: (_ for _ in ()).throw(boom))
        # the new full content of both partitions
        batch2 = _recs(spark, [("2024-01-01", 1, 90, 120),
                               ("2024-01-02", 1, 70, 0),
                               ("2024-01-02", 2, 80, 120)])
        with pytest.raises(RuntimeError):
            store.commit(batch2, batch_id=1)
        # staged files are on disk, but the table is byte-for-byte the
        # old snapshot: manifest untouched, reads see only old rows
        assert (Path(store.root) / "MANIFEST").read_text() == old_manifest
        assert _state(store, spark) == old

        monkeypatch.undo()
        assert store.commit(batch2, batch_id=1)
        assert _state(store, spark) == {
            ("2024-01-01", 1, 90.0),
            ("2024-01-02", 1, 70.0), ("2024-01-02", 2, 80.0)}

    def test_old_manifest_holders_keep_consistent_view(self, spark,
                                                       tmp_path):
        """Snapshot isolation: a reader that resolved the file list
        before a commit still reads the complete old snapshot after
        it (replaced files are retained until vacuum)."""
        store = SnapshotStore(str(tmp_path / "t"), PART_COLS)
        store.commit(_recs(spark, [
            ("2024-01-01", 1, 60, 0), ("2024-01-02", 1, 70, 0)]),
            batch_id=0)
        old_files = store._files()
        store.commit(_recs(spark, [("2024-01-01", 1, 90, 120)]),
                     batch_id=1)
        held = (spark.read.option("basePath", str(store.data_dir))
                .parquet(*old_files))
        assert {(str(r.trip_start_date), r.delay_arrival)
                for r in held.collect()} == {
            ("2024-01-01", 60.0), ("2024-01-02", 70.0)}
        # default grace protects young files (a concurrent commit may
        # have moved them into data/ before publishing its manifest)
        assert store.vacuum() == 0
        # with no writer active, grace 0 drops exactly the files only
        # the old snapshot used
        assert store.vacuum(grace_s=0) == 1
        assert _state(store, spark) == {
            ("2024-01-01", 1, 90.0), ("2024-01-02", 1, 70.0)}

    def test_replay_same_batch_id_is_byte_identical_noop(self, spark,
                                                         tmp_path):
        """ST3 crash-replay: foreachBatch re-delivers a batch whose
        sink already committed (sink crashed after commit, before the
        checkpoint advanced).  The second application must change
        NOTHING — same manifest bytes, same data files."""
        store = SnapshotStore(str(tmp_path / "t"), PART_COLS)
        batch = _recs(spark, [("2024-01-01", 1, 60, 0),
                              ("2024-01-02", 1, 70, 0)])
        assert store.commit(batch, batch_id=7)
        manifest = (Path(store.root) / "MANIFEST").read_bytes()
        files = {p: p.read_bytes()
                 for p in Path(store.data_dir).rglob("*.parquet")}

        assert not store.commit(batch, batch_id=7)  # replayed
        assert (Path(store.root) / "MANIFEST").read_bytes() == manifest
        assert {p: p.read_bytes()
                for p in Path(store.data_dir).rglob("*.parquet")} == files

    def test_next_batch_id_still_merges(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path / "t"), PART_COLS)
        store.commit(_recs(spark, [("2024-01-01", 1, 60, 0)]), batch_id=0)
        # same data under a NEW batch id: a new version, same content
        assert store.commit(_recs(spark, [("2024-01-01", 1, 60, 0)]),
                            batch_id=1)
        assert _state(store, spark) == {("2024-01-01", 1, 60.0)}
        assert json.loads((Path(store.root) / "MANIFEST")
                          .read_text())["version"] == 2


class TestOverwriteReplay:
    def test_overwrite_replay_is_logically_idempotent(self, spark,
                                                      tmp_path):
        """The plain dynamic-overwrite path: applying the identical
        batch twice equals applying it once (latest-wins over
        re-reported identical observations)."""
        records_dir = str(tmp_path / "records")
        batch = _recs(spark, [("2024-01-01", 1, 60, 0),
                              ("2024-01-02", 1, 70, 0)])
        merge_batch_overwrite(spark, batch, records_dir, "test")
        once = sorted(
            map(tuple, spark.read.parquet(records_dir)
                .drop("source", "trip_start_date").collect()))
        merge_batch_overwrite(spark, batch, records_dir, "test")
        twice = sorted(
            map(tuple, spark.read.parquet(records_dir)
                .drop("source", "trip_start_date").collect()))
        assert once == twice
