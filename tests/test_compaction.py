"""The records writer (sources/store.py::write_records) and small-file
compaction (compact_partitions): every path that writes records leaves
sorted files; compaction leaves fewer files, identical rows, and
untouched partitions' files preserved."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pytest


def _data_files(path: Path) -> list[Path]:
    return sorted(p for p in path.rglob("*.parquet")
                  if not p.name.startswith("_"))


@pytest.fixture()
def fragmented(spark, tmp_path):
    rows = []
    for day in ("2024-01-01", "2024-01-02"):
        for t in range(6):
            for stop in range(10):
                rows.append(("vbn", "R1", 1, f"T{t}",
                             dt.date.fromisoformat(day), 28800, stop,
                             f"S{stop}",
                             dt.datetime(2024, 1, 1, 8, t), 60.0, 70.0,
                             "sched"))
    schema = ("source string, route_id string, route_variant long, "
              "trip_id string, trip_start_date date, trip_start_time int, "
              "stop_sequence int, stop_id string, "
              "time_of_recording timestamp, delay_arrival double, "
              "delay_departure double, schedule_file_name string")
    df = spark.createDataFrame(rows, schema)
    path = tmp_path / "records"
    # 6 separate appends → many small files per partition
    for t in range(6):
        (df.where(f"trip_id = 'T{t}'").repartition(4)
         .write.mode("append").partitionBy("source", "trip_start_date")
         .parquet(str(path)))
    return path


def test_compaction_shrinks_files_keeps_rows(spark, fragmented):
    from dystonse_gtfs_importer_spark.sources.store import (
        compact_partitions,
    )

    before_files = _data_files(fragmented)
    before_rows = sorted(map(tuple, spark.read.parquet(
        str(fragmented)).collect()))
    assert len(before_files) > 10

    n = compact_partitions(spark, str(fragmented))
    assert n == len(before_rows)

    after_files = _data_files(fragmented)
    after_rows = sorted(map(tuple, spark.read.parquet(
        str(fragmented)).collect()))
    assert after_rows == before_rows
    assert len(after_files) < len(before_files)


def test_compaction_scopes_to_named_partitions(spark, fragmented):
    from dystonse_gtfs_importer_spark.sources.store import (
        compact_partitions,
    )

    day2 = fragmented / "source=vbn" / "trip_start_date=2024-01-02"
    untouched_before = {(p.name, p.stat().st_mtime)
                        for p in _data_files(day2)}
    compact_partitions(spark, str(fragmented),
                       partition_values=["2024-01-01"])
    untouched_after = {(p.name, p.stat().st_mtime)
                       for p in _data_files(day2)}
    assert untouched_before == untouched_after
    day1 = fragmented / "source=vbn" / "trip_start_date=2024-01-01"
    assert len(_data_files(day1)) < 24


def _rewrite(spark, path: Path) -> Path:
    from dystonse_gtfs_importer_spark.sources.store import write_records

    out = path.with_name("rewritten")
    write_records(spark.read.parquet(str(path)), str(out))
    return out


def _merge(spark, path: Path) -> Path:
    import pyspark.sql.functions as F

    from dystonse_gtfs_importer_spark.streaming.import_stream import (
        merge_batch_overwrite,
    )

    # later reports of two trips on both days
    batch = (spark.read.parquet(str(path))
             .where(F.col("trip_id").isin("T1", "T4"))
             .withColumn("time_of_recording",
                         F.col("time_of_recording")
                         + F.expr("INTERVAL 1 HOUR"))
             .withColumn("delay_arrival", F.col("delay_arrival") + 30)
             .localCheckpoint())
    merge_batch_overwrite(spark, batch, str(path), "vbn")
    return path


def _compact(spark, path: Path) -> Path:
    from dystonse_gtfs_importer_spark.sources.store import (
        compact_partitions,
    )

    compact_partitions(spark, str(path))
    return path


@pytest.mark.parametrize("write", [_rewrite, _merge, _compact],
                         ids=["write_records", "merge", "compact"])
def test_records_files_sorted_by_route_trip_stop(spark, fragmented, write):
    import pyarrow.parquet as pq

    key = ["route_id", "route_variant", "trip_id", "stop_sequence"]
    n = spark.read.parquet(str(fragmented)).count()
    # keep every shuffle partition upstream of the write, as a larger
    # table would: the files must be sorted however the rows arrive
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        out = write(spark, fragmented)
    finally:
        spark.conf.set(coalesce, prev)
    files = _data_files(out)
    assert files and spark.read.parquet(str(out)).count() == n
    for f in files:
        rows = pq.read_table(f, columns=key).to_pylist()
        keys = [tuple(r[c] for c in key) for r in rows]
        assert keys == sorted(keys), f
