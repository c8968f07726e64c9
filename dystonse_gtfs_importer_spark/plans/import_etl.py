"""The import ETL: GTFS-RT events ⋈ schedule → records (SURVEY §3.1).

Re-expresses /root/reference/src/importer/per_schedule_importer.rs as
one declarative pipeline:

* J1 trip lookup       rt.join(broadcast(trips), trip_id)        :161-162
* J2 stop_times match  join on (trip_id, stop_sequence)          :386-393
* F4 null-delay skip   at least one delay present                :375-384
* C3 trip descriptor   start_date yyyyMMdd + H:MM:SS → (date, s) gtfs_time.rs:22-46
* W2 latest-wins       newest time_of_recording per PK           :406-421

The rayon thread pools over files/entities become partition
parallelism; BatchedStatements + MySQL upsert become
``latest_wins_merge`` + an idempotent partition-overwrite sink.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ..schemas import RECORDS_PK


def parse_trip_descriptor(rt: DataFrame) -> DataFrame:
    """C3: start_date 'yyyyMMdd' → DateType; start_time 'H:MM:SS'
    (hours may exceed 24) → seconds int."""
    t = F.split(F.col("start_time"), ":")
    return rt.withColumn(
        "trip_start_date", F.to_date("start_date", "yyyyMMdd")
    ).withColumn(
        "trip_start_time",
        t.getItem(0).cast("int") * 3600
        + t.getItem(1).cast("int") * 60
        + t.getItem(2).cast("int"),
    )


def build_records(
    rt_events: DataFrame,
    trips: DataFrame,
    stop_times: DataFrame,
    source: str,
    schedule_file_name: str,
) -> DataFrame:
    """Flattened stop_time_update events → records rows.

    Unmatched trip_ids (J1) and stop_sequences missing from the
    schedule (J2, get_event_times' skip path) are dropped, as are
    events carrying no delay at all (F4).  The schedule side is
    broadcast: it is a dimension table (a whole national GTFS is
    ~100 MB) while rt_events is the 100 TB fact stream — never
    shuffle the fact side for this join.
    """
    sched = trips.select("trip_id", "route_id", "route_variant")
    st = stop_times.select(
        "trip_id", "stop_sequence",
        F.col("arrival_secs").alias("sched_arrival_secs"),
        F.col("departure_secs").alias("sched_departure_secs"),
    )

    rt = parse_trip_descriptor(rt_events)
    joined = (
        rt.drop("route_id")  # schedule's route_id is authoritative
        .join(F.broadcast(sched), "trip_id")                      # J1
        .join(F.broadcast(st), ["trip_id", "stop_sequence"])      # J2
        .where(
            F.col("arrival_delay").isNotNull()
            | F.col("departure_delay").isNotNull()                # F4
        )
        # the reference skips updates whose trip descriptor lacks a
        # parseable start (GtfsDateTime::from_trip_descriptor errors,
        # per_schedule_importer.rs:159); a null vehicle key would also
        # poison the (source, trip_start_date) partition layout
        .where(F.col("trip_start_date").isNotNull()
               & F.col("trip_start_time").isNotNull())
    )

    return joined.select(
        F.lit(source).alias("source"),
        "route_id",
        "route_variant",
        "trip_id",
        "trip_start_date",
        "trip_start_time",
        "stop_sequence",
        "stop_id",
        F.timestamp_seconds("header_timestamp").alias("time_of_recording"),
        F.col("arrival_delay").alias("delay_arrival"),
        F.col("departure_delay").alias("delay_departure"),
        F.lit(schedule_file_name).alias("schedule_file_name"),
    )


def latest_wins_merge(records: DataFrame,
                      existing: DataFrame | None = None) -> DataFrame:
    """W2/S12: upsert semantics — newest ``time_of_recording`` wins per
    logical PK.  With ``existing`` given, merges new data into the
    stored table (the UPDATE-guard + INSERT IGNORE pattern); ties
    break toward the existing/first-seen row via a stable secondary
    key, keeping the merge idempotent and commutative under file
    reordering (ST3)."""
    df = records if existing is None else existing.unionByName(records)
    # determinism rests on (PK, time_of_recording, schedule_file_name)
    # identifying one observation — re-reports of the same observation
    # carry identical payloads (pinned by the property tests)
    w = (
        Window.partitionBy(*[F.col(c) for c in RECORDS_PK])
        .orderBy(F.col("time_of_recording").desc(),
                 F.col("schedule_file_name").asc())
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )

