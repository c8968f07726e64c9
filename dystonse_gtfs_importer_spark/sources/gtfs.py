"""GTFS static schedule reader (S1).

The reference loads a GTFS zip/dir through ``gtfs_structures::Gtfs``
into an in-memory object graph (/root/reference/src/main.rs:399-404);
here each GTFS file is one DataFrame (trips + stop_times joined where
the reference nests them) read with explicit schemas — schema-on-read,
column-pruned, and broadcastable as dimension tables.
"""

from __future__ import annotations

import csv
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window

from ..schemas import GTFS_OPTIONAL_FILES, GTFS_SCHEMAS


def gtfs_seconds(col: str) -> F.Column:
    """Parse GTFS H:MM:SS / HH:MM:SS (hours may exceed 24, e.g.
    '27:00:00') into seconds since service-day start
    (/root/reference/src/types/gtfs_time.rs:31-45)."""
    parts = F.split(F.col(col), ":")
    return (
        parts.getItem(0).cast("int") * 3600
        + parts.getItem(1).cast("int") * 60
        + parts.getItem(2).cast("int")
    ).alias(col.replace("_time", "_secs"))


def _empty(spark: SparkSession, schema) -> DataFrame:
    """A typed frame without rows: ``limit(0)`` optimizes to an empty
    ``LocalRelation``, so it scans nothing and needs no Python worker."""
    return spark.range(1).select([
        F.lit(None).cast(fl.dataType).alias(fl.name) for fl in schema.fields
    ]).limit(0)


def _csv_header(f: str, case_sensitive: bool) -> list[str]:
    """The column names Spark's CSV reader takes from ``f``'s header,
    read on the driver: blank lines before it are skipped, a UTF-8 BOM
    is stripped, an empty name becomes ``_c<i>`` and a duplicated one
    gains its position as suffix."""
    with open(f, newline="", encoding="utf-8-sig", errors="replace") as fh:
        row = next((r for r in csv.reader(fh) if "".join(r).strip()), [])
    fold = (lambda s: s) if case_sensitive else str.lower
    names = [fold(v) for v in row if v]
    dup = {n for n in names if names.count(n) > 1}
    return [f"_c{i}" if not v else f"{v}{i}" if fold(v) in dup else v
            for i, v in enumerate(row)]


def _read_named(spark: SparkSession, path: str, name: str, schema):
    """Read one GTFS file mapping columns BY HEADER NAME (real feeds
    order columns arbitrarily and omit optional ones): absent columns
    become typed nulls, extra columns are dropped.  Returns the frame
    plus the set of header names actually present.

    The header is read on the driver and passed as an all-string
    schema, so the read plans without a Spark job."""
    f = f"{path}/{name}.txt"
    if not os.path.exists(f):
        if name in GTFS_OPTIONAL_FILES:
            return _empty(spark, schema), frozenset()
        raise FileNotFoundError(f"required GTFS file missing: {f}")
    header = _csv_header(
        f, spark.conf.get("spark.sql.caseSensitive") == "true")
    if not header:
        return _empty(spark, schema), frozenset()
    raw = spark.read.csv(f, header=True, schema=StructType(
        [StructField(c, StringType()) for c in header]))
    present = frozenset(header)
    cols = [
        (F.col(fl.name).cast(fl.dataType) if fl.name in present
         else F.lit(None).cast(fl.dataType)).alias(fl.name)
        for fl in schema.fields
    ]
    return raw.select(cols), present


def _maybe_unzip(path: str) -> str:
    """Accept a GTFS .zip like the reference's gtfs_structures loader
    (main.rs:399-404): extract driver-side (the static schedule is a
    dimension, MBs not TBs) and return the directory, handling the
    common single-top-level-folder zip layout."""
    import tempfile
    import zipfile

    if not (path.endswith(".zip") and os.path.isfile(path)):
        return path
    tmp = tempfile.mkdtemp(prefix="gtfs_zip_")
    with zipfile.ZipFile(path) as z:
        z.extractall(tmp)
    entries = os.listdir(tmp)
    if "stop_times.txt" not in entries and len(entries) == 1 \
            and os.path.isdir(os.path.join(tmp, entries[0])):
        return os.path.join(tmp, entries[0])
    return tmp


def read_gtfs(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Read a GTFS directory or .zip (one CSV per file), header-name
    mapped to the explicit schemas.  ``stop_times`` gains
    ``arrival_secs`` / ``departure_secs`` int columns; raw HH:MM:SS
    strings are retained.  When trips.txt lacks the non-standard
    ``route_variant`` column (every vanilla feed), it is derived from
    the trip's ordered stop sequence exactly as the reference's forked
    gtfs-structures groups trips (dystonse-gtfs-structures
    Trip::route_variant).

    Like the reference's in-memory ``Gtfs``, the schedule is parsed
    once: every frame read from a file is cached (lazily, so loading
    runs no Spark job) and consumers share it instead of re-parsing
    the CSVs.  A new load of a path first refreshes what an earlier
    load of it cached, so it never serves stale rows."""
    path = _maybe_unzip(path)
    spark.catalog.refreshByPath(path)
    out: dict[str, DataFrame] = {}
    headers: dict[str, frozenset] = {}
    for name, schema in GTFS_SCHEMAS.items():
        out[name], headers[name] = _read_named(spark, path, name, schema)
    st = out["stop_times"].withColumn(
        "arrival_secs", gtfs_seconds("arrival_time")
    ).withColumn("departure_secs", gtfs_seconds("departure_time")).cache()
    if "route_variant" not in headers["trips"]:
        out["trips"] = with_derived_route_variants(out["trips"], st)
    # absent files are empty LocalRelations already
    return {name: st if name == "stop_times"
            else df.cache() if headers[name] else df
            for name, df in out.items()}


def with_derived_route_variants(trips: DataFrame,
                                stop_times: DataFrame) -> DataFrame:
    """Derive ``route_variant`` as a stable 64-bit hash of the trip's
    ordered stop_id list: trips sharing one stop sequence share one
    variant — the grouping semantics of the reference's forked
    gtfs-structures (which computes route_variant from the stop
    sequence when ingesting a feed).

    One shuffle of stop_times by trip_id; the signature join against
    trips is dimension-sized."""
    sig = (
        stop_times.groupBy("trip_id")
        .agg(F.concat_ws("|", F.expr(
            "transform(array_sort(collect_list("
            "struct(stop_sequence, stop_id))), x -> x.stop_id)"
        )).alias("_stop_sig"))
        .select("trip_id",
                F.xxhash64("_stop_sig").alias("route_variant"))
    )
    return trips.drop("route_variant").join(sig, "trip_id", "left")


def variant_stops(trips: DataFrame, stop_times: DataFrame) -> DataFrame:
    """Per (route_id, route_variant): the ordered stop list of one
    representative trip (deterministically the min trip_id), with
    0-based ``stop_index`` positions — the variant stop geometry the
    reference takes from its first matching trip
    (/root/reference/src/analyser/specific_curves.rs:122-127).

    Small dimension output (#variants × stops) — broadcast it.  Cached:
    the scheduled and live prediction plans and ``prepare_dbitems`` all
    read it, and would otherwise each re-plan its aggregate, join and
    window.
    """
    rep = (
        trips.groupBy("route_id", "route_variant")
        .agg(F.min("trip_id").alias("trip_id"))
    )
    st = stop_times.select(
        "trip_id", "stop_sequence", "stop_id", "arrival_secs", "departure_secs")
    joined = rep.join(st, "trip_id")
    by_variant = Window.partitionBy("route_id", "route_variant")
    return (
        joined.withColumn(
            "stop_index",
            F.row_number().over(by_variant.orderBy("stop_sequence")) - F.lit(1))
        .withColumn("stop_count", F.count("*").over(by_variant))
        .drop("trip_id")
        .cache()
    )
