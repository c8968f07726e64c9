"""Table storage (S12-S17): partitioned parquet replaces both the
MySQL tables and the MessagePack object tree.

Each table has ONE writer here, and that writer owns the table's
partitioning, sort order and overwrite mode; every other path (stream
merge, CLI import and cleanup, compaction) calls it.  The overwrite
mode rides on the writer (``.option("partitionOverwriteMode", …)``),
never on the session conf.  Layout decisions for 100 TB:

* ``records`` (:func:`write_records`) partitions by (source,
  trip_start_date): every analyse query filters on source, and date
  partitions give both partition pruning for incremental analyse runs
  and a natural retention unit.  An overwrite is DYNAMIC: it replaces
  only the partitions present in the frame.  Within a partition, files
  are sorted by (route_id, route_variant, trip_id, stop_sequence) so
  route-sliced reads benefit from min/max row-group skipping; the sort
  key leads with the partition columns, so Spark's planned write keeps
  it instead of replacing it with its own partition-column sort.
* curve tables are schedule-bounded (≤ millions of rows, kilobytes per
  row) — plain parquet, sorted by their lookup key, no partitioning
  (small-files beat empty-partition sprawl).
* ``predictions`` (:func:`write_predictions`) partitions by (source,
  trip_start_date).  An overwrite is STATIC: the 12 h TTL cleanup (ST5)
  rewrites the whole table with the rows it keeps, and the partitions
  it emptied are dropped.  A write that leaves no data file (every
  row cleaned up, or a first append of no rows) removes the table,
  and :func:`read_predictions` reads an absent table as empty.
* The reference's MessagePack tree (types/types.md:13-27) maps to the
  directory structure parquet partitioning already provides; S17 load
  is just ``spark.read.parquet``.

The JDBC sink mirrors the reference's MySQL writer (1000-row batches,
batched_statements.rs:7) for deployments that keep MySQL; the
latest-wins dedup must run before it (W2) since plain JDBC INSERT
cannot upsert portably.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_records(records: DataFrame, path: str, mode: str = "overwrite"
                  ) -> None:
    (records
     .repartition("source", "trip_start_date")
     # the partition columns lead, or the planned write replaces this
     # sort with its own sort on them
     .sortWithinPartitions("source", "trip_start_date", "route_id",
                           "route_variant", "trip_id", "stop_sequence")
     .write.mode(mode)
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("source", "trip_start_date")
     .parquet(path))


def read_records(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_partitions(spark: SparkSession, path: str,
                       partition_values: list[str] | None = None) -> int:
    """Rewrite small-file partitions of the records table into one
    sorted file each — the maintenance job every micro-batch sink
    needs.

    Each streaming batch writes at least one file per touched
    ``(source, trip_start_date)`` partition, so a day accumulates
    O(batches) small files; scans then pay per-file open/footer cost
    and lose run-length locality.  Compaction reads ONLY the named
    ``trip_start_date`` partition values (partition-pruned scan;
    default: all) and rewrites them through :func:`write_records` —
    an Iceberg/Delta ``rewrite_data_files`` on plain parquet.  Returns
    the number of rows compacted.  Run it on CLOSED days only: the
    overwrite is not atomic for concurrent readers of that partition.
    """
    df = spark.read.parquet(path)
    if partition_values is not None:
        df = df.where(F.col("trip_start_date").isin(partition_values))
    n = df.count()
    if n == 0:
        return 0
    # detach from the files being replaced
    write_records(df.localCheckpoint(eager=True), path)
    return n


def write_bucketed(df: DataFrame, table: str, path: str,
                   bucket_cols: list[str], n_buckets: int = 64,
                   mode: str = "overwrite") -> None:
    """Persist a table bucketed (and sorted) by ``bucket_cols`` — the
    co-located-join tuning knob for fact⋈fact joins too big to
    broadcast: two tables bucketed the same way join with ZERO
    exchanges (pinned by the plan-shape test).  Bucket metadata lives
    in the session catalog; ``path`` keeps the files out of the
    default warehouse."""
    (df.write.mode(mode)
     .bucketBy(n_buckets, *bucket_cols)
     .sortBy(*bucket_cols)
     .option("path", path)
     .format("parquet")
     .saveAsTable(table))


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back through the catalog (the bucketing
    spec only survives catalog reads, not raw path reads)."""
    return spark.table(table)


def write_curve_tables(tables: dict[str, DataFrame], base: str,
                       mode: str = "overwrite") -> None:
    """S16: the DelayStatistics tree as three parquet tables."""
    sort_keys = {
        "general": ["route_id", "route_variant", "event_type", "time_slot",
                    "stop_index"],
        "specific": ["route_id", "route_variant", "event_type", "time_slot",
                     "start_stop_index", "end_stop_index", "focus"],
        "default": ["route_type", "route_section", "time_slot", "event_type"],
    }
    for name, df in tables.items():
        out = df
        if name in sort_keys:
            out = df.coalesce(1).sortWithinPartitions(*sort_keys[name])
        out.write.mode(mode).parquet(f"{base}/{name}")


def read_curve_tables(spark: SparkSession, base: str) -> dict[str, DataFrame]:
    """S17: load whichever statistics tables exist under ``base``."""
    from pathlib import Path

    out = {}
    for name in ("general", "specific", "default"):
        if Path(base, name).exists():
            out[name] = spark.read.parquet(f"{base}/{name}")
    return out


def write_predictions(predictions: DataFrame, path: str,
                      mode: str = "overwrite") -> None:
    import shutil
    from pathlib import Path

    (predictions
     .repartition("source", "trip_start_date")
     .write.mode(mode)
     .option("partitionOverwriteMode", "static")
     .partitionBy("source", "trip_start_date")
     .parquet(path))
    # a partitioned write of no rows leaves only _SUCCESS, which no
    # reader can infer a schema from: an empty table is an absent one
    if not any(Path(path).rglob("*.parquet")):
        shutil.rmtree(path, ignore_errors=True)


def read_predictions(spark: SparkSession, path: str) -> DataFrame:
    """The predictions table, or an empty frame of its schema where
    the table is absent (never written, or left with no row)."""
    from pathlib import Path

    from ..schemas import PREDICTIONS

    if not Path(path).exists():
        return spark.createDataFrame([], PREDICTIONS)
    return spark.read.parquet(path)


def retry_with_backoff(fn, retries: int = 5, base_sleep_s: float = 5.0,
                       retryable=lambda exc: True, sleep=None):
    """ST6: run ``fn()``, retrying transient sink failures.

    The reference retries MySQL deadlocks (error 1213) after a fixed
    5 s sleep (batched_statements.rs:59-96) and initial connects with
    Fibonacci backoff (main.rs:214-217); this wrapper generalizes both:
    sleep times follow the Fibonacci sequence scaled by
    ``base_sleep_s`` (5, 5, 10, 15, 25 s…).  ``retryable`` filters
    which exceptions warrant a retry (a deadlock is, a schema mismatch
    is not); anything else — or exhaustion — re-raises.  ``sleep`` is
    injectable for tests."""
    import time as _time

    sleep = sleep or _time.sleep
    fib_prev, fib_cur = 1, 1
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — filtered by retryable
            if attempt >= retries or not retryable(exc):
                raise
            sleep(base_sleep_s * fib_prev)
            fib_prev, fib_cur = fib_cur, fib_prev + fib_cur


def write_jdbc(df: DataFrame, url: str, table: str,
               mode: str = "append", batchsize: int = 1000,
               properties: dict | None = None,
               retries: int = 0, retryable=lambda exc: True) -> None:
    """S12/S13 JDBC sink: 1000-row batches like the reference's
    BatchedStatements.  Run latest_wins_merge first — INSERT-only.
    ``retries`` > 0 adds the ST6 deadlock-retry behavior around the
    whole write (Spark's JDBC writer is all-or-nothing per task, so
    batch-level retry granularity lives in task re-attempts)."""
    def _write() -> None:
        writer = (df.write.format("jdbc")
                  .option("url", url)
                  .option("dbtable", table)
                  .option("batchsize", str(batchsize)))
        for k, v in (properties or {}).items():
            writer = writer.option(k, v)
        writer.mode(mode).save()

    if retries > 0:
        retry_with_backoff(_write, retries=retries, retryable=retryable)
    else:
        _write()


def upsert_latest_wins(rows, connect, table: str, key_cols: list[str],
                       payload_cols: list[str],
                       guard_col: str = "time_of_recording",
                       dialect: str = "mysql",
                       batch_size: int = 1000,
                       retries: int = 0,
                       retryable=lambda exc: True,
                       sleep=None) -> int:
    """The reference's S12 latest-wins upsert protocol over any DB-API
    connection: per 1000-row batch, an UPDATE guarded by
    ``existing.guard_col < new.guard_col`` then an INSERT-IGNORE on
    the unique key (per_schedule_importer.rs:406-456,
    batched_statements.rs:23-108).  Net semantics: the row with the
    newest ``guard_col`` wins regardless of arrival order; stale
    batches are no-ops.

    ``connect`` is a zero-arg connection factory (injectable: a MySQL
    driver in production, sqlite3 in tests — both run the identical
    two-statement protocol).  ``rows`` yields objects with attribute
    or mapping access to ``key_cols + payload_cols``.  Returns the
    number of input rows processed.
    """
    if guard_col not in payload_cols:
        # without the guard in the written columns the UPDATE's
        # `guard < new` predicate compares against NULL forever and
        # the table silently freezes at first-arrival values
        raise ValueError(f"guard_col {guard_col!r} must be one of "
                         f"payload_cols {payload_cols}")
    ignore = {"mysql": "INSERT IGNORE INTO",
              "sqlite": "INSERT OR IGNORE INTO"}[dialect]
    ph = "%s" if dialect == "mysql" else "?"
    set_sql = ", ".join(f"{c} = {ph}" for c in payload_cols)
    where_sql = " AND ".join(f"{c} = {ph}" for c in key_cols)
    update_sql = (f"UPDATE {table} SET {set_sql} WHERE {where_sql} "
                  f"AND {guard_col} < {ph}")
    cols = key_cols + payload_cols
    insert_sql = (f"{ignore} {table} ({', '.join(cols)}) "
                  f"VALUES ({', '.join([ph] * len(cols))})")

    def get(row, c):
        return row[c] if isinstance(row, dict) else getattr(row, c)

    con = connect()
    n = 0
    try:
        batch: list = []

        def write_batch() -> None:
            cur = con.cursor()
            cur.executemany(update_sql, [
                [get(r, c) for c in payload_cols]
                + [get(r, c) for c in key_cols]
                + [get(r, guard_col)] for r in batch])
            cur.executemany(insert_sql, [
                [get(r, c) for c in cols] for r in batch])
            con.commit()  # one transaction per batch, like the reference

        def flush() -> None:
            if not batch:
                return
            # retry at BATCH granularity (the reference's deadlock unit,
            # batched_statements.rs:59-96) — bounded memory, and the
            # guard+IGNORE pair makes a half-applied batch replayable
            if retries > 0:
                retry_with_backoff(write_batch, retries=retries,
                                   retryable=retryable, sleep=sleep)
            else:
                write_batch()
            batch.clear()

        for row in rows:
            batch.append(row)
            n += 1
            if len(batch) >= batch_size:
                flush()
        flush()
    finally:
        con.close()
    return n


def merge_jdbc_latest_wins(df: DataFrame, connect, table: str,
                           key_cols: list[str], payload_cols: list[str],
                           guard_col: str = "time_of_recording",
                           dialect: str = "mysql",
                           batch_size: int = 1000,
                           retries: int = 0,
                           retryable=lambda exc: True) -> None:
    """Distributed S12/S13 MERGE: every partition runs the two-
    statement latest-wins protocol over its own connection —
    connection count scales with partitions, row flow never touches
    the driver.  Idempotent by construction (replaying a batch is a
    no-op thanks to the guard + IGNORE), so Spark task retries are
    safe.  ``retries`` adds the ST6 deadlock backoff per partition."""
    def run_partition(rows) -> None:
        upsert_latest_wins(rows, connect, table, key_cols, payload_cols,
                           guard_col=guard_col, dialect=dialect,
                           batch_size=batch_size, retries=retries,
                           retryable=retryable)

    df.foreachPartition(run_partition)


def write_csv_report(df: DataFrame, path: str, sep: str = ";") -> None:
    """S20: the count-stats CSV sink (';'-separated like count.rs)."""
    df.coalesce(1).write.mode("overwrite") \
        .option("header", True).option("sep", sep).csv(path)
