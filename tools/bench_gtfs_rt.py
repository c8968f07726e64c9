#!/usr/bin/env python3
"""S2 decoder throughput: the measured per-core statement behind the
ingest sizing in SCALING.md.

The pure-Python wire decoder (`sources/gtfs_rt.py`) is the only S2
path (a JVM `from_protobuf` leg needs the spark-protobuf jar; see
SCALING.md), so the capacity question is: how many feed files per
second does ONE Python worker core decode, and does the mapInPandas
fan-out scale it by the worker count?

Two measurements:

1. ``decode_feed_message`` in a tight single-thread loop over
   realistic synthetic feeds (50 trip updates x 20 stop_time_updates
   each — a busy city feed snapshot, ~25 KB) → feeds/s/core and
   entity-rows/s/core.
2. The full Spark path (binaryFile scan → mapInPandas decode →
   count) over the same feeds written to disk, at local[1] and
   local[32] → end-to-end feeds/s including scan + Arrow overhead,
   and the observed scaling factor.

Usage: python3 tools/bench_gtfs_rt.py [n_feeds] (default 400)
Prints one JSON object; SCALING.md Ingest quotes it.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def make_feed(i: int) -> bytes:
    from dystonse_gtfs_importer_spark.sources.gtfs_rt import (
        encode_feed_message,
    )

    return encode_feed_message(
        1_700_000_000 + i * 60,
        [{"trip_id": f"trip-{i}-{t}", "route_id": f"r{t % 17}",
          "start_date": "20240115", "start_time": "08:15:00",
          "stop_time_updates": [
              (s, f"stop-{t}-{s}", 60 + (s * 7 + t) % 300,
               90 + (s * 11 + t) % 300)
              for s in range(20)]}
         for t in range(50)])


def main() -> int:
    from dystonse_gtfs_importer_spark.sources.gtfs_rt import (
        decode_feed_message,
    )

    n_feeds = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    feeds = [make_feed(i) for i in range(n_feeds)]
    feed_bytes = sum(len(f) for f in feeds)

    # 1) pure decode, one core
    t0 = time.time()
    rows = 0
    for i, f in enumerate(feeds):
        rows += len(decode_feed_message(f, f"feed-{i}.pb"))
    dt = time.time() - t0
    out = {
        "n_feeds": n_feeds,
        "feed_kb_avg": round(feed_bytes / n_feeds / 1024, 1),
        "rows_per_feed": rows // n_feeds,
        "single_core": {
            "decode_s": round(dt, 3),
            "feeds_per_s": round(n_feeds / dt, 1),
            "rows_per_s": round(rows / dt),
            "mb_per_s": round(feed_bytes / dt / 1e6, 1),
        },
    }

    # 2) end-to-end Spark path at 1 and 32 local cores
    tmp = Path(tempfile.mkdtemp(prefix="gtfs_rt_bench_"))
    try:
        for i, f in enumerate(feeds):
            (tmp / f"feed-{i:05d}.pb").write_bytes(f)
        for cores in (1, 32):
            from pyspark.sql import SparkSession

            spark = (SparkSession.builder.master(f"local[{cores}]")
                     .appName(f"gtfs-rt-bench-{cores}")
                     .config("spark.sql.shuffle.partitions", str(cores))
                     .getOrCreate())
            try:
                from dystonse_gtfs_importer_spark.sources.gtfs_rt import (
                    read_gtfs_rt,
                )

                # warm the scan + python workers once
                read_gtfs_rt(spark, str(tmp / "feed-00000.pb")).count()
                t0 = time.time()
                n = read_gtfs_rt(spark, str(tmp)).count()
                dt = time.time() - t0
                out[f"spark_local{cores}"] = {
                    "rows": n,
                    "wall_s": round(dt, 3),
                    "feeds_per_s": round(n_feeds / dt, 1),
                }
            finally:
                spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    s1 = out.get("spark_local1", {}).get("feeds_per_s")
    s32 = out.get("spark_local32", {}).get("feeds_per_s")
    if s1 and s32:
        out["scaling_32_over_1"] = round(s32 / s1, 1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
