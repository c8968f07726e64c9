"""Streaming perceptual (media) dedup ingest — the media analog of
:mod:`streaming.dedup_stream`: a file stream of (media_id, payload)
parquet batches becomes a deduplicated media corpus carrying its
dHash fingerprint + Hamming-band columns (the store).

Semantics are GREEDY-ON-ARRIVAL, exactly like the text near-dup
stream: a medium is dropped iff it sits within hamming <=
DHASH_BANDS-1 of an already-PUBLISHED medium (the store screen) or of
an earlier-kept medium of its own micro-batch (min-id order).  The
stream==batch equality tests pin that feeding the same files through
:func:`media_dedup_batch` one file at a time publishes the identical
corpus.

Scale shape (the text stream's contracts, restated for media):

* Fingerprinting is ONE map-only Arrow pass per batch — payload bytes
  never shuffle and never reach the driver.  Undecodable payloads
  keep a NULL dhash and publish as singleton keepers (the uniform
  keeper rule of the round-12 CLI).
* The store — the 100 TB side — never shuffles: the batch's tiny
  band-value set broadcasts, the store streams map-only through one
  LeftSemi probe, and only MATCHED store rows (band-collision
  density, not store size) join back against the batch for the exact
  hamming check.
* Within-batch resolution is the banded pair join
  (operators/perceptual.image_near_pairs_banded — candidates scale
  with near-dup density) plus one single-group greedy sweep bounded
  by the batch's edge count, never corpus size.

Reference parity: the reference engine (dystonse) has no streaming
media path; this extends the corpus-pipeline mandate the same way
dedup_stream extends it for text.
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, LongType, StructField, StructType,
)

from ..functions.dedup_sql import DHASH_BANDS, DHASH_BITS
from ..operators.media_codecs import decode_image
from ..operators.perceptual import dhash_64grid, image_near_pairs_banded

_BAND_WIDTH = DHASH_BITS // DHASH_BANDS
MEDIA_STORE_COLS = ["media_id", "dhash"] + [
    f"db_{b}" for b in range(DHASH_BANDS)]

_ANNOTATED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("payload", BinaryType()),
    StructField("dhash", LongType()),
])


def annotate_media_batch(batch: DataFrame) -> DataFrame:
    """(media_id, payload, dhash, db_0..db_{n-1}): one Arrow-batched
    map-only pass computes the dHash (NULL for undecodable payloads —
    the row still publishes, as a singleton keeper); the band columns
    are JVM-side bit arithmetic over the hash."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes: list[int | None] = []
            for payload in pdf["payload"]:
                try:
                    hashes.append(dhash_64grid(decode_image(bytes(payload))))
                except (ValueError, IndexError):
                    hashes.append(None)
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype("int64"),
                "payload": pdf["payload"],
                "dhash": pd.Series(hashes, dtype="Int64"),
            })

    out = batch.select("media_id", "payload") \
        .mapInPandas(kernel, _ANNOTATED_SCHEMA)
    for b in range(DHASH_BANDS):
        out = out.withColumn(
            f"db_{b}",
            F.when(F.col("dhash").isNotNull(),
                   F.shiftright("dhash", _BAND_WIDTH * b)
                   % (1 << _BAND_WIDTH)))
    return out


def read_media_store(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The media dedup store: the corpus pruned to fingerprint + band
    columns.  None ONLY when no corpus exists yet — the media dir is
    absent or holds nothing but '_'/'.'-prefixed staging entries (the
    name-based crashed-first-write rule of read_fingerprint_store);
    any other read failure propagates."""
    media = Path(out_dir) / "media"
    if not media.exists():
        return None
    if not any(not p.name.startswith(("_", "."))
               for p in media.iterdir()):
        return None
    store = spark.read.parquet(str(media))
    missing = [c for c in MEDIA_STORE_COLS if c not in store.columns]
    if missing:
        raise ValueError(
            f"{media} lacks store column(s) {missing} — not a "
            "media-stream corpus layout")
    return store.select(*MEDIA_STORE_COLS)


def _store_hits(based: DataFrame, store: DataFrame) -> DataFrame:
    """Batch media_ids within hamming <= DHASH_BANDS-1 of a stored
    medium.  The batch's band values broadcast; the store streams
    map-only through a stacked LeftSemi probe; only MATCHED store
    rows join back for the exact hamming check."""
    parts = ", ".join(f"{b}, db_{b}" for b in range(DHASH_BANDS))
    stack = f"stack({DHASH_BANDS}, {parts}) AS (band, bv)"
    batch_keys = (based.select(F.expr(stack), "media_id", "dhash")
                  .where(F.col("bv").isNotNull()))
    store_keys = (store.select(F.expr(stack),
                               F.col("dhash").alias("s_dhash"))
                  .where(F.col("bv").isNotNull()))
    matched = store_keys.join(
        F.broadcast(batch_keys.select("band", "bv").distinct()),
        ["band", "bv"], "left_semi")
    cand = matched.join(F.broadcast(batch_keys), ["band", "bv"])
    return (cand.where(
        F.bit_count(F.expr("dhash ^ s_dhash")) <= DHASH_BANDS - 1)
        .select("media_id").distinct())


def media_drop_set(based: DataFrame,
                   store: DataFrame | None) -> DataFrame:
    """The batch's full drop set: store-screen hits (pre-dropped) plus
    the within-batch greedy min-id sweep over banded near-pair edges.
    The sweep is one single-group ``applyInPandas`` over the batch's
    EDGE list (near-dup density, never batch row count): ascending by
    id, a medium drops iff it is store-hit or any lower-id edge
    partner survived."""
    pairs = image_near_pairs_banded(
        based.select("media_id", "dhash").where(
            F.col("dhash").isNotNull()),
        DHASH_BANDS - 1)
    edges = pairs.select(F.col("media_a").alias("u"),
                         F.col("media_b").alias("v"))
    if store is not None:
        hits = _store_hits(based, store).select(
            F.lit(None).cast("long").alias("u"),
            F.col("media_id").alias("v"))
        edges = edges.unionByName(hits)

    def _sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pre = {int(v) for u, v in zip(pdf["u"], pdf["v"])
               if pd.isna(u)}
        blockers: dict[int, set[int]] = {}
        for u, v in zip(pdf["u"], pdf["v"]):
            if pd.isna(u):
                continue
            blockers.setdefault(int(v), set()).add(int(u))
        dropped = set(pre)
        for hi in sorted(blockers):
            if hi in dropped:
                continue
            if any(lo not in dropped for lo in blockers[hi]):
                dropped.add(hi)
        return pd.DataFrame({"media_id": sorted(dropped)})

    return (edges.withColumn("_g", F.lit(1)).groupBy("_g")
            .applyInPandas(lambda pdf: _sweep(pdf), "media_id long"))


def media_dedup_batch(batch: DataFrame,
                      store: DataFrame | None) -> DataFrame:
    """The batch twin of the stream sink (the stream==batch equality
    anchor): annotate, drop store hits + within-batch greedy losers,
    return the surviving annotated rows."""
    based = annotate_media_batch(batch)
    dropped = media_drop_set(based, store)
    return based.join(F.broadcast(dropped), ["media_id"], "left_anti")


def run_media_dedup_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
):
    """Parquet file stream of (media_id, payload) batches -> the
    deduplicated media corpus at ``<out_dir>/media``, partitioned by
    ``ingest_batch``.  Partition ids are ``batch_id + offset`` with
    the offset fixed at the checkpoint generation's first start
    (persisted in the checkpoint dir) to one past the corpus's
    current max ``ingest_batch`` — the same resume-safe rule as the
    text stream, so a fresh checkpoint over an existing corpus never
    overwrites partition 0."""
    import json as _json

    media_path = str(Path(out_dir) / "media")
    ckp = Path(checkpoint_dir)
    ckp.mkdir(parents=True, exist_ok=True)
    off_file = ckp / "ingest_offset.json"
    if off_file.exists():
        offset = _json.loads(off_file.read_text())["offset"]
    else:
        offset = 0
        existing = read_media_store(spark, out_dir)
        if existing is not None:
            corpus = spark.read.parquet(media_path)
            if "ingest_batch" in corpus.columns:
                mx_row = corpus.agg(F.max("ingest_batch")).first()
                mx = mx_row[0] if mx_row else None
                offset = int(mx) + 1 if mx is not None else 0
        off_file.write_text(_json.dumps({"offset": offset}))

    schema = "media_id long, payload binary"
    stream = (spark.readStream.format("parquet")
              .schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .load(in_dir))

    def sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        store = read_media_store(s, out_dir)
        based = annotate_media_batch(batch).cache()
        try:
            dropped = media_drop_set(based, store)
            final = based.join(F.broadcast(dropped), ["media_id"],
                               "left_anti")
            (final.withColumn("ingest_batch",
                              F.lit(batch_id + offset))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("ingest_batch").parquet(media_path))
        finally:
            based.unpersist()

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
