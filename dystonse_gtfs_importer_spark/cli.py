"""Command-line facade mirroring the reference's four-mode CLI.

The reference binary dispatches ``import`` / ``analyse`` / ``predict``
/ ``monitor`` subcommands over a data directory and a MySQL pool
(``/root/reference/src/main.rs:123-251``).  This CLI keeps the same
command tree and flags over the Spark engine; the database is replaced
by the parquet lake layout under ``--dir``:

    <dir>/schedules/   GTFS feeds (directories or .zip), named so the
                       alphabetical order is chronological (O1)
    <dir>/rt/          GTFS-RT protobuf dumps (.pb / .zip)
    <dir>/records/     the records table (partitioned parquet)
    <dir>/stats/       curve statistics tables (general/specific/default)
    <dir>/predictions/ the predictions table

DB connection flags of the reference (-u/-p/--host/--port/--database)
are intentionally absent: storage is the lake, and a JDBC sink exists
as ``sources.store.write_jdbc`` for deployments that need one.
``monitor board``/``autocomplete`` print data frames; ``monitor
serve`` runs the full HTML departure-board server (monitor_app /
monitor_html — the reference's web layer, mod.rs:102-190).
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys
from pathlib import Path

import pyspark.sql.functions as F


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dystonse-gtfs-importer-spark",
        description="PySpark re-expression of the dystonse GTFS "
                    "delay-statistics engine.")
    p.add_argument("-v", "--verbose", action="store_true")
    p.add_argument("-s", "--source", required=True,
                   help="source identifier for the data sets")
    p.add_argument("--dir", required=True,
                   help="data directory (schedules/, rt/, records/, ...)")
    p.add_argument("--schedule",
                   help="explicit GTFS schedule path (else newest under "
                        "<dir>/schedules)")
    sub = p.add_subparsers(dest="mode", required=True)

    imp = sub.add_parser("import", help="process GTFS-RT files")
    imp.add_argument("-r", "--record", action="store_true")
    imp.add_argument("-p", "--predict", action="store_true")
    imp.add_argument("-c", "--cleanup", action="store_true")
    isub = imp.add_subparsers(dest="imode", required=True)
    ib = isub.add_parser("batch", help="import all files present now")
    ib.add_argument("batch_dir", nargs="?", default=None)
    im = isub.add_parser("manual", help="explicit schedule + rt files")
    im.add_argument("manual_schedule")
    im.add_argument("rt_files", nargs="+")
    ia = isub.add_parser("automatic",
                         help="streaming import (runs until stopped)")
    ia.add_argument("--once", action="store_true",
                    help="drain available files and stop (availableNow)")

    ana = sub.add_parser("analyse", help="statistical analyses")
    asub = ana.add_subparsers(dest="amode", required=True)
    ac = asub.add_parser("count")
    ac.add_argument("-i", "--interval", default="1h")
    for name in ("compute-curves", "compute-specific-curves",
                 "compute-default-curves"):
        cc = asub.add_parser(name)
        cc.add_argument("-r", "--route-ids", nargs="*", default=None)
        cc.add_argument("-a", "--all", action="store_true")
        if name == "compute-curves":
            cc.add_argument("-d", "--default-only", action="store_true")
            cc.add_argument("--incremental-day", metavar="YYYY-MM-DD",
                            help="fold ONE closed service day into the "
                                 "stored curve bases instead of "
                                 "recomputing from all history")
    ie = asub.add_parser("import-exp",
                         help="load a reference-format MessagePack "
                              "statistics file into the stats tables")
    ie.add_argument("exp_file")
    ee = asub.add_parser("export-exp",
                         help="write the stats tables as a reference-"
                              "format MessagePack statistics file")
    ee.add_argument("exp_file")
    dc = asub.add_parser("draw-curves",
                         help="stop-pair curve data series from stats")
    dc.add_argument("-r", "--route-ids", nargs="*", default=None)
    dc.add_argument("--render", action="store_true",
                    help="also write one SVG per stop-pair page (S19)")
    gr = asub.add_parser("graph", help="visual-schedule point series")
    gr.add_argument("-r", "--route-ids", nargs="*", default=None)
    gr.add_argument("--render", action="store_true",
                    help="also write one PNG per route variant (S19)")

    prd = sub.add_parser("predict", help="delay prediction lookups")
    psub = prd.add_subparsers(dest="pmode", required=True)
    ps = psub.add_parser("start", help="scheduled-prediction batch pass")
    ps.add_argument("--now", default=None, help="ISO datetime override")
    pq = psub.add_parser("single", help="one prediction lookup")
    pq.add_argument("--route-id", required=True)
    pq.add_argument("--trip-id", required=True)
    pq.add_argument("--event-type", choices=["arrival", "departure"],
                    default="departure")
    pq.add_argument("--date-time", required=True, help="ISO datetime")
    pq.add_argument("--end-stop-sequence", type=int, required=True)
    pq.add_argument("--start-stop-sequence", type=int, default=None)
    pq.add_argument("--initial-delay", type=float, default=None)

    mon = sub.add_parser("monitor", help="departure-board data")
    msub = mon.add_subparsers(dest="mmode", required=True)
    mb = msub.add_parser("board")
    mb.add_argument("--stop-name", required=True)
    mb.add_argument("--when", required=True, help="ISO datetime")
    mb.add_argument("--window-hours", type=float, default=2.0)
    mb.add_argument("--strips", action="store_true",
                    help="include the PNG-data-URL heat strip per row")
    ma = msub.add_parser("autocomplete")
    ma.add_argument("query")
    ms = msub.add_parser("serve", help="HTML departure-board server "
                         "(the reference's `monitor` entry point)")
    ms.add_argument("--port", type=int, default=3000)

    cor = sub.add_parser("corpus", help="training-corpus preparation")
    csub = cor.add_subparsers(dest="cmode", required=True)
    cps = csub.add_parser(
        "prepare-shards",
        help="seeded shuffle -> token-budget shards -> snapshot-atomic "
             "manifest with per-shard counts + content fingerprints")
    cps.add_argument("--docs", default=None,
                     help="documents parquet path "
                          "(default <dir>/documents.parquet)")
    cps.add_argument("--out", default=None,
                     help="shard store root (default <dir>/shards)")
    cps.add_argument("--shard-tokens", type=int, default=2000)
    cps.add_argument("--seed", default="shuf1")
    cps.add_argument("--batch-id", type=int, default=1,
                     help="manifest replay guard: re-running with the "
                          "same id is a no-op (committed=false); bump "
                          "it to republish after the corpus changes")
    cps.add_argument("--mixture-budget", type=int, default=None,
                     help="solve + apply a temperature(0.5) token "
                          "mixture for this budget BEFORE sharding "
                          "(per-source epochs/rates from the "
                          "mixture_weights water-filling solver)")
    cps.add_argument("--quality-weighted", action="store_true",
                     help="with --mixture-budget: allocate over each "
                          "source's quality-ELIGIBLE token mass (docs "
                          "at/above the calibration global median) "
                          "and resample only those docs")
    cps.add_argument("--mixture-epoch-cap-e6", type=int, default=None,
                     help="max epochs per source in micro-units "
                          "(default 1400000 = 1.4 epochs)")
    cpr = csub.add_parser(
        "profile",
        help="column-level data-quality profile of a parquet table "
             "(rows/nulls/distincts/min-max in one scan)")
    cpr.add_argument("--table", default=None,
                     help="parquet path (default "
                          "<dir>/documents.parquet)")
    cpr.add_argument("--approx-threshold", type=int,
                     default=10_000_000,
                     help="row count above which distincts use the "
                          "approx (HLL, no-Expand) rung instead of "
                          "exact COUNT(DISTINCT)")
    cpr.add_argument("--exact", action="store_true",
                     help="force exact distincts regardless of size")
    cmx = csub.add_parser(
        "mixture",
        help="solve per-source sampling rates + epoch counts for a "
             "token budget (temperature 0.5, capped water-filling); "
             "prints the table prepare-shards --mixture-budget applies")
    cmx.add_argument("--docs", default=None,
                     help="documents parquet path "
                          "(default <dir>/documents.parquet)")
    cmx.add_argument("--budget", type=int, required=True,
                     help="total token budget")
    cmx.add_argument("--epoch-cap-e6", type=int, default=None,
                     help="max epochs per source in micro-units "
                          "(default 1400000 = 1.4 epochs)")
    for name, hlp in (
            ("calibrate", "per-source quality-score percentile "
                          "calibration (p10/p50/p90 cutpoints, "
                          "local-vs-global median pass shares)"),
            ("fertility", "tokenizer fertility per language "
                          "(BPE-ish tokens per word, chars per "
                          "token, exact micro-units)"),
            ("pii-report", "per-source PII governance rollup "
                           "(category totals, clean share, density "
                           "per 10k chars)"),
            ("plan-dedup", "near-dup threshold sweep on the banded "
                           "MinHash estimate (pairs / affected / "
                           "removed docs+chars per grid threshold)"),
            ("charclass", "per-source character-class decomposition "
                          "(alpha/digit/space/punct/non-ASCII "
                          "shares — the mojibake detector)"),
            ("lengths", "per-source document-length calibration "
                        "(p10/p50/p90 chars — the length-filter "
                        "decision table)"),
            ("langid", "lang-ID v2 confusion matrix vs ground-truth "
                       "labels (stopword-table scorer with "
                       "'other'/'und' fallbacks — the default rung)"),
            ("langid-v1", "lang-ID v1 (marker-word) confusion "
                          "matrix, kept for rung comparison"),
            ("induce-bpe", "learn the first two BPE merges from the "
                           "corpus (corpus-weighted top adjacent "
                           "pair per iteration)")):
        cq = csub.add_parser(name, help=hlp)
        cq.add_argument("--docs", default=None,
                        help="documents parquet path "
                             "(default <dir>/documents.parquet)")
    cpk = csub.add_parser(
        "pack",
        help="pack documents into fixed-context training sequences "
             "(NFD, or bounded-open-bin FFD with --ffd); writes the "
             "placement table and, with --emit, the materialized "
             "sequences; prints occupancy accounting")
    cpk.add_argument("--docs", default=None,
                     help="documents parquet path "
                          "(default <dir>/documents.parquet)")
    cpk.add_argument("--out", default=None,
                     help="output root (default <dir>/packed)")
    cpk.add_argument("--ctx", type=int, default=None,
                     help="sequence length in tokens (default 64)")
    cpk.add_argument("--ffd", action="store_true",
                     help="first-fit-decreasing with a bounded "
                          "open-bin list instead of next-fit")
    cpk.add_argument("--max-open", type=int, default=None,
                     help="open-bin cap for --ffd (default 16)")
    cpk.add_argument("--emit", action="store_true",
                     help="also materialize the token streams with "
                          "doc boundary spans")
    cpb = csub.add_parser(
        "plan-batches",
        help="dynamic-batching (batch-by-size) accounting under a "
             "padded-cost budget: batches, padded vs real tokens, "
             "waste share")
    cpb.add_argument("--docs", default=None,
                     help="documents parquet path "
                          "(default <dir>/documents.parquet)")
    cpb.add_argument("--max-tokens", type=int, default=None,
                     help="padded-token budget per batch "
                          "(rows x batch max length; default 256)")
    cpb.add_argument("--max-seqs", type=int, default=None,
                     help="row cap per batch (default 8)")
    cig = csub.add_parser(
        "ingest",
        help="dedup-on-arrival ingestion: stream JSON document "
             "batches into a deduplicated parquet corpus (exact + "
             "near-dup screening against the corpus's own "
             "fingerprint/band store; one action per micro-batch)")
    cig.add_argument("--in", dest="in_dir", required=True,
                     help="input dir of JSON document batch files")
    cig.add_argument("--out", default=None,
                     help="corpus output dir (default <dir>/corpus)")
    cig.add_argument("--checkpoint", default=None,
                     help="stream checkpoint dir "
                          "(default <out>/_checkpoint)")
    cig.add_argument("--no-near-dup", action="store_true",
                     help="exact-fingerprint screening only (skips "
                          "the MinHash band columns and the greedy "
                          "near-dup sweep)")
    cig.add_argument("--blocklist", nargs="*", default=None,
                     help="phrases to screen on arrival (docs "
                          "containing any are never published)")
    cig.add_argument("--max-files-per-trigger", type=int, default=10,
                     help="input files consumed per micro-batch "
                          "(default 10).  This is ALSO the knob that "
                          "bounds the near-dup sweep: all of a "
                          "batch's duplicate-sharing buckets resolve "
                          "in one single-executor pass whose cost is "
                          "quadratic in the batch's duplicate "
                          "density, so size batches (files x "
                          "docs/file) to tens of thousands of docs, "
                          "not millions")
    cmi = csub.add_parser(
        "media-ingest",
        help="perceptual dedup-on-arrival ingestion: stream "
             "(media_id, payload) parquet batches into a "
             "deduplicated media corpus (dHash + Hamming-band store "
             "screening, greedy within-batch resolution; "
             "undecodable payloads publish as singleton keepers)")
    cmi.add_argument("--in", dest="in_dir", required=True,
                     help="input dir of media parquet batch files")
    cmi.add_argument("--out", default=None,
                     help="media corpus output dir "
                          "(default <dir>/media_corpus)")
    cmi.add_argument("--checkpoint", default=None,
                     help="stream checkpoint dir "
                          "(default <out>/_checkpoint)")
    cmi.add_argument("--max-files-per-trigger", type=int, default=10,
                     help="input files per micro-batch (also bounds "
                          "the within-batch sweep, like ingest)")
    cbf = csub.add_parser(
        "backfill-bands",
        help="one-off store migration for a dedup-stream corpus dir "
             "written before the fingerprint/band columns existed: "
             "recompute fingerprint + MinHash band columns over "
             "<corpus>/documents in place (crash-safe sibling write), "
             "so the stream resumes with full exact+near-dup "
             "screening")
    cbf.add_argument("--corpus", default=None,
                     help="dedup-stream output dir containing "
                          "documents/ (default <dir>/corpus)")
    cbf.add_argument("--drop-old", action="store_true",
                     help="delete the documents.__pre_backfill copy "
                          "after a verified swap (default: keep it "
                          "until the operator has inspected the "
                          "migrated corpus)")
    cmd_ = csub.add_parser(
        "media-dedup",
        help="perceptual near-dup over a media parquet: image "
             "(binary payload -> dHash), audio (WAV payload -> "
             "eHash), or video (array<binary> frames -> per-frame "
             "dHash + shared-frame containment); writes keepers and "
             "prints cluster accounting")
    cmd_.add_argument("--media", required=True,
                      help="parquet with media_id + payload (image/"
                           "audio) or media_id + frames (video)")
    cmd_.add_argument("--modality", choices=["image", "audio", "video"],
                      default="image")
    cmd_.add_argument("--out", default=None,
                      help="keeper parquet path (default "
                           "<media>.keepers)")
    cmd_.add_argument("--max-hamming", type=int, default=3,
                      help="image/audio near-pair threshold "
                           "(banding-lossless up to 3)")
    cmd_.add_argument("--min-common-frames", type=int, default=None,
                      help="video shared-frame threshold (default 3)")
    cmd_.add_argument("--audio-fingerprint",
                      choices=["energy", "spectral"], default="spectral",
                      help="audio fingerprint: 'spectral' (rFFT band "
                           "deltas, survives pitch/tone changes — "
                           "default) or 'energy' (L1 envelope eHash, "
                           "pitch-blind)")
    cmd_.add_argument("--order-aware", action="store_true",
                      help="video: pair only on shared ORDER-2 frame "
                           "shingles (adjacent frames in sequence) "
                           "instead of order-insensitive shared-frame "
                           "containment — a reversed/shuffled re-cut "
                           "no longer merges with its source")
    cmd_.add_argument("--min-common-shingles", type=int, default=1,
                      help="order-aware video shingle threshold")
    return p


def _say(args, *msg) -> None:
    if args.verbose:
        print(*msg, file=sys.stderr)


def _schedule_path(args) -> str:
    if args.schedule:
        return args.schedule
    root = Path(args.dir) / "schedules"
    feeds = sorted(root.iterdir()) if root.exists() else []
    if not feeds:
        raise SystemExit(f"no schedule under {root} and no --schedule")
    return str(feeds[-1])  # alphabetical = chronological; newest wins


def _load_schedule(spark, args):
    from .sources.gtfs import read_gtfs, variant_stops

    path = _schedule_path(args)
    _say(args, f"loading schedule {path}")
    sched = read_gtfs(spark, path)
    vstops = variant_stops(sched["trips"], sched["stop_times"])
    return sched, vstops, Path(path).name


def _records_dir(args) -> str:
    return str(Path(args.dir) / "records")


def _read_records(spark, args):
    from .sources.store import read_records

    return read_records(spark, _records_dir(args)) \
        .where(F.col("source") == args.source)


def _read_stats(spark, args):
    from .sources.store import read_curve_tables

    return read_curve_tables(spark, str(Path(args.dir) / "stats"))


def _append_predictions(preds, path: str) -> int:
    """Append ``preds`` to the predictions table and return how many
    rows it wrote, counted by an Observation on the write's own job
    instead of a second pass over the prediction plan."""
    from pyspark.sql import Observation

    from .sources.store import write_predictions

    obs = Observation()
    write_predictions(preds.observe(obs, F.count(F.lit(1)).alias("rows")),
                      path, mode="append")
    # a write of no rows completes the observation with an empty row,
    # which Observation.get cannot convert
    row = obs._jo.getRow()
    return row.getLong(0) if row.length() else 0


def cmd_import(spark, args) -> int:
    from .plans.import_etl import build_records
    from .sources.gtfs_rt import read_gtfs_rt

    if not (args.record or args.predict or args.cleanup):
        raise SystemExit("import needs at least one of -r / -p / -c")

    if args.imode == "automatic":
        from .streaming.import_stream import run_import_stream

        sched, _, sched_name = _load_schedule(spark, args)
        q = run_import_stream(
            spark, str(Path(args.dir) / "rt"), sched["trips"],
            sched["stop_times"], args.source, sched_name,
            _records_dir(args), str(Path(args.dir) / "_checkpoint"),
            trigger=({"availableNow": True} if args.once
                     else {"processingTime": "30 seconds"}))
        q.awaitTermination()
        return 0

    sched_arg = getattr(args, "manual_schedule", None)
    if sched_arg:
        args.schedule = sched_arg
    sched, vstops, sched_name = _load_schedule(spark, args)

    if args.imode == "manual":
        rt = None
        for f in args.rt_files:
            part = read_gtfs_rt(spark, f, pattern=Path(f).name)
            rt = part if rt is None else rt.unionByName(part)
    else:
        rt_dir = Path(args.batch_dir or args.dir) / "rt"
        rt = read_gtfs_rt(spark, str(rt_dir))

    if args.record:
        from .streaming.import_stream import merge_batch_overwrite

        recs = build_records(rt, sched["trips"], sched["stop_times"],
                             args.source, sched_name).cache()
        try:
            merge_batch_overwrite(spark, recs, _records_dir(args),
                                  args.source)
        finally:
            recs.unpersist()
        if Path(_records_dir(args)).exists():
            spark.catalog.refreshByPath(_records_dir(args))
            if args.verbose:  # the count reads the whole table's footers
                _say(args, "records table now "
                     f"{_written_count(spark, args.dir, 'records')} rows")

    if args.predict:
        from .plans.predict import (
            predict, prediction_lookups, prediction_rows, realtime_basis,
        )
        from .schemas import ORIGIN_REALTIME

        tables = _read_stats(spark, args)
        records = _read_records(spark, args)
        now = dt.datetime.now()
        basis = realtime_basis(records, vstops, now)
        lookups = prediction_lookups(basis, vstops, sched["stop_times"],
                                     sched["routes"])
        predicted = predict(lookups, tables["specific"], tables["general"],
                            tables["default"]) \
            .where(F.col("prediction_curve").isNotNull())
        preds = prediction_rows(predicted, args.source, sched_name,
                                ORIGIN_REALTIME)
        n = _append_predictions(preds, str(Path(args.dir) / "predictions"))
        _say(args, f"wrote {n} prediction rows")

    if args.cleanup:
        from .sources.store import write_predictions
        from .streaming.import_stream import (
            cleanup_predictions, remove_outdated_predictions,
        )

        pdir = Path(args.dir) / "predictions"
        if pdir.exists():
            now = dt.datetime.now()
            preds = spark.read.parquet(str(pdir))
            kept = remove_outdated_predictions(
                preds, args.source, sched_name,
                window_end=now + dt.timedelta(hours=25))
            kept = cleanup_predictions(kept, now)
            # detach from the files about to be overwritten
            write_predictions(kept.localCheckpoint(eager=True), str(pdir))
            _say(args, "cleanup done")
    return 0


def _csv_count(spark, path: str) -> int:
    """Row count of a just-written CSV report, read back from the
    file (one cheap scan of a driver-sized report) instead of
    re-running the pipeline that produced it."""
    return (spark.read.option("header", True).option("sep", ";")
            .csv(path).count())


def _written_count(spark, base: str, name: str) -> int:
    """Row count of a just-written table (stats, records), read back
    from the parquet FOOTERS (a metadata-only job) instead of re-running
    the pipeline that produced it — the ×1..×100 analyse wall was
    dominated by count() reporting actions recomputing every stage
    (SCALING.md, round-7 ~70-job floor)."""
    return spark.read.parquet(f"{base}/{name}").count()


def cmd_analyse(spark, args) -> int:
    from .plans.analyse_gtfs import (
        default_curves, general_delay_curves, prepare_dbitems,
        stop_pair_curve_sets,
    )
    from .sources.store import write_csv_report, write_curve_tables

    if args.amode == "count":
        from .plans.count_stats import count_stats

        n = {"m": "minute", "h": "hour", "d": "day"}
        unit = n.get(args.interval[-1], "hour")
        qty = args.interval[:-1] or "1"
        out = count_stats(_read_records(spark, args),
                          bucket=f"{qty} {unit}")
        for r in out.collect():
            print(r.bucket_start, r.n_records, r.avg_delay_arrival, sep="\t")
        return 0

    if args.amode in ("import-exp", "export-exp"):
        from .sources.msgpack_bridge import export_exp, import_exp

        stats_dir = str(Path(args.dir) / "stats")
        if args.amode == "import-exp":
            tables = import_exp(spark, args.exp_file)
            write_curve_tables(tables, stats_dir)
            for name in tables:
                print(f"{name}: {_written_count(spark, stats_dir, name)}"
                      " rows imported")
        else:
            from .sources.store import read_curve_tables

            tables = read_curve_tables(spark, stats_dir)
            sid = Path(stats_dir) / "stop_ids"
            if sid.exists():
                tables["stop_ids"] = spark.read.parquet(str(sid))
            export_exp(tables, args.exp_file)
            print(f"wrote {args.exp_file}")
        return 0

    sched, vstops, _ = _load_schedule(spark, args)

    if args.amode == "draw-curves":
        from .plans.visual_schedule import stop_pair_curve_series

        tables = _read_stats(spark, args)
        spec, gen = tables["specific"], tables["general"]
        if args.route_ids:
            spec = spec.where(F.col("route_id").isin(args.route_ids))
            gen = gen.where(F.col("route_id").isin(args.route_ids))
        series = stop_pair_curve_series(spec, gen)
        if args.render:
            # CSV write, count, and page render fan out from one
            # materialization instead of recomputing the pipeline
            series = series.persist()
        write_csv_report(series, str(Path(args.dir) / "curves_csv"))
        n_pts = _csv_count(spark, str(Path(args.dir) / "curves_csv"))
        print(f"{n_pts} curve points -> {args.dir}/curves_csv")
        if args.render:
            from .rendering import render_curve_pages

            out = Path(args.dir) / "curves_svg"
            out.mkdir(parents=True, exist_ok=True)
            n = 0
            # pages render on the executors; the driver only streams the
            # finished files out (the reference's save_to_svg loop)
            for row in render_curve_pages(series).toLocalIterator():
                name = (f"{row.route_id}_{row.route_variant}_"
                        f"{row.time_slot}_{row.start_stop_index}-"
                        f"{row.end_stop_index}.svg")
                (out / name).write_text(row.svg)
                n += 1
            print(f"{n} SVG pages -> {out}")
            series.unpersist()
        return 0

    if args.amode == "graph":
        from .plans.visual_schedule import trip_point_series

        records = _read_records(spark, args)
        if args.route_ids:
            records = records.where(F.col("route_id").isin(args.route_ids))
        series = trip_point_series(records, vstops)
        # flatten the per-trip point arrays for the CSV sink (the
        # reference writes one gnuplot row per point)
        series = series.select(
            "route_id", "route_variant", "trip_start_date", "trip_id",
            F.posexplode("points").alias("pos", "pt"),
        ).select("route_id", "route_variant", "trip_start_date", "trip_id",
                 "pos", "pt.stop_index", "pt.delay_arrival",
                 "pt.delay_departure")
        write_csv_report(series, str(Path(args.dir) / "graph_csv"))
        n_pts = _csv_count(spark, str(Path(args.dir) / "graph_csv"))
        print(f"{n_pts} graph points -> {args.dir}/graph_csv")
        if args.render:
            from .plans.visual_schedule import schedule_page_series
            from .rendering import render_schedule_pages

            pages_df = render_schedule_pages(schedule_page_series(
                records, sched["trips"], sched["stop_times"], vstops))
            out = Path(args.dir) / "graph_png"
            out.mkdir(parents=True, exist_ok=True)
            n = 0
            for row in pages_df.toLocalIterator():
                name = f"{row.route_id}_{row.route_variant}.png"
                (out / name).write_bytes(bytes(row.png))
                n += 1
            print(f"{n} PNG pages -> {out}")
        return 0

    # compute-curves family (analyser/mod.rs:143-189)
    if getattr(args, "incremental_day", None):
        from .plans.incremental import incremental_analyse

        delta = _read_records(spark, args).where(
            F.col("trip_start_date") == args.incremental_day)
        items = prepare_dbitems(delta, vstops)
        tables = incremental_analyse(spark, str(Path(args.dir) / "stats"),
                                     items, sched["routes"])
        write_curve_tables(tables, str(Path(args.dir) / "stats"))
        for name in tables:
            print(f"{name}: "
                  f"{_written_count(spark, str(Path(args.dir) / 'stats'), name)}"
                  " curve rows (incremental)")
        return 0

    records = _read_records(spark, args)
    if args.route_ids:
        records = records.where(F.col("route_id").isin(args.route_ids))
    items = prepare_dbitems(records, vstops).cache()
    try:
        tables = {}
        want_specific = args.amode in ("compute-curves",
                                       "compute-specific-curves") \
            and not getattr(args, "default_only", False)
        want_default = args.amode in ("compute-curves",
                                      "compute-default-curves") \
            or getattr(args, "default_only", False)
        if want_specific:
            tables["specific"] = stop_pair_curve_sets(items)
            tables["general"] = general_delay_curves(items)
        if want_default:
            tables["default"] = default_curves(items, sched["routes"])
        write_curve_tables(tables, str(Path(args.dir) / "stats"))
        for name in tables:
            print(f"{name}: "
                  f"{_written_count(spark, str(Path(args.dir) / 'stats'), name)}"
                  " curve rows")
    finally:
        items.unpersist()
    return 0


def cmd_predict(spark, args) -> int:
    from .plans.predict import curve_percentiles, predict
    from .schemas import EVENT_ARRIVAL, EVENT_DEPARTURE

    sched, vstops, sched_name = _load_schedule(spark, args)
    tables = _read_stats(spark, args)

    if args.pmode == "start":
        from .plans.scheduled import scheduled_predictions

        now = (dt.datetime.fromisoformat(args.now) if args.now
               else dt.datetime.now())
        pdir = Path(args.dir) / "predictions"
        existing = (spark.read.parquet(str(pdir)) if pdir.exists()
                    else None)
        preds = scheduled_predictions(spark, sched, vstops, tables, now,
                                      existing_predictions=existing,
                                      source=args.source,
                                      schedule_file_name=sched_name)
        n = _append_predictions(preds, str(pdir))
        print(f"wrote {n} scheduled prediction rows")
        return 0

    # single lookup (predictor/mod.rs:33-87)
    et = EVENT_ARRIVAL if args.event_type == "arrival" else EVENT_DEPARTURE
    when = dt.datetime.fromisoformat(args.date_time)
    geom = (vstops.where((F.col("route_id") == args.route_id))
            .join(sched["trips"].where(F.col("trip_id") == args.trip_id)
                  .select("route_id", "route_variant").distinct(),
                  ["route_id", "route_variant"]))
    end = geom.where(F.col("stop_sequence") == args.end_stop_sequence) \
        .select("route_variant", "stop_index", "stop_count").first()
    if end is None:
        raise SystemExit("trip/stop_sequence not found in schedule")
    route_type = sched["routes"].where(F.col("route_id") == args.route_id) \
        .select("route_type").first().route_type

    row = {
        "route_id": args.route_id, "route_variant": end.route_variant,
        "route_type": int(route_type), "event_type": et,
        "event_dt": when, "end_stop_index": end.stop_index,
        "stop_count": end.stop_count,
    }
    if args.start_stop_sequence is not None:
        start = geom.where(
            F.col("stop_sequence") == args.start_stop_sequence) \
            .select("stop_index").first()
        if start is None:
            raise SystemExit("start stop_sequence not found")
        row["start_stop_index"] = start.stop_index
        row["initial_delay"] = args.initial_delay
    lookups = spark.createDataFrame([row])
    out = predict(lookups, tables["specific"], tables["general"],
                  tables["default"])
    out = out.withColumn("percentiles",
                         curve_percentiles(F.col("prediction_curve")))
    r = out.first()
    print(f"precision_type={r.precision_type} "
          f"sample_size={r.sample_size} percentiles={r.percentiles}")
    return 0


def cmd_monitor(spark, args) -> int:
    sched, _, _ = _load_schedule(spark, args)

    if args.mmode == "autocomplete":
        from .plans.monitor import autocomplete_stops

        for r in autocomplete_stops(sched["stops"], args.query).collect():
            print(r.stop_name)
        return 0

    if args.mmode == "serve":
        from .monitor_app import MonitorApp, serve_monitor
        from .sources.store import read_predictions

        preds = read_predictions(spark, str(Path(args.dir) / "predictions"))
        srv = serve_monitor(MonitorApp(sched, preds), port=args.port)
        print(f"Waiting for connections on 0.0.0.0:{args.port}…",
              file=sys.stderr)
        srv.serve_forever()
        return 0

    from .plans.monitor import (
        departure_board, extended_stops, predictions_for_stop,
    )
    from .sources.store import read_predictions

    preds = read_predictions(spark, str(Path(args.dir) / "predictions"))
    when = dt.datetime.fromisoformat(args.when)
    until = when + dt.timedelta(hours=args.window_hours)
    ext = extended_stops(sched["stops"], args.stop_name)
    stop_ids = [r.stop_id for r in ext.collect()]
    at_stop = predictions_for_stop(preds, stop_ids, when, until)
    board = departure_board(at_stop, when, until, all_predictions=preds,
                            with_heat_strip=args.strips)
    for r in board:
        strip = [(r.strip_data_url or "")[:48]] if args.strips else []
        print(r.trip_id, r.stop_id, r.t50, *strip, sep="\t")
    return 0


def _cmd_corpus_profile(spark, args) -> int:
    """`corpus profile`: one-scan column profile of a parquet table.
    Distinct counts default to the approx (HLL, no-Expand) rung when
    the table exceeds --approx-threshold rows — the 100 TB default —
    and to exact below it (or with --exact)."""
    import json
    import uuid

    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampType,
    )

    from .functions import sketch_sql as SK
    from .functions import sql_shared as S

    path = args.table or str(Path(args.dir) / "documents.parquet")
    df = spark.read.parquet(path)

    def kind(f) -> str:
        if isinstance(f.dataType, NumericType):
            return "num"
        if isinstance(f.dataType, (TimestampType, DateType)):
            return "ts"
        return "str"

    cols = tuple((f.name, kind(f)) for f in df.schema.fields)
    n_rows = df.count()
    approx = (not args.exact) and n_rows > args.approx_threshold
    view = f"__prof_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(view)
    out = spark.sql(SK.q_table_profile(S.SPARK, table=view, cols=cols,
                                       approx=approx))
    rows = [r.asDict() for r in out.collect()]
    spark.catalog.dropTempView(view)
    print(json.dumps({"table": path, "n_rows": n_rows,
                      "distinct_mode": "approx" if approx else "exact",
                      "columns": rows}, sort_keys=True))
    return 0


def _cmd_corpus_mixture(spark, args) -> int:
    """`corpus mixture`: solve and print the per-source mixture table
    (alloc tokens, epochs_e6 = sampling rate, capped flag) for a
    token budget — the read-only face of the water-filling solver;
    `corpus prepare-shards --mixture-budget` applies the same solve."""
    import json
    import uuid

    from .functions import sampling_sql as SAMP
    from .functions import sql_shared as S

    path = args.docs or str(Path(args.dir) / "documents.parquet")
    docs = spark.read.parquet(path)
    cap = args.epoch_cap_e6 or SAMP.MIX_EPOCH_CAP_E6
    view = f"__mix_cli_{uuid.uuid4().hex[:12]}"
    docs.createOrReplaceTempView(view)
    rows = [r.asDict() for r in spark.sql(SAMP.q_mixture_weights(
        S.SPARK, budget=args.budget, epoch_cap_e6=cap,
        doc_table=view)).collect()]
    spark.catalog.dropTempView(view)
    rows.sort(key=lambda r: r["source"])
    print(json.dumps({"budget": args.budget, "epoch_cap_e6": cap,
                      "total_alloc": sum(r["alloc_tok"] for r in rows),
                      "sources": rows}, sort_keys=True))
    return 0


def _cmd_media_dedup(spark, args) -> int:
    """Perceptual near-dup over a media parquet, keeper table out.

    image/audio: payload -> fingerprint -> Hamming-banded pairs ->
    CC min-id keeper (operators/perceptual.image_dedup_keep).
    video: frames -> per-frame dHash -> shared-frame containment
    pairs -> CC min-id keeper.  ALL modalities seed the component
    node set with every media_id, so undecodable payloads (which
    never fingerprint) survive as singleton keepers — uniform keeper
    semantics, counted separately in the accounting line
    (n_undecodable).  Keepers (the surviving full media rows) land at
    --out; one JSON accounting line prints."""
    import json

    from .operators.graph import connected_components
    from .operators.perceptual import (
        dhash_fingerprints,
        ehash_fingerprints,
        image_dedup_keep,
        spectral_fingerprints,
        video_frame_dhash,
        video_near_pairs,
        video_shingle_pairs,
    )

    media = spark.read.parquet(args.media)
    out = args.out or (args.media.rstrip("/") + ".keepers")
    if args.modality == "video":
        # materialize the fingerprint pass: downstream it feeds the
        # pair self-join (both sides), the CC edge table and the
        # fingerprinted count — without the pin each consumer replays
        # the payload decode, the dominant cost on a real media
        # corpus (guide §8 "fingerprints only"; measured 4.67 → 4.29 s
        # median even at the tiny sf0.01 fixture, identical keepers)
        fp = video_frame_dhash(media).localCheckpoint(eager=True)
        if args.order_aware:
            pairs = video_shingle_pairs(fp, args.min_common_shingles)
        else:
            pairs = video_near_pairs(fp, args.min_common_frames)
        cc = connected_components(pairs, "media_a", "media_b",
                                  nodes=media.select("media_id"))
        keep_ids = (cc.where(F.col("node") == F.col("component"))
                    .select(F.col("node").alias("media_id")))
        n_fingerprinted = fp.select("media_id").distinct().count()
    else:
        if args.modality == "audio":
            if args.audio_fingerprint == "spectral":
                fp = spectral_fingerprints(media) \
                    .withColumnRenamed("shash", "dhash")
            else:
                fp = ehash_fingerprints(media) \
                    .withColumnRenamed("ehash", "dhash")
        else:
            fp = dhash_fingerprints(media)
        # same decode-once pin as the video leg: the banded pair
        # self-join and the fingerprinted count would each replay the
        # payload decode otherwise
        fp = fp.localCheckpoint(eager=True)
        # nodes = the FULL id set: undecodable media (absent from fp)
        # become singleton components and survive as keepers — same
        # semantics as the video leg (round-12 ADVICE)
        decided = image_dedup_keep(fp, args.max_hamming,
                                   nodes=media.select("media_id"))
        keep_ids = decided.where(F.col("is_keeper") == 1) \
            .select("media_id")
        n_fingerprinted = fp.count()
    keepers = media.join(keep_ids, "media_id", "left_semi")
    keepers.write.mode("overwrite").parquet(out)
    n_media = media.count()
    n_keep = spark.read.parquet(out).count()
    mode = (("shingle" if args.order_aware else "containment")
            if args.modality == "video"
            else (args.audio_fingerprint if args.modality == "audio"
                  else "dhash"))
    print(json.dumps({"media": args.media, "modality": args.modality,
                      "mode": mode, "out": out, "n_media": n_media,
                      "n_keepers": n_keep,
                      "n_dropped": n_media - n_keep,
                      "n_undecodable": n_media - n_fingerprinted},
                     sort_keys=True))
    return 0


def _cmd_corpus_report(spark, args) -> int:
    """`corpus calibrate` / `corpus fertility` / `corpus pii-report`:
    read-only governance faces of the registered (driver-verified)
    quality_calibration / tokenizer_fertility / pii_source_report
    queries — one JSON line each, rows sorted by their group key."""
    import json
    import uuid

    from .functions import pii_sql as PII
    from .functions import sampling_sql as SAMP
    from .functions import sql_shared as S

    from .functions import dedup_sql as DSQ

    templates = {
        "calibrate": (SAMP.q_quality_calibration, "source"),
        "fertility": (SAMP.q_tokenizer_fertility, "lang"),
        "pii-report": (PII.q_pii_source_report, "source"),
        "plan-dedup": (DSQ.q_dedup_threshold_sweep_lsh, "t_e4"),
        "charclass": (SAMP.q_charclass_profile, "source"),
        "lengths": (SAMP.q_length_calibration, "source"),
        "langid": (SAMP.q_lang_id_confusion_v2, "actual"),
        "langid-v1": (SAMP.q_lang_id_confusion, "actual"),
        "induce-bpe": (SAMP.q_bpe_merges_iter2, "iter"),
    }
    template, key = templates[args.cmode]
    path = args.docs or str(Path(args.dir) / "documents.parquet")
    view = f"__rep_cli_{uuid.uuid4().hex[:12]}"
    spark.read.parquet(path).createOrReplaceTempView(view)
    try:
        rows = [r.asDict() for r in
                spark.sql(template(S.SPARK, doc_table=view)).collect()]
    finally:
        spark.catalog.dropTempView(view)
    # NULL group keys (e.g. a NULL-source row) sort first, not raise
    rows.sort(key=lambda r: (r[key] is None, r[key]))
    print(json.dumps({"table": path, "report": args.cmode,
                      "rows": rows}, sort_keys=True))
    return 0


def _cmd_corpus_pack(spark, args) -> int:
    """`corpus pack`: the packer family end to end — placements (and
    with --emit the materialized sequences) written as parquet, one
    JSON line of occupancy accounting (what a training run pays)."""
    import json

    from .functions.decontam_sql import SEQ_PACK_CTX
    from .operators.packing import (
        emit_sequences,
        pack_sequences,
        pack_sequences_ffd,
        packed_band_stats,
    )

    ctx = args.ctx or SEQ_PACK_CTX
    docs_path = args.docs or str(Path(args.dir) / "documents.parquet")
    out_root = Path(args.out or (Path(args.dir) / "packed"))
    docs = spark.read.parquet(docs_path)
    if args.ffd:
        packed = pack_sequences_ffd(docs, ctx=ctx,
                                    max_open=args.max_open)
    else:
        packed = pack_sequences(docs, ctx=ctx)
    placements_path = str(out_root / "placements")
    packed.write.mode("overwrite").parquet(placements_path)
    packed = spark.read.parquet(placements_path)  # reuse, don't rewalk
    stats = packed_band_stats(packed, ctx=ctx).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_seqs").alias("n_seqs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("padding_tokens").alias("padding_tokens")).collect()[0]
    result = {
        "algo": "ffd" if args.ffd else "nfd",
        "ctx": ctx,
        "n_docs": stats["n_docs"],
        "n_seqs": stats["n_seqs"],
        "total_tokens": stats["total_tokens"],
        "padding_tokens": stats["padding_tokens"],
        "fill_share": round(
            stats["total_tokens"]
            / (ctx * stats["n_seqs"]), 4) if stats["n_seqs"] else 0.0,
        "placements": placements_path,
    }
    if args.emit:
        seq_path = str(out_root / "sequences")
        emit_sequences(docs, packed, ctx=ctx)             .write.mode("overwrite").parquet(seq_path)
        result["sequences"] = seq_path
    print(json.dumps(result, sort_keys=True))
    return 0


def _cmd_corpus_plan_batches(spark, args) -> int:
    """`corpus plan-batches`: run the dynamic batcher and print the
    loader-facing accounting — what the accelerator would compute
    (padded cost) vs the real token mass, per the caps."""
    import json

    from .operators.packing import batch_stats, schedule_batches

    docs_path = args.docs or str(Path(args.dir) / "documents.parquet")
    docs = spark.read.parquet(docs_path)
    stats = batch_stats(schedule_batches(
        docs, max_tokens=args.max_tokens, max_seqs=args.max_seqs))
    agg = stats.agg(
        F.count("*").alias("n_batches"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("real_tokens").alias("real_tokens"),
        F.sum("padded_cost").alias("padded_cost"),
        F.max("max_len").alias("longest_row")).collect()[0]
    print(json.dumps({
        "n_batches": agg["n_batches"], "n_rows": agg["n_rows"],
        "real_tokens": agg["real_tokens"],
        "padded_cost": agg["padded_cost"],
        "longest_row": agg["longest_row"],
        "waste_share": round(
            1 - agg["real_tokens"] / agg["padded_cost"], 4)
        if agg["padded_cost"] else 0.0}, sort_keys=True))
    return 0


def cmd_corpus(spark, args) -> int:
    """Training-corpus preparation commands (`corpus prepare-shards`,
    `corpus profile`): the CLI face of plans/corpus.prepare_shards
    and the table profiler — prints accounting as one JSON line."""
    import json

    from .plans.corpus import prepare_shards

    if args.cmode == "profile":
        return _cmd_corpus_profile(spark, args)
    if args.cmode == "mixture":
        return _cmd_corpus_mixture(spark, args)
    if args.cmode == "pack":
        return _cmd_corpus_pack(spark, args)
    if args.cmode == "plan-batches":
        return _cmd_corpus_plan_batches(spark, args)
    if args.cmode == "ingest":
        from .streaming.dedup_stream import run_dedup_stream

        out = args.out or str(Path(args.dir) / "corpus")
        ck = args.checkpoint or str(Path(out) / "_checkpoint")
        q = run_dedup_stream(
            spark, args.in_dir, out, ck,
            max_files_per_trigger=args.max_files_per_trigger,
            blocklist=tuple(args.blocklist) if args.blocklist else None,
            near_dup=not args.no_near_dup)
        q.awaitTermination()
        docs = str(Path(out) / "documents")
        # total corpus size, NOT this run's additions: on resume the
        # table already holds earlier generations' documents
        n = spark.read.parquet(docs).count() if Path(docs).exists() else 0
        print(json.dumps({"corpus": out, "corpus_docs": n},
                         sort_keys=True))
        return 0
    if args.cmode == "media-ingest":
        from .streaming.media_stream import run_media_dedup_stream

        out = args.out or str(Path(args.dir) / "media_corpus")
        ck = args.checkpoint or str(Path(out) / "_checkpoint")
        q = run_media_dedup_stream(
            spark, args.in_dir, out, ck,
            max_files_per_trigger=args.max_files_per_trigger)
        q.awaitTermination()
        media = str(Path(out) / "media")
        n = (spark.read.parquet(media).count()
             if Path(media).exists() else 0)
        print(json.dumps({"corpus": out, "corpus_media": n},
                         sort_keys=True))
        return 0
    if args.cmode == "backfill-bands":
        from .streaming.dedup_stream import backfill_store

        corpus = args.corpus or str(Path(args.dir) / "corpus")
        result = backfill_store(spark, corpus,
                                keep_old=not args.drop_old)
        result["corpus"] = corpus
        print(json.dumps(result, sort_keys=True))
        return 0
    if args.cmode == "media-dedup":
        return _cmd_media_dedup(spark, args)
    if args.cmode in ("calibrate", "fertility", "pii-report",
                      "plan-dedup", "charclass", "lengths",
                      "langid", "langid-v1", "induce-bpe"):
        return _cmd_corpus_report(spark, args)
    docs_path = args.docs or str(Path(args.dir) / "documents.parquet")
    out_root = args.out or str(Path(args.dir) / "shards")
    if args.quality_weighted and args.mixture_budget is None:
        raise SystemExit("--quality-weighted requires --mixture-budget "
                         "(the gate rides the mixture solve)")
    docs = spark.read.parquet(docs_path)
    if args.mixture_budget is not None:
        from .plans.corpus import apply_mixture

        docs = apply_mixture(docs, budget=args.mixture_budget,
                             epoch_cap_e6=args.mixture_epoch_cap_e6,
                             quality_weighted=args.quality_weighted)
    result = prepare_shards(docs, out_root,
                            shard_tokens=args.shard_tokens,
                            seed=args.seed, batch_id=args.batch_id)
    if args.mixture_budget is not None:
        result["mixture_budget"] = args.mixture_budget
    print(json.dumps(result, sort_keys=True))
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    args = _parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name="dystonse-cli")
    dispatch = {"import": cmd_import, "analyse": cmd_analyse,
                "predict": cmd_predict, "monitor": cmd_monitor,
                "corpus": cmd_corpus}
    return dispatch[args.mode](spark, args)


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
