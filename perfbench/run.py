#!/usr/bin/env python3
"""Benchmark of the reference workflow: GTFS-RT import, curve analysis,
prediction refresh and the departure board.

    python3 perfbench/run.py --workload import_stream --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics from
spans around the engine's layer functions.  A full report (every
sample, the per-micro-batch breakdown, spans) is written to
``.perfbench_out/``; workload data lives in ``.perfbench_work/`` and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
SETUP_REPEATS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")]
                                  if p])


def _spark(work: Path):
    from dystonse_gtfs_importer_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(app_name="perfbench", tz="UTC", extra_conf={
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp; fixed
        # compiler threads, so rss.tree_cpu_s can tell JIT time apart
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        # the status store must keep every job of a traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })


def _stop(spark) -> None:
    """Stop Spark, then wait until the JVM and the Python workers it
    forked have ended."""
    import rss

    gateway = spark.sparkContext._gateway
    started = rss.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()      # the JVM exits at EOF on its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(map(rss.alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _overhead(out_dir: Path, args, e2e: dict, wall: dict) -> dict | None:
    """Tracing overhead: this traced run's end-to-end and wall-clock
    figures minus those of the untraced run of the same workload and
    seed, if one exists."""
    plain = out_dir / f"{args.workload}-{args.seed}-trace0.json"
    if not plain.exists():
        return None
    base = json.loads(plain.read_text())
    out = {k: v - base["end_to_end"][k][0] for k, (v, _) in e2e.items()}
    out.update({k: v - base["wall_clock"][k] for k, v in wall.items()})
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "dystonse_gtfs_importer_spark" / "__init__.py").exists():
        print("perfbench: run from the repository root; the engine package "
              "dystonse_gtfs_importer_spark is not here", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import spans as tr
    import workloads
    from rss import PeakRss, host_cpu_s

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    out_dir.mkdir(exist_ok=True)
    spark = None
    cpu0 = host_cpu_s()
    try:
        with PeakRss() as rss:
            session = []
            with workloads.measure(session):
                spark = _spark(work)
            tracer = tr.Tracer(spark) if args.trace else tr.NullTracer()
            cls = workloads.WORKLOADS[args.workload]
            # set-up is repeated in fresh directories and the median
            # kept; the last one feeds the timed part
            setups = []
            for i in range(SETUP_REPEATS):
                w = cls(spark, work / f"setup{i}", args.seed, tracer)
                traced = i == SETUP_REPEATS - 1
                with tracer.install() if traced else contextlib.nullcontext():
                    with tracer.root("setup"), workloads.measure(setups):
                        w.setup()
            with tracer.install():
                w.run(args.seconds)
            t = time.perf_counter()
            attempted, failed = w.check()
            check_s = time.perf_counter() - t
            if args.trace:
                layers = tracer.report()
                layer_metrics = tracer.metrics(w)
        # set-up: CPU seconds net of JIT compilation, at the reference
        # host speed, of the session start plus the median set-up
        e2e = {"setup_s": (workloads.speed_scale() * (
                   session[0]["work_s"] + statistics.median(
                       s["work_s"] for s in setups)), "s"),
               "peak_rss_mb": (rss.peak_mb, "MB"), **workloads.summarize(w)}
        wall = {"setup_wall_s": session[0]["wall_s"] + statistics.median(
                    s["wall_s"] for s in setups), **workloads.wall_clock(w)}
        report = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "session": session[0], "setup_runs": setups,
                  "bulk_runs": w.bulk, "ops": len(w.ops),
                  "op_runs": w.ops, "check_s": check_s,
                  "host_cpu_s": {k: v - cpu0[k]
                                 for k, v in host_cpu_s().items()},
                  "speed_scale": workloads.speed_scale(),
                  "end_to_end": e2e, "wall_clock": wall, "notes": w.notes}
        if args.trace:
            report.update(layers=layers, per_layer=layer_metrics,
                          overhead=_overhead(out_dir, args, e2e, wall))
        (out_dir / f"{args.workload}-{args.seed}-trace{args.trace}.json") \
            .write_text(json.dumps(report, indent=1, default=str))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {k: {"value": v, "unit": u}
               for k, (v, u) in (layer_metrics if args.trace else e2e).items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
