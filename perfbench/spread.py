#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median, quartiles and spread (quartile distance ÷ median).

    python3 perfbench/spread.py --workload board --seeds 1-10 --seconds 5

Run from the repository root.  With ``--baseline FILE`` one traced run
of the first seed follows, and the workload's summary, its per-layer
metrics and the tracing overhead are merged into that JSON file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

OUT = Path(".perfbench_out")


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: str, trace: int = 0) -> dict:
    t = time.perf_counter()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds", seconds,
                        "--trace", str(trace)], capture_output=True, text=True)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        raise SystemExit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    report = json.loads(
        (OUT / f"{workload}-{seed}-trace{trace}.json").read_text())
    return {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1]),
            "report": report, "steal_s": report["host_cpu_s"]["steal"]}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=_seeds, required=True,
                   help="a seed or a range such as 1-10")
    p.add_argument("--seconds", default="5")
    p.add_argument("--baseline", type=Path)
    args = p.parse_args(argv)

    runs = []
    for seed in args.seeds:
        r = run(args.workload, seed, args.seconds)
        res = r["result"]
        print(f"seed {seed:3d}  wall {r['wall_s']:6.1f} s  steal "
              f"{r['steal_s']:5.1f} s  correct {res['correct']}  "
              f"{res['attempted']}/{res['failed']}  "
              + "  ".join(f"{k} {m['value']:.4g}"
                          for k, m in res["metrics"].items()), flush=True)
        runs.append(r)
    names = list(runs[0]["result"]["metrics"])
    stats = {k: summary([r["result"]["metrics"][k]["value"] for r in runs])
             for k in names}
    for k, s in stats.items():
        print(f"{k:12s} median {s['median']:10.4g}  q1 {s['q1']:10.4g}  "
              f"q3 {s['q3']:10.4g}  spread {s['spread']:.3f}")
    wall = {k: summary([r["report"]["wall_clock"][k] for r in runs])
            for k in runs[0]["report"]["wall_clock"]}
    for k, s in wall.items():
        print(f"{k:12s} median {s['median']:10.4g}  spread {s['spread']:.3f}"
              "  (wall clock, report only)")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f} s")

    if args.baseline:
        base = (json.loads(args.baseline.read_text())
                if args.baseline.exists() else {})
        entry = {"seeds": args.seeds, "seconds": float(args.seconds),
                 "wall_s_median": statistics.median(r["wall_s"] for r in runs),
                 "all_correct": all(r["result"]["correct"] for r in runs),
                 "end_to_end": stats, "wall_clock": wall,
                 "runs": [{"seed": r["seed"], "wall_s": r["wall_s"],
                           "steal_s": r["steal_s"],
                           **{k: m["value"] for k, m
                              in r["result"]["metrics"].items()},
                           **r["report"]["wall_clock"]}
                          for r in runs]}
        t = run(args.workload, args.seeds[0], args.seconds, trace=1)
        entry.update(traced_seed=args.seeds[0], traced_wall_s=t["wall_s"],
                     per_layer={k: m["value"] for k, m
                                in t["result"]["metrics"].items()},
                     tracing_overhead=t["report"]["overhead"])
        base.setdefault("workloads", {})[args.workload] = entry
        args.baseline.write_text(json.dumps(base, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
