"""Measure the benchmark's run-to-run spread and record it in
``spreads.json``: each workload runs once per seed, and each end-to-end
metric's spread is the distance between the first and third quartile of its
values as a share of their median. Every batch is kept; each workload's
``widest`` entry holds, per metric, the largest spread of its batches. Run
from the root of a checkout::

    python3 perfbench/spread.py --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10", help="first-last")
    p.add_argument("--workloads", default=None, help="comma-separated; default all")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    first, last = (int(x) for x in args.seeds.split("-"))
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    path = os.path.join(HERE, "spreads.json")
    report = {"workloads": {}}
    if os.path.exists(path):
        with open(path) as f:
            report = json.load(f)
    for w in names:
        values: dict[str, list[float]] = {}
        durations, failed = [], 0
        for seed in range(first, last + 1):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, *bench["command"][1:], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
            durations.append(time.time() - t0)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            failed += res["failed"]
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(w, seed, f"{durations[-1]:.1f}s", {k: round(m["value"], 3)
                  for k, m in res["metrics"].items()}, flush=True)
        metrics = {}
        for k, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            metrics[k] = {"median": statistics.median(v), "spread": (q3 - q1) / statistics.median(v)}
        entry = report["workloads"].setdefault(w, {"batches": []})
        entry["batches"].append({"seeds": args.seeds, "run_seconds": bench["run_seconds"],
                                 "runs": len(durations), "failed_ops": failed,
                                 "run_s_median": statistics.median(durations),
                                 "metrics": metrics})
        entry["widest"] = {k: {"spread": max(b["metrics"][k]["spread"] for b in entry["batches"]),
                               "bound": bounds[k]} for k in metrics}
        for k, m in metrics.items():
            print(f"  {w:15s} {k:14s} median {m['median']:12.4f} spread {m['spread']:.4f} "
                  f"widest {entry['widest'][k]['spread']:.4f} bound {bounds[k]}", flush=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
