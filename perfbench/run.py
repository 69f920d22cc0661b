"""Benchmark for the Excel-to-Parquet engine and its registry queries.

Run from the root of a checkout::

    python3 perfbench/run.py --workload convert_single --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload, one after another. With
``--trace 0`` the last line of standard output is a JSON object with the
end-to-end metrics; with ``--trace 1`` the run also records spans and Spark
counters around each layer's calls, runs the layer probes, prints a
self-time table to standard error and reports the per-layer metrics. Every
file the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def process_start_time() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - started)


def host_steal(nproc: int) -> dict:
    """Hypervisor steal under a short all-cores burn, from the repository's
    host probe (imported read-only); an error string if it cannot run."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.append(tools)  # the probe's spawned workers import it by name
    try:
        from host_probe import measure_steal

        return measure_steal(seconds=0.3, procs=nproc)
    except Exception as exc:  # noqa: BLE001 — context only, never a failure
        return {"error": f"{type(exc).__name__}: {exc}"[:200]}


def source_stamp() -> dict:
    """git sha when the checkout is a repository, and always a digest of
    the engine's sources, so a record names the code it measured."""
    import hashlib

    git = os.path.join(ROOT, ".git")
    sha = "unknown"
    if os.path.exists(os.path.join(git, "HEAD")):
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            sha = head  # detached
        elif os.path.exists(os.path.join(git, head[5:])):
            with open(os.path.join(git, head[5:])) as f:
                sha = f.read().strip()
        elif os.path.exists(os.path.join(git, "packed-refs")):
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:  # "<sha> <ref>" lines, among comments and peeled tags
                    parts = line.split()
                    if len(parts) == 2 and parts[1] == head[5:]:
                        sha = parts[0]
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_to_parquet_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {"git_sha": sha, "source_digest": h.hexdigest()[:16]}


def configure_environment(scratch: str) -> None:
    """Keep every file Spark, Python workers and the engine write under
    ``scratch``, and give the workers this checkout's package."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # Under the engine's 8g default the driver JVM's heap grows by GC timing:
    # its peak RSS on query_mix ranged 2.1-3.4 GB over five seeds (4 cores,
    # 15 GB of memory), so peak_rss_mb could not resolve its bound. A 2g heap
    # holds every workload, keeps the JVM's resident size steady and the
    # benchmark's footprint small on a shared machine. The record stamps the
    # value.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the launcher JVM that spark-submit starts first gets these, not the
    # driver's java options below
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    sys.path[:0] = [HERE, ROOT]
    os.chdir(scratch)


def stop_children() -> None:
    """Stop the JVM gateway and wait for it and the Python workers under it."""
    from pyspark import SparkContext

    from spans import process_tree

    spark_pids = [p for p, (role, _, _) in process_tree().items() if role != "driver"]

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        left = [pid for pid in spark_pids if os.path.exists(f"/proc/{pid}")]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def summary(workload: str, result: dict, failures: dict[str, str]) -> str:
    n = result["attempted"]
    tail = workloads.tail_percentile(n)
    lines = [f"== {workload}: {n} ops, {result['failed']} failed, "
             f"fail_ratio {result['failed'] / n:.3f}; op latency is reported as the "
             f"Harrell-Davis median of {n} samples"
             + (f" (p{tail} has >= 10 samples beyond it)" if tail and tail > 50 else
                " (no higher percentile has >= 10 samples beyond it)")]
    for name, m in result["metrics"].items():
        lines.append(f"  {name:40s} {m['value']:>14.4f} {m['unit']}")
    lines += [f"  FAILED {os.path.basename(out)}: {why}" for out, why in failures.items()]
    return "\n".join(lines)


def run_one(args) -> int:
    process_start = process_start_time()
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    configure_environment(scratch)
    nproc = len(os.sched_getaffinity(0))
    stamp_t0 = time.time()
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        **source_stamp(), "loadavg_start": os.getloadavg(),
        "steal_start": host_steal(nproc),
    }
    stamp["sf"] = workloads.MIX_SF if args.workload == "query_mix" else workloads.WARM_SF
    # set-up time excludes the benchmark's own stamping (steal probe)
    run = workloads.Run(WORK, args.workload, args.seed, args.seconds,
                        bool(args.trace), process_start + time.time() - stamp_t0)
    phases = {"start": time.time()}
    try:
        run.setup()
        phases["setup"] = time.time()
        getattr(run, args.workload)()
        phases["workload"] = time.time()
        metrics = run.end_to_end()
        if args.trace:
            run.probes()
            metrics = run.per_layer()
            sys.stderr.write(run.tracer.table(args.workload) + "\n")
    finally:
        try:
            run.close()
        finally:
            phases["close"] = time.time()
            stop_children()
            phases["stop"] = time.time()
    workloads.prepare(WORK)  # after measuring: only a checkout's first run has work here
    stamp["phases_s"] = {k: round(v - process_start, 2) for k, v in phases.items()}
    stamp["op_latencies_s"] = [round(x, 3) for x in run.latencies]
    stamp.update(loadavg_end=os.getloadavg(), steal_end=host_steal(nproc))
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # started by the steal probe
    if args.trace:
        run.tracer.write(os.path.join(
            WORK, f"spans-{args.workload}-{args.seed}.json"), stamp)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(WORK, "records.jsonl"), "a") as f:
        f.write(json.dumps({**stamp, **result}) + "\n")
    sys.stderr.write("record " + json.dumps(stamp) + "\n")
    sys.stderr.write(summary(args.workload, result, run.failures) + "\n")
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


def run_all(args) -> int:
    """Each workload in its own process, one after another."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads.WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        if out.returncode != 0:
            return out.returncode
        res = json.loads(out.stdout.strip().splitlines()[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    sys.stdout.write(json.dumps(merged) + "\n")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    for need in ("data_to_parquet_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            sys.stderr.write(f"perfbench: {need} not found next to perfbench/; "
                             "run from the root of a checkout of the engine\n")
            return 2
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:  # noqa: BLE001 — report, exit non-zero, print no result
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
