#!/usr/bin/env python3
"""The repo benchmark: staged KG build and SPARQL reads, end to end
(``--trace 0``) or split by module from spans and Spark's event log
(``--trace 1``).

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload kg_build --seed 42 \\
        --seconds 12 --trace 0

Prints one line of run details (host, input size, samples, failures)
and, last, one JSON line ``{"correct", "attempted", "failed",
"metrics"}``.  Everything it writes goes under ``.perfbench/`` in the
checkout: staged inputs (cached by generator version, seed, size and
shape), warehouses, Spark's local and temp dirs and the event log.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("kg_build", "kg_query")


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and the Python workers) until stopped."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            if self._done.wait(self.interval):
                return


def tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and its descendants.  A child within
    10 % of its parent's VmRSS is a clone that still shares the
    parent's memory (the JVM spawns helper processes with CLONE_VM, a
    fresh fork shares its pages) and is not counted twice."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry) as fp:
                stat = fp.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    memo: dict[int, int] = {}

    def rss(pid):
        if pid not in memo:
            try:
                with open("/proc/%d/status" % pid) as fp:
                    for line in fp:
                        if line.startswith("VmRSS:"):
                            memo[pid] = int(line.split()[1])
                            break
            except OSError:
                pass
        return memo.get(pid, 0)

    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        own, up = rss(pid), rss(parent.get(pid, 0))
        if pid == root or abs(own - up) > 0.1 * up:
            total += own
    return total


def host_info() -> dict:
    import pyarrow
    import pyspark
    mem_kb = 0
    with open("/proc/meminfo") as fp:
        for line in fp:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "mc2skos_spark", "**",
                                              "*.py"), recursive=True)):
        with open(path, "rb") as fp:
            digest.update(fp.read())
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_mb": mem_kb // 1024,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "git_sha": sha, "src_sha256": digest.hexdigest()[:16],
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS")}


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it
    exits when its stdin from this process closes)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "mc2skos_spark", "plans",
                                       "pipeline.py")):
        print("perfbench: no mc2skos_spark package beside perfbench/; run "
              "it from the root of a full checkout", file=sys.stderr)
        return 2

    # keep every file the run writes inside the checkout
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = ("-Djava.io.tmpdir=%s -XX:-UsePerfData"
                                       % tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    import tempfile
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    from perfbench import eventlog, kg
    from mc2skos_spark.plans.session import build_session

    rss = PeakRss().start()
    conf = {"spark.local.dir": local, "spark.ui.showConsoleProgress": "false"}
    event_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t_session = time.perf_counter()
    spark = build_session(app_name="perfbench-" + args.workload,
                          extra_conf=conf)
    session_s = time.perf_counter() - t_session
    outcome = kg.Outcome()
    details: dict = {}
    try:
        if args.trace:
            layer_metrics = kg.traced(spark, WORK, kg.RECORDS, args.seed,
                                      session_s, outcome)
        else:
            metrics, details = kg.WORKLOADS[args.workload](
                spark, WORK, kg.RECORDS, args.seed, args.seconds, t_start,
                outcome)
    finally:
        spark.stop()
        stop_jvm()
        peak_mb = rss.stop()
    if args.trace:
        (log,) = glob.glob(os.path.join(event_dir, "*"))
        metrics = layer_metrics(eventlog.parse_file(log))
        details["eventlog_bytes"] = os.path.getsize(log)
    else:
        metrics["peak_rss_mb"] = (peak_mb, "MB")

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "host": host_info(),
                      "details": details, "errors": outcome.errors}))
    print(json.dumps({
        "correct": not outcome.errors,
        "attempted": outcome.attempted, "failed": outcome.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
