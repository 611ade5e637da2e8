#!/usr/bin/env python3
"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload polite_drip --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0

Run from the repository root. The last stdout line is one JSON record
(``correct``, ``attempted``, ``failed``, ``metrics``): the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Per-wave data, per-layer data, spans and the box's state go to the
sidecar ``perfbench/out/<workload>-seed<seed>-trace<t>.json``. Exit code
1 means a correctness gate failed, 2 that the program could not be
imported; an uncaught error also exits non-zero without a record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import box, stats  # noqa: E402
from perfbench.workloads import CATALOG_N, END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(workdir: str, heap_mb: int) -> None:
    """Everything the program reads from the environment at import or
    session start; every path stays inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_GRAFT_CATALOG_N"] = str(CATALOG_N)
    os.environ.pop("PCS_LIVE_TRANSPORT", None)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _reap_children(timeout_s: float = 30.0) -> None:
    deadline = time.time() + timeout_s
    while box.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in box.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def run_one(args) -> int:
    workload = WORKLOADS[args.workload]
    nproc, mem_mb = box.nproc(), box.mem_total_mb()
    heap_mb = box.driver_heap_mb(mem_mb)
    workdir = os.path.join(HERE, "work", f"{workload.name}-{os.getpid()}")
    _environment(workdir, heap_mb)
    box_before = box.snapshot()
    try:
        # imported only now: the program reads the catalogue size at import
        try:
            from perfbench.crawl import run_workload
            from price_crawler_spark.session import get_spark
        except ImportError as e:
            print(f"cannot import the program beside the benchmark: {e}",
                  file=sys.stderr)
            return 2
        with box.Monitor() as mon:
            t0 = time.perf_counter()
            spark = get_spark(
                f"perfbench-{workload.name}", cores=nproc,
                shuffle_partitions=nproc,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
            spark_start_s = time.perf_counter() - t0
            try:
                out = run_workload(spark, workload, args.seed, args.seconds,
                                   bool(args.trace), workdir)
            finally:
                _stop_spark(spark)
                _reap_children()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out["e2e"]["peak_rss_mb"] = mon.peak_mb
    out["peak_rss_parts_mb"] = mon.peak_parts
    out.update(
        workload=workload.name, seed=args.seed, seconds=args.seconds,
        trace=args.trace, spark_start_s=spark_start_s, driver_heap_mb=heap_mb,
        box_before=box_before, box_after=box.snapshot(),
    )
    if args.trace:
        layers = out.get("layers", {})
        missing = [k for k in PER_LAYER if k not in layers]
        if missing and out["correct"]:
            raise RuntimeError(f"traced run did not measure {missing}")
        # a failed run reports 0 for what it could not measure
        metrics = {k: (layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (out["e2e"][k], u) for k, u in END_TO_END.items()}
    line = stats.record(out["correct"], out["attempted"], out["failed"], metrics)

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    side = os.path.join(
        HERE, "out", f"{workload.name}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as f:
        json.dump(out, f, indent=1, default=str)
    if not out["correct"]:
        print(f"correctness gate failed: {out['checks']} {out['errors']}",
              file=sys.stderr)
    print(line, flush=True)
    return 0 if out["correct"] else 1


def run_all(args) -> int:
    """Every workload in its own process, then one combined record with
    metrics named ``<workload>.<metric>``."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if not lines:
            print(f"{name}: no result (exit {p.returncode})", file=sys.stderr)
            return 2
        print(f"{name}: {lines[-1]}", flush=True)
        rec = json.loads(lines[-1])
        correct &= rec["correct"] and p.returncode == 0
        attempted += rec["attempted"]
        failed += rec["failed"]
        for k, v in rec["metrics"].items():
            metrics[f"{name}.{k}"] = (v["value"], v["unit"])
    print(stats.record(correct, attempted, failed, metrics), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        if args.trace:
            sys.exit("--workload all runs untraced; trace one workload at a time")
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
