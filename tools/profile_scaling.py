"""Stage-level decomposition of the scaling job at two parallelism levels.

Times ``bench.frontier_throughput`` — the job ``bench.py --scaling`` runs in
each leg — with the Spark event log on, after one warm-up call, and prints
the timed call's per-stage task metrics (``bench.aggregate_event_log``):
wall time (stage submit -> completion), summed executor run time, GC,
shuffle bytes. The point is to ATTRIBUTE the non-scaling seconds: a stage
whose wall time doesn't shrink from the low to the high core count while
its summed run time stays flat is a granularity/straggler problem; one
whose summed run time GROWS at the high count is a contention
(memory-bandwidth / GC) problem.

Usage: PYTHONPATH=. python tools/profile_scaling.py [cpus ...]
(defaults to the legs of ``bench.py --scaling``: N and 4N, N a quarter of
session.DEFAULT_CPUS, at least 1). The input is ``$SPARK_GRAFT_SF_DIR`` with
``$SPARK_GRAFT_URL_VARIANTS`` variants per order, as in ``bench.py``; set the
latter to ``bench.scaling_legs(cpus)[2]`` to profile a leg's full input.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def run_once(cpus: int) -> dict:
    from price_crawler_spark.session import get_spark

    with tempfile.TemporaryDirectory() as evdir:
        spark = get_spark(
            f"prof{cpus}", cores=cpus, shuffle_partitions=cpus,
            extra_conf=bench.event_log_conf(evdir),
        )
        bench.frontier_throughput(spark, bench.SF_DIR)  # warm-up: codegen, Python workers
        n_urls, sec = bench.frontier_throughput(spark, bench.SF_DIR)
        # the call times its own window, after materializing its input
        t_timed = time.time() - sec
        spark.stop()  # closes the event log
        stages = bench.aggregate_event_log(evdir, t_timed)
    return {"cpus": cpus, "n_urls": n_urls, "wall_s": round(sec, 2), "stages": stages}


if __name__ == "__main__":
    cpus_list = [int(a) for a in sys.argv[1:]] or list(bench.scaling_legs(bench.CPUS)[:2])
    for c in cpus_list:
        print(json.dumps(run_once(c), indent=1))
