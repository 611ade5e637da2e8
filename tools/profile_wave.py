"""Stage-level decomposition of the full wave loop (bench.py --engine).

VERDICT r3 item 8: the wave loop plateaus ~3 orders of magnitude below the
standalone frontier bound; this tool attributes the gap so the
10^8-URL-wave extrapolation in BASELINE.md rests on a measured stage
breakdown instead of "fetch UDF + commit overhead by design".

Two attributions: ``CrawlRun.phase_seconds`` — the wave loop's four
blocking driver steps (pending_probe / fetch / children_seen / commit)
cover the whole wave wall, timed around those calls — and the event log's
per-stage metrics grouped by job description: the wave tags its jobs
``wave:<phase>`` and ``SnapshotStore.commit`` tags each concurrent table
write ``commit:<table>`` (the seed commit's ``seed_commit:<table>``).
Stage wall seconds of concurrent stages overlap, so a group's ``wall_s``
is a sum of stage spans, not a share of the wave.

Usage: PYTHONPATH=. python tools/profile_wave.py [cpus] [queries]
(cpus defaults to session.DEFAULT_CPUS: SPARK_GRAFT_CPUS or the core count)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from profile_scaling import aggregate_event_log  # noqa: E402

from price_crawler_spark.session import DEFAULT_CPUS  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_CPUS
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_ENGINE_QUERIES", "800")
    )
    os.environ.setdefault("SPARK_GRAFT_CATALOG_N", "3000")

    from price_crawler_spark.frontier.seeds import STORE_HOST
    from price_crawler_spark.frontier.wave import CrawlRun
    from price_crawler_spark.session import get_spark

    evdir = os.path.join(tempfile.gettempdir(), f"spark-events-wave-{cpus}")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)
    spark = get_spark(
        # 4 tasks/core: late-binding balance for the store-heterogeneous
        # fetch groups — same rationale + A/B numbers as bench.run_engine
        f"wave-prof{cpus}", cores=cpus, shuffle_partitions=4 * cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    queries = [f"gpu{i:06d}" for i in range(n_queries)]
    with tempfile.TemporaryDirectory() as root:
        t0 = time.time()
        run = CrawlRun(
            spark, root, queries=queries, wave_seconds=1e6,
            mega_hosts=list(STORE_HOST.values()),
            # same fetch-group granularity as bench.py --engine (r5)
            salt_buckets=int(os.environ.get("SPARK_GRAFT_SALT_BUCKETS", "64")),
        )
        waves = run.run(max_waves=10)
        n_docs = run.documents().count()
        n_urls = run.frontier().count()
        wall = time.time() - t0
        phase_seconds = dict(run.phase_seconds)
    spark.stop()
    time.sleep(2)

    stages = aggregate_event_log(evdir, t0)
    phases = {k: round(v, 2) for k, v in phase_seconds.items()}
    by_description: dict[str, dict] = {}
    for s in stages:
        g = by_description.setdefault(
            s["description"] or "(none)", {"stages": 0, "wall_s": 0.0, "run_s": 0.0}
        )
        g["stages"] += 1
        g["wall_s"] += s["wall_s"]
        g["run_s"] += s["run_s"]
    for g in by_description.values():
        g["wall_s"] = round(g["wall_s"], 2)
        g["run_s"] = round(g["run_s"], 2)
    top = sorted(stages, key=lambda s: -s["wall_s"])[:8]
    # Two imbalance views per stage. "balance" (stage wall ÷ run_sum/cores)
    # is the one that matters: how much longer the stage ran than perfect
    # packing on all cores — 1.0 = ideal. "straggler_ratio" (max task ÷
    # mean task) only equals imbalance when tasks == cores; with 4
    # tasks/core a large ratio is EXPECTED (late binding works through
    # many small tasks) while balance stays near 1.
    for s in top:
        if s["tasks"] and s["run_s"]:
            s["straggler_ratio"] = round(
                s["max_task_s"] / (s["run_s"] / s["tasks"]), 2
            )
            s["balance"] = round(s["wall_s"] / (s["run_s"] / cpus), 2)
    print(json.dumps({
        "cpus": cpus,
        "queries": n_queries,
        "waves": waves,
        "docs_fetched": n_docs,
        "frontier_urls": n_urls,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(n_docs / wall, 1),
        "driver_phase_seconds": phases,
        "phase_coverage_of_wall": round(sum(phases.values()) / wall, 3),
        "eventlog_totals": {
            "stage_wall_sum_s": round(sum(s["wall_s"] for s in stages), 2),
            "executor_run_sum_s": round(sum(s["run_s"] for s in stages), 2),
            "gc_sum_s": round(sum(s["gc_s"] for s in stages), 2),
            "shuffle_write_mb": round(sum(s["sh_write_mb"] for s in stages), 2),
            "n_stages": len(stages),
        },
        "stage_seconds_by_description": dict(sorted(by_description.items())),
        "top_stages_by_wall": top,
    }, indent=1))


if __name__ == "__main__":
    main()
