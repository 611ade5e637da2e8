"""Stage-level decomposition of the scaling job at two parallelism levels.

Runs the identical frontier canonicalize+dedup+schedule job (the --scaling
job from bench.py) with the Spark event log on, then aggregates per-stage
task metrics: wall time (stage submit -> completion), summed executor run
time, GC, shuffle bytes, python-UDF time. The point is to ATTRIBUTE the
non-scaling seconds: a stage whose wall time doesn't shrink from the low
to the high core count while its summed run time stays flat is a
granularity/straggler problem; one whose summed run time GROWS at the high
count is a contention (memory-bandwidth / GC) problem.

Usage: PYTHONPATH=. python tools/profile_scaling.py [cpus ...]
(defaults to session.DEFAULT_CPUS and a quarter of it, at least 1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def run_once(cpus: int, variants: int = int(os.environ.get("SPARK_GRAFT_URL_VARIANTS", "128"))) -> dict:
    from pyspark.sql import Window, functions as F

    from price_crawler_spark.functions.urls import (
        canonicalize_with_host_arrow,
        url_hash,
    )
    from price_crawler_spark.session import get_spark

    evdir = f"/tmp/spark-events-{cpus}"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)
    spark = get_spark(
        f"prof{cpus}",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    n_part = spark.sparkContext.defaultParallelism * 2
    orders = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
    o = F.col("o_orderkey")
    var_arr = F.array(
        *[
            F.concat(
                F.lit("?a=1&utm_source=v"),
                F.lit(str(i)),
                F.lit("&b="),
                F.lit(str(i % 4)),
            )
            for i in range(variants)
        ]
    )
    raw = (
        orders.select(o, "o_custkey", "o_totalprice", F.explode(var_arr).alias("suffix"))
        .select(
            F.concat(
                F.lit("https://Shop"),
                (F.col("o_custkey") % 64).cast("string"),
                F.lit(".example.com/item/"),
                (o % 10000).cast("string"),
                F.col("suffix"),
            ).alias("url"),
            o.alias("parent_page"),
            "o_totalprice",
        )
        .repartition(n_part, F.col("parent_page"))
        .drop("parent_page")
    )
    raw.cache()
    raw.count()
    canon = (
        raw.select(canonicalize_with_host_arrow("url").alias("c"), "o_totalprice")
        .select("c.canonical_url", "c.host", "o_totalprice")
        .withColumn("url_hash", url_hash("canonical_url"))
    )
    deduped = (
        canon.groupBy("url_hash")
        .agg(
            F.max_by(
                F.struct("canonical_url", "host", "o_totalprice"),
                F.struct("o_totalprice", "canonical_url"),
            ).alias("r")
        )
        .select("url_hash", "r.canonical_url", "r.host", "r.o_totalprice")
    )
    w_host = Window.partitionBy("host").orderBy(F.desc("o_totalprice"), F.asc("url_hash"))
    sched = (
        deduped.withColumn("rank", F.row_number().over(w_host))
        .filter(F.col("rank") <= 2000)
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    noop(sched)  # warm-up (codegen + python workers)
    t0 = time.time()
    noop(sched)
    wall = time.time() - t0
    spark.stop()
    time.sleep(2)

    stages = aggregate_event_log(evdir, t0)
    return {"cpus": cpus, "wall_s": round(wall, 2), "stages": stages}


def aggregate_event_log(evdir: str, t_min: float) -> list[dict]:
    """Parse a Spark event-log dir (Spark 4 rolling layout: a directory of
    events_* files) into per-stage task-metric aggregates; keeps only
    stages submitted after ``t_min``, each with the job description it was
    submitted under (None when unset). Shared by profile_wave.py."""
    stages: dict[tuple, dict] = {}
    descriptions: dict[tuple, str | None] = {}

    def _stage_key(si: dict) -> tuple:
        return (si["Stage ID"], si.get("Stage Attempt ID", si.get("Attempt ID", 0)))

    def _event_lines():
        root = [
            f
            for f in os.listdir(evdir)
            if not f.startswith(".") and not f.endswith(".inprogress")
        ]
        root = os.path.join(evdir, sorted(root)[0])
        files = (
            sorted(
                os.path.join(root, f)
                for f in os.listdir(root)
                if f.startswith("events_")
            )
            if os.path.isdir(root)
            else [root]
        )
        for path in files:
            yield from open(path)

    for line in _event_lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            descriptions[_stage_key(ev["Stage Info"])] = props.get(
                "spark.job.description"
            )
        elif ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time", 0) / 1000.0 < t_min:
                continue
            key = _stage_key(si)
            stages[key] = {
                "name": si["Stage Name"].split("\n")[0][:60],
                "description": descriptions.get(key),
                "tasks": si["Number of Tasks"],
                "wall_s": round(
                    (si["Completion Time"] - si["Submission Time"]) / 1000.0, 2
                ),
                "run_s": 0.0,
                "gc_s": 0.0,
                "cpu_s": 0.0,
                "deser_s": 0.0,
                "sh_write_mb": 0.0,
                "sh_read_mb": 0.0,
                "max_task_s": 0.0,
            }
    # second pass: accumulate every TaskEnd of the kept stages (TaskEnd
    # events precede their StageCompleted in the log, so stage entries don't
    # exist yet during the first pass)
    for line in _event_lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        if key not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        st = stages[key]
        rt = m.get("Executor Run Time", 0) / 1000.0
        st["run_s"] += rt
        st["max_task_s"] = max(st["max_task_s"], rt)
        st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["deser_s"] += m.get("Executor Deserialize Time", 0) / 1000.0
        st["sh_write_mb"] += (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
        )
        st["sh_read_mb"] += (
            m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
            + m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        ) / 1e6
    for st in stages.values():
        for k in (
            "run_s", "gc_s", "cpu_s", "deser_s", "sh_write_mb", "sh_read_mb",
            "max_task_s",
        ):
            st[k] = round(st[k], 2)
    return [stages[k] for k in sorted(stages)]


if __name__ == "__main__":
    from price_crawler_spark.session import DEFAULT_CPUS

    cpus_list = [int(a) for a in sys.argv[1:]] or [DEFAULT_CPUS, max(1, DEFAULT_CPUS // 4)]
    for c in cpus_list:
        r = run_once(c)
        print(json.dumps(r, indent=1))
