"""Benchmark harness.

Default mode: runs the headline query suite + the frontier throughput job at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the box's core count) and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, "urls_per_sec": N, ...}

Every per-query number is the MEDIAN of ``$SPARK_GRAFT_BENCH_RUNS``
(default 3) warm passes after one discarded warm-up (r4 noise protocol;
raw samples in ``queries_all_sec``, box load in ``loadavg_before/after``).
r5 adds the noise defence: while a query's median exceeds 1.5× its own
fastest sample, up to ``$SPARK_GRAFT_BENCH_RETRIES`` (default 4) extra
samples are taken so one co-tenant spike cannot own the official record;
``queries_min_sec`` carries the per-query interference-free capacity.

``--crawl-only`` runs just the frontier job (used by --scaling subprocesses).
``--scaling`` runs the identical frontier job at local[N] and local[4N] in
fresh subprocesses, N a quarter of the box's cores (``scaling_legs``), and
reports throughput at both plus N→4N efficiency — the sandbox stand-in for
the north rule's two-cluster-size criterion.
``--engine`` runs the full wave loop under a Spark event log and breaks its
wall down by driver phase and by job description.

All timings force full materialization via the noop sink (no collect of
big results to the driver; the driver never becomes the bottleneck).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from price_crawler_spark.session import DEFAULT_CPUS as CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline operator queries from the driver-contract registry
BENCH_QUERIES = [
    "coolpc_option_scan",
    "url_canonicalize",
    "dedup_first_wins",
    "politeness_quota",
    "topk_per_store",
    "price_stats",
    "similarity_match",
    "text_quality",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "multimodal_decode",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sample_with_retry(
    measure, n_runs: int, max_extra: int, spread: float = 1.5
) -> tuple[list[float], int]:
    """The r5 noise-defence sampling policy, as a pure function (unit-tested
    without Spark in tests/test_bench_protocol.py): take ``n_runs`` samples;
    while the median exceeds ``spread`` × the fastest sample — i.e. the
    official record would contradict the query's own measured capacity —
    take up to ``max_extra`` more. Clean samples push a co-tenant spike out
    of the median; a genuinely slow query's tight samples never retry.
    Returns (all samples, extra samples taken)."""
    import statistics

    runs = [measure() for _ in range(n_runs)]
    extra = 0
    while extra < max_extra and statistics.median(runs) > spread * min(runs):
        runs.append(measure())
        extra += 1
    return runs, extra


def warm_until_stable(
    measure, max_warm: int = 4, improve: float = 0.8
) -> list[float]:
    """Discarded warm-up passes, depth-adaptive (pure function, unit-tested
    in tests/test_bench_protocol.py). One warm-up pass is not always enough:
    repeats of the IDENTICAL query on a quiet box measured
    8.9 → 5.5 → 2.9 → 2.4 → 2.0 s (bloom_seen_path, 32c) as JIT compilation
    and Python-worker reuse deepen — a single-warm-up median lands 1.5-3×
    above the query's steady-state capacity. Keep warming while each pass
    improves on the previous by >20% (cur < ``improve`` × prev), up to
    ``max_warm`` passes; already-stable queries stop after two. Returns the
    discarded warm-up times (recorded in the artifact, never in the
    official numbers)."""
    warms = [measure()]
    while len(warms) < max_warm:
        warms.append(measure())
        if warms[-1] > improve * warms[-2]:
            break
    return warms


def _sf(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([\d.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def frontier_throughput(spark, sf_dir: str) -> tuple[int, float]:
    """The authoritative metric's sandbox slice: canonicalize → xxhash64 →
    exact URL-seen dedup → per-host politeness quota ranking, over a
    synthetic frontier derived from orders (4 URL variants per order, ~25%
    canonical-duplicate rate). Returns (n_input_urls, seconds)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from price_crawler_spark.functions.urls import (
        canonicalize_with_host_arrow,
        url_hash,
    )

    n_part = spark.sparkContext.defaultParallelism * 2
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = F.col("o_orderkey")
    # 16 query-string variants per order → ~2.4M URLs at sf0.1 with a ~25%
    # canonical-duplicate rate. The repartition emulates a many-split
    # frontier table (the sf0.1 parquet is one tiny file — without it the
    # scan stage runs on ≤2 cores and the scaling test measures nothing).
    n_variants = int(os.environ.get("SPARK_GRAFT_URL_VARIANTS", "16"))
    variants = F.array(*[
        F.concat(
            F.lit("?a=1&utm_source=v"), F.lit(str(i)),
            F.lit("&b="), F.lit(str(i % 4)),
        )
        for i in range(n_variants)
    ])
    raw = (
        orders.select(o, "o_custkey", "o_totalprice",
                      F.explode(variants).alias("suffix"))
        .select(
            F.concat(
                F.lit("https://Shop"), (F.col("o_custkey") % 64).cast("string"),
                F.lit(".example.com/item/"), (o % 10000).cast("string"),
                F.col("suffix"),
            ).alias("url"),
            o.alias("parent_page"),
            "o_totalprice",
        )
        # hash-partition by the PARENT page, not round-robin: in the real
        # wave pipeline child URLs are emitted inside their parent's
        # partition (wave.py extract step), so a page's duplicate variants
        # are partition-local. Round-robin scattered each order's 32-copy
        # duplicate groups across every partition, which disabled map-side
        # combine and doubled the dedup shuffle at 64 map partitions
        # (932 MB written at 32c vs 485 MB at 8c for identical data —
        # event-log metrics, tools/profile_scaling.py).
        .repartition(n_part, F.col("parent_page"))
        .drop("parent_page")
    )
    raw.cache()
    n_input = raw.count()  # materializes the input outside the timed window

    t0 = time.time()
    canon = (
        raw.select(canonicalize_with_host_arrow("url").alias("c"), "o_totalprice")
        .select("c.canonical_url", "c.host", "o_totalprice")
        .withColumn("url_hash", url_hash("canonical_url"))
    )
    # first-wins dedup as an aggregate (map-side partial combine — shuffles
    # one candidate per (partition, url_hash), not every URL; a window would
    # shuffle + sort the full frontier)
    deduped = canon.groupBy("url_hash").agg(
        F.max_by(
            F.struct("canonical_url", "host", "o_totalprice"),
            F.struct("o_totalprice", "canonical_url"),
        ).alias("r")
    ).select("url_hash", "r.canonical_url", "r.host", "r.o_totalprice")
    w_host = Window.partitionBy("host").orderBy(
        F.desc("o_totalprice"), F.asc("url_hash")
    )
    scheduled = (
        deduped.withColumn("rank", F.row_number().over(w_host))
        .filter(F.col("rank") <= 2000)
    )
    _noop(scheduled)
    dt = time.time() - t0
    raw.unpersist()
    return n_input, dt


def seen_path_throughput(spark, sf_dir: str) -> tuple[int, float]:
    """North-rule URL-seen layer end-to-end: in-batch first-wins dedup →
    sharded-Bloom probe → exact anti-join residue → Bloom insert, against a
    pre-seeded seen-set of half the URL space. Returns (n_candidates, sec).
    """
    from pyspark.sql import functions as F

    from price_crawler_spark.frontier.seen import (
        ShardedBloom,
        dedup_in_batch,
        filter_new,
    )

    n_part = spark.sparkContext.defaultParallelism * 2
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = F.col("o_orderkey")
    cand = (
        orders.select(o, F.explode(F.array(*[F.lit(i) for i in range(16)])).alias("v"))
        .select(
            F.xxhash64(F.concat((o % 40000).cast("string"), F.lit("#"), (F.col("v") % 8).cast("string"))).alias("url_hash"),
            (o * 100 + F.col("v")).alias("seq_key"),
        )
        .repartition(n_part)
        .cache()
    )
    n = cand.count()
    bloomer = ShardedBloom()
    seen = cand.filter(F.col("url_hash") % 2 == 0).select("url_hash").distinct().cache()
    seen.count()
    bloom_table = bloomer.insert(seen.select("url_hash"), None).cache()
    bloom_table.count()

    t0 = time.time()
    fresh = dedup_in_batch(cand)
    new = filter_new(fresh, seen, bloom_table, bloomer)
    updated = bloomer.insert(new.select("url_hash"), bloom_table)
    _noop(updated)
    dt = time.time() - t0
    cand.unpersist(); seen.unpersist(); bloom_table.unpersist()
    return n, dt


def skew_compare(spark, sf_dir: str) -> dict:
    """C6: mega-host skew. 50% of a 2.4M-URL frontier lands on one host;
    compare the naive per-host window rank against the salted two-phase
    top-k (rank within (host, salt) first, final rank over survivors)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n_part = spark.sparkContext.defaultParallelism * 2
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = F.col("o_orderkey")
    host = F.when(o % 2 == 0, F.lit("mega.example.com")).otherwise(
        F.concat(F.lit("shop"), (o % 63).cast("string"), F.lit(".example.com"))
    )
    raw = (
        orders.select(o, F.explode(F.array(*[F.lit(i) for i in range(16)])).alias("v"))
        .select(
            host.alias("host"),
            F.xxhash64(o.cast("string"), F.col("v")).alias("url_hash"),
            (o * 16 + F.col("v")).alias("priority"),
        )
        .repartition(n_part)
        .cache()
    )
    n = raw.count()
    K = 2000
    out = {"n_urls": n, "k_per_host": K}

    # naive: one task sorts the mega host's 1.2M rows
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    naive = raw.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= K)
    t0 = time.time(); _noop(naive); out["naive_sec"] = round(time.time() - t0, 3)

    # salted two-phase: per-(host,salt) top-K (16-way for the mega host),
    # then the exact final top-K over ≤16K survivors per host
    salt = F.when(F.col("host") == "mega.example.com", F.pmod("url_hash", F.lit(16))).otherwise(F.lit(0))
    w1 = Window.partitionBy("host", "salt").orderBy(F.desc("priority"), F.asc("url_hash"))
    w2 = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    salted = (
        raw.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= K)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= K)
        .drop("salt", "r1")
    )
    t0 = time.time(); _noop(salted); out["salted_sec"] = round(time.time() - t0, 3)

    # equivalence: identical selected sets
    diff = naive.select("host", "url_hash").exceptAll(salted.select("host", "url_hash")).count()
    out["selection_diff_rows"] = diff
    raw.unpersist()
    return out


def run_skew() -> None:
    from price_crawler_spark.session import get_spark

    spark = get_spark("bench-skew", cores=CPUS, shuffle_partitions=CPUS)
    skew_compare(spark, SF_DIR)  # warm-up
    out = skew_compare(spark, SF_DIR)
    out["metric"] = "mega-host skew: naive window vs salted two-phase top-k"
    out["sf"] = _sf(SF_DIR)
    out["cpus"] = CPUS
    print(json.dumps(out))
    spark.stop()


# Fetch-group granularity of the engine run (r5): a mega host's selected URLs
# split over this many salt buckets — smaller fetch groups for the 4×-tasks
# late binding in run_engine (measured balance 1.69 vs 1.90 at 16 buckets).
# The selected set is identical at any bucket count.
ENGINE_SALT_BUCKETS = 64


def event_log_conf(evdir: str) -> dict[str, str]:
    """Session config that writes one uncompressed event-log file per
    application into ``evdir`` (the layout ``aggregate_event_log`` reads)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_TASK_TOTALS = (
    "run_s", "gc_s", "cpu_s", "deser_s", "sh_write_mb", "sh_read_mb", "max_task_s",
)


def aggregate_event_log(evdir: str, t_min: float) -> list[dict]:
    """Per-stage task-metric totals from the one application event log in
    ``evdir``: stage wall (submit → completion), summed executor run, CPU,
    GC and deserialize seconds, the longest task, and shuffle MB. Keeps the
    stages submitted at or after ``t_min`` (epoch seconds), each with the
    job description it was submitted under (None when unset)."""
    log = next(
        f for f in sorted(os.listdir(evdir))
        if not f.startswith(".") and not f.endswith(".inprogress")
    )
    descriptions: dict[tuple, str | None] = {}
    totals: dict[tuple, dict] = {}
    completed: dict[tuple, dict] = {}
    with open(os.path.join(evdir, log)) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                descriptions[(si["Stage ID"], si["Stage Attempt ID"])] = (
                    ev.get("Properties") or {}
                ).get("spark.job.description")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = totals.setdefault(
                    (ev["Stage ID"], ev["Stage Attempt ID"]),
                    dict.fromkeys(_TASK_TOTALS, 0.0),
                )
                rt = m.get("Executor Run Time", 0) / 1000.0
                t["run_s"] += rt
                t["max_task_s"] = max(t["max_task_s"], rt)
                t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["deser_s"] += m.get("Executor Deserialize Time", 0) / 1000.0
                w = m.get("Shuffle Write Metrics") or {}
                r = m.get("Shuffle Read Metrics") or {}
                t["sh_write_mb"] += w.get("Shuffle Bytes Written", 0) / 1e6
                t["sh_read_mb"] += (
                    r.get("Local Bytes Read", 0) + r.get("Remote Bytes Read", 0)
                ) / 1e6
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Submission Time", 0) / 1000.0 >= t_min:
                    completed[(si["Stage ID"], si["Stage Attempt ID"])] = si
    stages = []
    for key in sorted(completed):
        si = completed[key]
        t = totals.get(key, dict.fromkeys(_TASK_TOTALS, 0.0))
        stages.append({
            "name": si["Stage Name"].split("\n")[0][:60],
            "description": descriptions.get(key),
            "tasks": si["Number of Tasks"],
            "wall_s": round(
                (si["Completion Time"] - si["Submission Time"]) / 1000.0, 2
            ),
            **{k: round(v, 2) for k, v in t.items()},
        })
    return stages


def stage_seconds_by_description(stages: list[dict]) -> dict[str, dict]:
    """Stage count, summed stage wall and summed executor run seconds per job
    description. Concurrent stages overlap, so a group's ``wall_s`` is a sum
    of stage spans, not a share of the run's wall."""
    groups: dict[str, dict] = {}
    for s in stages:
        g = groups.setdefault(
            s["description"] or "(none)", {"stages": 0, "wall_s": 0.0, "run_s": 0.0}
        )
        g["stages"] += 1
        g["wall_s"] = round(g["wall_s"] + s["wall_s"], 2)
        g["run_s"] = round(g["run_s"] + s["run_s"], 2)
    return dict(sorted(groups.items()))


def run_engine() -> None:
    """Full wave-loop throughput (schedule → politeness → fetch UDF →
    extraction-ready docs → snapshot commit) on an expanded synthetic web:
    SPARK_GRAFT_CATALOG_N products, one narrow query per product slice.
    Reported URLs/s includes ALL engine overhead (per-wave commits, Bloom,
    retries) — the honest end-to-end number, vs. the frontier job which
    isolates the dedup hot path. Politeness is disabled via a huge
    wave-seconds budget (throughput mode; quota semantics are pytest-gated
    separately).

    The run always writes a Spark event log to a temporary directory, and
    the breakdown comes in two views. ``driver_phase_seconds`` is
    ``CrawlRun.phase_seconds``, the wave loop's blocking driver steps;
    ``phase_coverage_of_wall`` is their share of the run's wall (driver
    plan building between the steps is outside them).
    ``stage_seconds_by_description`` groups the event log's stages by the
    job tags the engine sets: ``wave:<phase>``, ``commit:<table>``,
    ``seed_commit:<table>`` and ``invalidate:<step>``. ``wave_s`` and
    ``janino_compiles`` are each wave's wall seconds and Janino compiles
    (Spark's ``CodegenMetrics``), the first wave with the seed commit in
    it. ``root_bytes``,
    ``root_files`` and ``manifest_bytes`` are the crawl root's footprint
    after the waves: the live snapshot's data plus the manifest."""
    import tempfile

    os.environ.setdefault("SPARK_GRAFT_CATALOG_N", "3000")
    n_queries = int(os.environ.get("SPARK_GRAFT_ENGINE_QUERIES", "800"))

    from price_crawler_spark.frontier.seeds import STORE_HOST
    from price_crawler_spark.frontier.wave import CrawlRun
    from price_crawler_spark.session import get_spark

    queries = [f"gpu{i:06d}" for i in range(n_queries)]
    with tempfile.TemporaryDirectory() as evdir, \
            tempfile.TemporaryDirectory() as root:
        # 4 tasks per core (r5): the fetch applyInPandas stage's group costs
        # are heterogeneous by store, and at shuffle_partitions=cores each
        # reduce task statically owns ~14 groups — the unlucky task IS the
        # stage wall (measured balance wall/ideal 1.69-1.90, max task = stage
        # wall). At 4× tasks late binding packs the heavy groups around:
        # same 1.2M-URL profile, identical CPU (run_sum 8859 vs 8898 s) but
        # fetch-stage wall 469 -> 348 s, balance 1.25, end-to-end 1,514 ->
        # 2,140 URLs/s. Bytes-based AQE coalescing can't see Python-UDF CPU
        # density, so the headroom must come from the initial task count.
        spark = get_spark(
            "bench-engine", cores=CPUS, shuffle_partitions=4 * CPUS,
            extra_conf=event_log_conf(evdir),
        )
        t0 = time.time()
        # throughput mode: every host is salt-split (politeness quotas are
        # uncapped here, so per-host sequencing constraints don't apply)
        run = CrawlRun(
            spark, root, queries=queries, wave_seconds=1e6,
            mega_hosts=list(STORE_HOST.values()),
            salt_buckets=ENGINE_SALT_BUCKETS,
        )
        # per wave: wall seconds and Janino compiles (the first wave also
        # runs the seed commit)
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        wave_s, wave_compiles = [], []
        while len(wave_s) < 10:
            c0, w0 = compiles.getCount(), time.time()
            if not run.run_wave():
                break
            wave_s.append(round(time.time() - w0, 2))
            wave_compiles.append(compiles.getCount() - c0)
        waves = len(wave_s)
        n_docs = run.documents().count()
        n_urls = run.frontier().count()
        dt = time.time() - t0
        phases = {k: round(v, 2) for k, v in run.phase_seconds.items()}
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        footprint = {
            "root_bytes": sum(os.path.getsize(f) for f in files),
            "root_files": len(files),
            "manifest_bytes": os.path.getsize(os.path.join(root, "manifest.json")),
        }
        spark.stop()  # closes the event log
        stages = aggregate_event_log(evdir, t0)
    print(json.dumps({
        "metric": "wave-loop end-to-end URLs/sec (incl. commits, bloom, retries)",
        "waves": waves,
        "frontier_urls": n_urls,
        "docs_fetched": n_docs,
        "sec": round(dt, 2),
        "urls_per_sec": round(n_docs / dt, 1),
        "driver_phase_seconds": phases,
        "phase_coverage_of_wall": round(sum(phases.values()) / dt, 3),
        "wave_s": wave_s,
        "janino_compiles": wave_compiles,
        "eventlog_totals": {
            "n_stages": len(stages),
            "stage_wall_sum_s": round(sum(s["wall_s"] for s in stages), 2),
            "executor_run_sum_s": round(sum(s["run_s"] for s in stages), 2),
            "gc_sum_s": round(sum(s["gc_s"] for s in stages), 2),
            "shuffle_write_mb": round(sum(s["sh_write_mb"] for s in stages), 2),
        },
        "stage_seconds_by_description": stage_seconds_by_description(stages),
        **footprint,
        "catalog_n": int(os.environ["SPARK_GRAFT_CATALOG_N"]),
        "cpus": CPUS,
    }))


def run_crawl_only() -> None:
    import statistics

    from price_crawler_spark.session import get_spark

    spark = get_spark("bench-crawl", cores=CPUS, shuffle_partitions=CPUS)
    # one warm-up pass (JVM/codegen), then N measured passes. The box is
    # shared — single passes swing 3× on neighbor noise — so `sec` is the
    # MINIMUM (interference-free capacity); median also reported.
    n_runs = int(os.environ.get("SPARK_GRAFT_CRAWL_RUNS", "5"))
    frontier_throughput(spark, SF_DIR)
    runs = [frontier_throughput(spark, SF_DIR) for _ in range(n_runs)]
    n = runs[0][0]
    best = min(r[1] for r in runs)
    med = statistics.median(r[1] for r in runs)
    print(json.dumps({"cpus": CPUS, "n_urls": n, "sec": round(best, 3),
                      "median_sec": round(med, 3),
                      "urls_per_sec": round(n / best, 1),
                      "all_sec": [round(r[1], 3) for r in runs]}))
    spark.stop()


def scaling_legs(cpus: int) -> tuple[int, int, int]:
    """The ``--scaling`` legs for a box with ``cpus`` cores: (N, 4N, URL
    variants). N is a quarter of the cores, at least 1: 1↔4 on a 4-core
    box, 8↔32 on a 32-core one. The input is 64 URL variants per low-leg
    core (512 at N=8, 76.8M URLs at sf0.1): the r3 arrow canonicalizer +
    clustered repartition cut the 32c leg to ~5 s at 128 variants, at which
    point the ~1.3 s parallelism-independent fixed cost (session/stage
    setup, final single-partition agg) alone cost ~20 points of apparent
    efficiency, so the low leg gets ~50 s of work and the number measures
    the job, not the launch overhead."""
    n = max(1, cpus // 4)
    return n, 4 * n, 64 * n


def leg_heap_mb(mem_mb: int) -> tuple[int, int]:
    """(max heap, prefill) in MB for one scaling leg on a box with
    ``mem_mb`` of RAM: a third of the RAM, capped at the 24 GiB the 32-core
    legs ran with, prefilled to 5/6 of it (20 of 24 GiB there). The legs run
    one at a time, so the prefill always fits in RAM. A scaling measurement
    with an undersized heap measures the garbage collector, not the job: at
    8 GiB the 32-core leg spent 50-130 summed seconds per stage in
    stop-the-world GC (parallelism-independent wall time), halving apparent
    efficiency; the prefill keeps a mid-leg heap growth out of the timing."""
    heap = min(24 * 1024, mem_mb // 3)
    return heap, heap * 5 // 6


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _pin_to_first_cores(n: int) -> None:
    """Pool initializer: confine this worker to cores 0..n-1 — the same
    core budget the pinned job legs get, so probe and job measure the same
    hypothetical N-core machine. No-op where unsupported."""
    try:
        os.sched_setaffinity(0, set(range(n)))
    except (AttributeError, OSError):
        pass


def _ceiling(lo: int, hi: int, rate) -> float:
    """Best-of-3 ``rate(procs)`` at ``lo`` and ``hi`` workers (the probes
    suffer neighbor noise too), as the efficiency of going lo → hi."""
    rates = {lo: 0.0, hi: 0.0}
    for _ in range(3):
        for procs in (lo, hi):
            rates[procs] = max(rates[procs], rate(procs))
    return rates[hi] * lo / (rates[lo] * hi)


def hw_ceiling(lo: int, hi: int) -> float:
    """Measured compute-scaling ceiling of this box going an lo-core machine
    → an hi-core machine (pure-CPU multiprocessing, no Spark; workers pinned
    to the leg's core budget like the job legs are). On shared/virtualized
    hosts the hardware itself often delivers < 4× from 4× cores (frequency
    scaling / hypervisor caps); the job's efficiency is only meaningful
    relative to this."""
    import multiprocessing as mp

    def rate(procs: int) -> float:
        with mp.Pool(procs, initializer=_pin_to_first_cores,
                     initargs=(procs,)) as p:
            t0 = time.time()
            p.map(_burn, [4_000_000] * procs * 4)
            return procs * 4 * 4_000_000 / (time.time() - t0)

    return _ceiling(lo, hi, rate)


def _scaling_pair(lo: int, hi: int, variants: int) -> dict:
    """One tightly-paired measurement: the local[N] leg immediately followed
    by the local[4N] leg (``scaling_legs``; fresh subprocess each,
    best-of-3 inside, core-pinned — see below) and the pure-CPU and
    memory-bandwidth ceiling probes in the SAME window, so co-tenant
    interference hits job and probes alike. Box load *before* the pair is
    recorded so a reviewer can see which pairs ran quiesced. A settle sleep
    first lets the previous pair's own load decay out of the 1-min average
    — otherwise the sample reads back our own finished work and the quiesce
    signal is meaningless. Explicit env (input size, heap, JVM options)
    wins over the derived values."""
    from perfbench.box import mem_total_mb

    heap_mb, prefill_mb = leg_heap_mb(mem_total_mb())
    settle = int(os.environ.get("SPARK_GRAFT_SCALING_SETTLE_S", "75"))
    time.sleep(settle)
    load_before = round(os.getloadavg()[0], 1)
    out = {}
    for cpus in (lo, hi):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_GRAFT_CRAWL_RUNS="3")
        env.setdefault("SPARK_GRAFT_URL_VARIANTS", str(variants))
        env.setdefault("SPARK_DRIVER_MEM", f"{heap_mb}m")
        env.setdefault("SPARK_GRAFT_JVM_OPTS", f"-XX:+UseG1GC -Xms{prefill_mb}m")
        # CORE-HONEST LEGS (r3): pin each leg to exactly `cpus` hardware
        # cores. Without the pin, a local[8] leg of a job with an Arrow
        # Python UDF really runs ~16 hardware threads (8 JVM task threads +
        # 8 Python workers spill onto the box's idle cores) while local[32]
        # runs 64 threads on 32 cores — a hidden 2× resource asymmetry that
        # structurally DEFLATES measured efficiency (stage profile: the 8c
        # map stage showed near-zero blocked time, the 32c one 340 summed
        # blocked seconds). taskset makes each leg what a real N-core
        # machine would be: JVM, Python workers, and GC all share the same
        # N cores. Measured effect: the pinned 8c leg is ~30% slower than
        # the unpinned one (56.1 s vs 41-47 s best on identical input).
        cmd = [sys.executable, os.path.abspath(__file__), "--crawl-only"]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        r = subprocess.run(
            cmd, env=env, capture_output=True, text=True, timeout=1800,
        )
        if r.returncode:
            # the JVM reports a failed start on the gateway's stdout
            tail = r.stdout.splitlines()[-5:] + r.stderr.splitlines()[-20:]
            raise RuntimeError(
                f"local[{cpus}] scaling leg exited {r.returncode}:\n"
                + "\n".join(tail)
            )
        out[cpus] = json.loads(r.stdout.strip().splitlines()[-1])
    eff = out[hi]["urls_per_sec"] / (4 * out[lo]["urls_per_sec"])
    ceiling = hw_ceiling(lo, hi)
    membw = hw_ceiling_membw(lo, hi)
    return {
        "loadavg_before": load_before,
        f"local{lo}": out[lo], f"local{hi}": out[hi],
        "scaling_efficiency_Nto4N": round(eff, 3),
        "hw_ceiling_cpu_Nto4N": round(ceiling, 3),
        "hw_ceiling_membw_Nto4N": round(membw, 3),
        "normalized_efficiency": round(eff / ceiling, 3),
    }


_MEMBW_BUF = None


def _membw_init(n: int, pin_cores: int = 0) -> None:
    global _MEMBW_BUF
    import numpy as np

    if pin_cores:
        _pin_to_first_cores(pin_cores)
    _MEMBW_BUF = (np.arange(n, dtype=np.int64), np.empty(n, dtype=np.int64))
    # fault both buffers in HERE: the initializer runs exactly once per pool
    # worker, unlike a warm-up map() whose greedy chunking can leave a worker
    # cold and push its page faults into the timed window.
    np.copyto(_MEMBW_BUF[1], _MEMBW_BUF[0])


def _membw_pass(reps: int) -> int:
    import numpy as np

    a, b = _MEMBW_BUF
    for _ in range(reps):
        np.copyto(b, a)
        b += 1
    return int(b[0])


def hw_ceiling_membw(lo: int, hi: int) -> float:
    """Steady-state memory-BANDWIDTH scaling of this box going lo→hi workers
    (preallocated numpy copy loops — no allocator noise). String/regex-heavy
    Spark stages are partially bandwidth-bound, and on a single box 4×
    threads share ONE memory bus; on a real cluster 4× executors bring 4×
    buses. Reported alongside the pure-CPU ceiling so the job's raw
    efficiency can be located between the two single-box resource limits."""
    import multiprocessing as mp

    n, reps, tasks_per = 8_000_000, 6, 4

    def rate(procs: int) -> float:
        with mp.Pool(procs, initializer=_membw_init,
                     initargs=(n, procs)) as p:
            # startup barrier only (faulting happens in the initializer;
            # a map can't guarantee per-worker task distribution)
            p.map(_membw_pass, [1] * procs * 2)
            t0 = time.time()
            p.map(_membw_pass, [reps] * procs * tasks_per)
            return procs * tasks_per * reps * n * 16 / (time.time() - t0)

    return _ceiling(lo, hi, rate)


def run_scaling() -> None:
    """North-rule two-cluster-size evidence. ``SPARK_GRAFT_SCALING_PAIRS``
    (default 5) interleaved N↔4N pairs; the headline number is the MEDIAN
    normalized efficiency across pairs — not the best pair — so the claim
    doesn't rest on one lucky window. Each pair also records the 1-min load
    average sampled before it started: the quiesced-box protocol is
    "loadavg < 4 with no other Spark/pytest jobs", and the quiet-pair median
    is reported alongside the all-pair median (both printed; neither
    hidden)."""
    import statistics

    lo, hi, variants = scaling_legs(CPUS)
    n_pairs = int(os.environ.get("SPARK_GRAFT_SCALING_PAIRS", "5"))
    pairs = [_scaling_pair(lo, hi, variants) for _ in range(n_pairs)]

    def _med(rows, key):
        return round(statistics.median(p[key] for p in rows), 3) if rows else None

    quiet = [p for p in pairs if p["loadavg_before"] < 4.0]
    best = max(pairs, key=lambda p: p["normalized_efficiency"])
    print(json.dumps({
        "metric": "frontier canonicalize+dedup+schedule URLs/sec, "
                  f"local[{lo}] vs local[{hi}]",
        "legs": [lo, hi],
        "url_variants": int(os.environ.get("SPARK_GRAFT_URL_VARIANTS", variants)),
        "pairs": pairs,
        "median_raw_efficiency": _med(pairs, "scaling_efficiency_Nto4N"),
        "median_normalized_efficiency": _med(pairs, "normalized_efficiency"),
        "quiet_pairs": len(quiet),
        "quiet_median_raw_efficiency": _med(quiet, "scaling_efficiency_Nto4N"),
        "quiet_median_normalized_efficiency": _med(quiet, "normalized_efficiency"),
        "best_pair": best,
        "sf": _sf(SF_DIR),
    }))


def main() -> None:
    if "--scaling" in sys.argv:
        # before the posture below: each leg's heap and JVM options are
        # derived for its own subprocess (leg_heap_mb)
        run_scaling()
        return
    # Measured-run JVM posture. Sized 24g MAX heap + G1, but NO -Xms
    # prefill here: A/B'd on the full query suite, `-Xms20g` produced
    # episodic multi-second G1 evacuation pauses that landed on random
    # queries (suite 113-123 s, single queries spiking 0.4 s → 38-52 s);
    # the same heap without the prefill ran the suite in 43.9 s. The
    # prefill stays ONLY on the homogeneous short-lived --crawl-only
    # scaling legs (_scaling_pair), where it measured well and a mid-leg
    # heap growth would pollute the timing. Explicit env still wins.
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    os.environ.setdefault("SPARK_GRAFT_JVM_OPTS", "-XX:+UseG1GC")
    if "--crawl-only" in sys.argv:
        run_crawl_only()
        return
    if "--skew" in sys.argv:
        run_skew()
        return
    if "--engine" in sys.argv:
        run_engine()
        return

    import statistics

    import __spark_entry__ as entrymod
    from price_crawler_spark.session import get_spark

    # 1-min load BEFORE we start: the box is shared (documented swing up to
    # 3× on single shots), so every recorded bench carries its noise
    # context. Quiesced protocol = loadavg < 4, no other Spark jobs.
    load_before = round(os.getloadavg()[0], 2)
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    registry = entrymod.queries()
    # Noise posture (VERDICT r3 item 2): one DISCARDED warm-up pass per
    # query (first-execution JIT measured at ~8 s on MinHash alone —
    # scripts/profile_minhash.py), then SPARK_GRAFT_BENCH_RUNS (default 3)
    # measured passes; the recorded per-query number is the MEDIAN, so a
    # single co-tenant spike can't distort the official round record. All
    # raw samples are emitted in "queries_all_sec" so nothing is hidden.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Retry rule (VERDICT r4 item 1): a single co-tenant spike in 3 samples
    # still lands in the median (r4's dedup_minhash_lsh: official 11.57 s vs
    # its own quiet 4.20 s at loadavg 10.85). When the median exceeds
    # 1.5× the query's own fastest sample — i.e. the official record
    # contradicts the measured capacity — take up to
    # SPARK_GRAFT_BENCH_RETRIES extra samples; clean samples push the spike
    # out of the median. All samples + retry counts land in the artifact.
    max_retries = int(os.environ.get("SPARK_GRAFT_BENCH_RETRIES", "4"))
    # Warm-up depth (r5): adaptive, up to this many discarded passes — see
    # warm_until_stable. The warm-up times land in "queries_warmup_sec" so
    # the artifact shows how deep each query had to warm.
    max_warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "4"))
    times: dict[str, float] = {}
    mins: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    retries: dict[str, int] = {}
    warmups: dict[str, list[float]] = {}

    def _bench(name: str, fn, inner_timed: bool = False):
        """fn returns (payload, sec) when inner_timed (the throughput jobs
        time their own hot path, excluding input materialization — same
        definition as every prior round); otherwise wall-time fn()."""
        ret = None

        def _one():
            nonlocal ret
            if inner_timed:
                ret = fn()
                sec = ret[1]
            else:
                t0 = time.time()
                ret = fn()
                sec = time.time() - t0
            # dedup operators persist() intermediate signature/shingle
            # tables for their own plan reuse; release between passes so
            # repeats don't accumulate executor storage.
            spark.catalog.clearCache()
            return sec

        warmups[name] = [round(w, 3) for w in warm_until_stable(_one, max_warm)]
        runs, extra = sample_with_retry(_one, n_runs, max_retries)
        samples[name] = [round(r, 3) for r in runs]
        retries[name] = extra
        times[name] = round(statistics.median(runs), 3)
        mins[name] = round(min(runs), 3)
        return ret

    n_urls, _ = _bench(
        "frontier_dedup_schedule",
        lambda: frontier_throughput(spark, SF_DIR), inner_timed=True,
    )
    n_seen, _ = _bench(
        "bloom_seen_path",
        lambda: seen_path_throughput(spark, SF_DIR), inner_timed=True,
    )
    for name in BENCH_QUERIES:
        _bench(name, lambda q=name: _noop(registry[q](spark, SF_DIR)))

    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "headline suite wall-seconds, per-query median of "
                  f"{n_runs} warm runs (frontier dedup+schedule + "
                  f"{len(BENCH_QUERIES)} operator queries)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_min_sec": mins,  # interference-free capacity per query
        "queries_all_sec": samples,
        "queries_warmup_sec": warmups,  # discarded adaptive warm-up passes
        "queries_extra_runs": {k: v for k, v in retries.items() if v},
        "runs_per_query": n_runs,
        "sf": _sf(SF_DIR),
        "cpus": CPUS,
        "frontier_urls": n_urls,
        "frontier_urls_per_sec": round(n_urls / times["frontier_dedup_schedule"], 1),
        "seen_path_urls_per_sec": round(n_seen / times["bloom_seen_path"], 1),
        "loadavg_before": load_before,
        "loadavg_after": round(os.getloadavg()[0], 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
