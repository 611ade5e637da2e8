"""Partitioning strategy for the 100 TB deployment (SURVEY.md §2.10, §7).

This module encodes the layout decisions as code (used by the wave loop and
the storage shim) and documents WHY each holds at 1000 executors:

  * frontier:   partition by (wave, pmod(url_hash, N_HOST_BUCKETS)).
                url_hash is uniform (xxhash64) → no planning skew; wave
                pruning means a resume touches only the live wave.
  * seen:       Bloom shards keyed by pmod(url_hash, N_SEEN_SHARDS) with
                N_SEEN_SHARDS fixed INDEPENDENT of parallelism — shard
                membership must not change when the cluster is resized, or
                the "exact URL-seen set" guarantee breaks (SURVEY §7.3.5).
  * documents:  partition by ingest wave; span extraction is a pure map, so
                downstream extraction never shuffles documents at all.
  * mega-host skew: politeness quotas are computed per TRUE host first
                (window over host), THEN the fetch shuffle is salted with
                pmod(url_hash, salt(host)) — salting after quota keeps
                crawl-delay per-host-correct while splitting the mega host
                across executors (C6 + §7.3.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed, parallelism-independent (SURVEY §7.3.5)
N_SEEN_SHARDS = 64
N_HOST_BUCKETS = 256


def seen_shard(url_hash: Column | str) -> Column:
    c = F.col(url_hash) if isinstance(url_hash, str) else url_hash
    return F.pmod(c, F.lit(N_SEEN_SHARDS))


def host_bucket(url_hash: Column | str) -> Column:
    c = F.col(url_hash) if isinstance(url_hash, str) else url_hash
    return F.pmod(c, F.lit(N_HOST_BUCKETS))


def salted_fetch_key(host: Column | str, url_hash: Column | str,
                     mega_hosts: list[str], buckets: int = 16) -> Column:
    """Fetch-shuffle key: host, salted only for mega hosts. Applied AFTER
    per-host quota ranking so politeness math never sees the salt."""
    h = F.col(host) if isinstance(host, str) else host
    u = F.col(url_hash) if isinstance(url_hash, str) else url_hash
    salt = F.when(
        h.isin(mega_hosts), F.pmod(u, F.lit(buckets))
    ).otherwise(F.lit(0))
    return F.concat(h, F.lit("#"), salt.cast("string"))


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the incoming plan has fewer
    partitions than the session's default parallelism.

    Why: the dedup/ANN pipelines front-load heavy per-row map work (shingle
    explode, 16 minhash permutations, 32 simhash bit votes, vector norms)
    BEFORE their first shuffle, so their parallelism up to that point is the
    scan's. A small input (one parquet file under
    ``spark.sql.files.maxPartitionBytes`` — every test SF, or one bucket of
    a partitioned 100 TB table after pruning) arrives as a single split and
    pins that entire map stage to one core. At full corpus scale the scan
    has thousands of file splits and this guard is a no-op; when it does
    fire, the shuffle it pays moves only the skinny pre-explode input rows —
    orders of magnitude cheaper than serializing the map stage.

    The probe is METADATA-ONLY (VERDICT r3 item 7): ``df.inputFiles()``
    costs one analysis pass, not the full optimize+physical-plan+RDD-DAG
    build that ``df.rdd.getNumPartitions()`` forced on every pipeline
    entry. Split count mirrors Spark's bin-packing (ADVICE r4): every file
    contributes ``size + openCostInBytes`` and chunks pack into bins of
    ``maxPartitionBytes``, so a scan of many TINY files — which Spark packs
    into 1-2 partitions — is estimated as the few bins it really becomes,
    not as one split per file (the old ``len(files) >= target`` early exit
    equated file count with partition count and silently skipped the
    repartition exactly there). A file whose size can't be stat'd (a
    remote object store, say) counts as one full ``maxPartitionBytes``
    bin: counting it as openCost alone would estimate a wide remote scan
    at a few bins and shuffle all of it. Non-file inputs
    (in-memory test frames, post-shuffle plans) are left untouched — their
    parallelism is already the session's.
    """
    import math
    import os
    from urllib.parse import urlparse

    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        return df
    conf = df.sparkSession.conf
    max_bytes = _size_to_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _size_to_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    packed = 0  # bytes accumulated into bins so far (size + openCost per file)
    for uri in files:
        p = urlparse(uri)
        try:
            chunk = os.path.getsize(p.path if p.scheme in ("", "file") else uri)
            chunk += open_cost
        except OSError:
            chunk = max_bytes
        packed += chunk
        if math.ceil(packed / max_bytes) >= target:
            return df  # enough estimated bins — wide scan, guard is a no-op
    return df.repartition(target)


def _size_to_bytes(v: str) -> int:
    """Parse Spark size strings ('134217728', '128m', '1g', '512kb')."""
    s = str(v).strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num = s.rstrip("kmgtb")
    suffix = s[len(num):].rstrip("b") or "b"
    return int(float(num or "0") * units.get(suffix, 1))


def repartition_frontier(frontier: DataFrame) -> DataFrame:
    """Shuffle the frontier to its canonical layout before a wave: all URLs
    of a host bucket co-located (politeness sequencing happens per host
    inside a bucket), buckets spread uniformly."""
    return frontier.repartition(host_bucket("url_hash"))
