"""Partitioning strategy for the 100 TB deployment (SURVEY.md §2.10, §7).

This module holds one definition per layout decision and documents WHY
each holds at 1000 executors:

  * seen:       URL-seen filter shards (``frontier/seen.py``) and the
                streaming seen state (``streaming/seen_state.py``) are keyed
                by ``seen_shard`` = pmod(url_hash, N_SEEN_SHARDS) with
                N_SEEN_SHARDS fixed INDEPENDENT of parallelism — shard
                membership must not change when the cluster is resized, or
                the "exact URL-seen set" guarantee breaks (SURVEY §7.3.5).
  * mega-host skew: politeness quotas are computed per TRUE host first
                (window over host), THEN the fetch shuffle is salted with
                ``host_salt`` = pmod(url_hash, buckets) on mega hosts only
                (``frontier/politeness.py``) — salting after quota keeps
                crawl-delay per-host-correct while splitting the mega host
                across executors (C6 + §7.3.6).
  * scans:      ``ensure_scan_parallelism`` widens a narrow file scan before
                the dedup/ANN pipelines' heavy pre-shuffle map work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed, parallelism-independent (SURVEY §7.3.5)
N_SEEN_SHARDS = 64


def seen_shard(url_hash: Column | str, n: int = N_SEEN_SHARDS) -> Column:
    c = F.col(url_hash) if isinstance(url_hash, str) else url_hash
    return F.pmod(c, F.lit(n))


def host_salt(mega_hosts: list[str], buckets: int) -> Column:
    """Fetch-group salt: pmod(url_hash, buckets) on mega hosts, 0 elsewhere."""
    return F.when(
        F.col("host").isin(mega_hosts), F.pmod(F.col("url_hash"), F.lit(buckets))
    ).otherwise(F.lit(0))


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

