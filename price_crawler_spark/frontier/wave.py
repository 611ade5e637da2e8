"""The crawl wave loop — iterative batch over the frontier table with
atomic per-wave snapshot commits (SURVEY.md §2.9, §7.1 steps 3-4, 7).

Each wave is one logical Iceberg commit containing: the live pending set
(replace — bounded O(wave)), newly-terminal frontier rows (append-only
log), Bloom shards (replace), seen-set delta (append), fetched
documents (append), and per-host fetch lineage/metrics (append). A killed
run resumes from the last committed wave; the interrupted wave re-runs
idempotently (deterministic fetch; nothing partial was visible) — the north
rule's "resumes without re-fetching or violating politeness".

Crawl-order law (SURVEY §3.1): the canonical total order of fetches is
``(wave, seq_key)`` where seq_key is the fixed-width hex path
(query_idx, store_rank, span_pos, ...). All windows sort by it, so output
is bit-reproducible regardless of partitioning or core count.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from price_crawler_spark.frontier import politeness, seeds
from price_crawler_spark.frontier.fetch import (
    docs_from_fetched,
    fetch_scheduled,
    links_from_fetched,
)
from price_crawler_spark.frontier.robots import robots_table
from price_crawler_spark.frontier.seen import (
    ShardedBloom,
    ShardedCuckoo,
    dedup_in_batch,
    filter_new,
)
from price_crawler_spark.functions.urls import (
    canonicalize_with_host_arrow,
    url_hash,
    url_hash_relation,
)
from price_crawler_spark.sources.store import SnapshotStore
from price_crawler_spark.sources.synthetic import robots_rows

FRONTIER_COLS = [
    "url",
    "canonical_url",
    "url_hash",
    "host",
    "store",
    "query",
    "priority",
    "attempts",
    "wave",
    "status",
    "seq_key",
]

# the probabilistic URL-seen prefilter by name; 'cuckoo' is the
# deletion-capable variant (north rule fallback) that invalidate() needs
SEEN_FILTERS = {"bloom": ShardedBloom, "cuckoo": ShardedCuckoo}


class CrawlRun:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        queries: list[str],
        wave_seconds: float = 60.0,
        max_retries: int = 2,
        robots: list[dict] | None = None,
        mega_hosts: list[str] | None = None,
        seen_filter: str = "bloom",
        fail_hosts: list[str] | None = None,
        salt_buckets: int = 16,
    ):
        self.spark = spark
        self.store = SnapshotStore(root)
        self.queries = sorted(queries)
        self.wave_seconds = wave_seconds
        self.max_retries = max_retries
        if seen_filter not in SEEN_FILTERS:
            raise ValueError(
                f"seen_filter must be one of {sorted(SEEN_FILTERS)}, "
                f"got {seen_filter!r}"
            )
        # the snapshot table is named "bloom" for both variants
        self.bloom = SEEN_FILTERS[seen_filter]()
        # harness knob: hosts whose SYNTHETIC fetches always fail — used to
        # audit pending-table drain under a persistently-dead host (a URL
        # must exit to frontier_log after max_retries, never cycle forever)
        self.fail_hosts = fail_hosts
        # C6 fetch-group granularity: a mega host's quota-selected URLs
        # split over this many salt buckets. The selected SET is identical
        # at any bucket count (the final quota rank is exact); more buckets
        # only shrink the largest fetch group. The throughput bench uses 64
        # with 4 reduce tasks per core — group costs are heterogeneous by
        # store, and the profiled A/B (BASELINE.md r5) shows late-binding
        # task count, not bucket count, is what removes the straggler.
        # Goldens keep the default.
        self.salt_buckets = salt_buckets
        self.robots = robots_table(spark, robots or robots_rows())
        self.mega_hosts = mega_hosts or ["www.coolpc.com.tw"]
        # driver-step wall seconds, accumulated across waves, around the
        # wave loop's four blocking driver actions: pending_probe | fetch
        # (politeness+schedule+fetch UDF, materialized by fetched.count) |
        # children (canonicalize+bloom+seen, by new_children.count) | commit
        # (the concurrent snapshot writes). The lazy plan building between
        # them is outside these timers: the four covered 71-76 % of wave
        # wall on a 13-wave run. Every Spark job a phase submits also
        # carries the job description "wave:<phase>" (the commit's writes
        # "commit:<table>", the seed commit's "seed_commit:<table>";
        # invalidate() tags its jobs "invalidate:<step>"), which is how
        # `bench.py --engine` groups event-log stages.
        self.phase_seconds: dict[str, float] = {}

    def _phase(self, name: str, t0: float) -> None:
        self.phase_seconds[name] = self.phase_seconds.get(name, 0.0) + (
            time.time() - t0
        )

    def _describe(self, phase: str | None, scope: str = "wave") -> None:
        """Tag the Spark jobs this thread submits from here on."""
        self.spark.sparkContext.setJobDescription(
            None if phase is None else f"{scope}:{phase}"
        )

    # -- state ---------------------------------------------------------------

    def _init_if_needed(self) -> None:
        if self.store.current() is not None:
            return
        t0 = time.time()
        self._describe("init_seed_commit")
        try:
            self._init_inner()
        finally:
            self._describe(None)
        self._phase("init_seed_commit", t0)

    def _init_inner(self) -> None:
        frontier = seeds.seed_frontier(self.spark, self.queries).select(
            *FRONTIER_COLS
        )
        # First-wins enqueue dedup — coolpc's query-independent search URL
        # appears once per query in the raw seed list but must enter the
        # frontier exactly once (reference: URL-seen checked at enqueue).
        frontier = dedup_in_batch(frontier).persist()
        try:
            # materialize once: the commit's three concurrent writes would
            # each re-run the canonicalizer's Python UDF over a cold cache
            frontier.count()
            seen = frontier.select("url_hash").distinct()
            bloom_table = self.bloom.insert(frontier.select("url_hash"), None)
            self.store.commit(
                tables_replace={"pending": frontier, "bloom": bloom_table},
                tables_append={"seen": seen},
                meta={"next_wave": 0, "queries": self.queries},
                job_prefix="seed_commit",
            )
        finally:
            frontier.unpersist()

    def next_wave(self) -> int:
        return int(self.store.latest_meta().get("next_wave", 0))

    def frontier(self) -> DataFrame:
        """Full frontier view = live ``pending`` table ∪ append-only
        ``frontier_log`` of terminal rows (fetched/failed/blocked).

        The split is the 100 TB write-path design (r4): a wave REPLACES
        only the bounded pending set (deferred + retries + new children —
        O(wave), not O(corpus)) and APPENDS the rows that just became
        terminal; terminal rows are immutable, so the dominant mass of a
        10^10-row frontier is never rewritten. The previous layout rewrote
        the whole frontier every wave — a full-corpus copy-on-write per
        wave at scale. Maps to Iceberg as partition-overwrite on pending +
        fast appends on the log."""
        pending = self.store.read(self.spark, "pending")
        log = self.store.read(self.spark, "frontier_log")
        if log is None:
            return pending
        return pending.unionByName(log)

    def documents(self) -> DataFrame | None:
        return self.store.read(self.spark, "documents")

    def fetch_log(self) -> DataFrame | None:
        return self.store.read(self.spark, "fetch_log")

    # -- one wave ------------------------------------------------------------

    def run_wave(self) -> bool:
        """Execute one wave; returns False when the frontier is drained."""
        self._init_if_needed()
        # every frame the wave persists, released even when the wave fails —
        # a commit error would otherwise leave them cached until the Spark
        # application ends
        held: list[DataFrame] = []
        try:
            return self._wave(held)
        finally:
            for df in held:
                df.unpersist()
            self._describe(None)

    def _wave(self, held: list[DataFrame]) -> bool:
        wave = self.next_wave()
        self._describe("pending_probe")
        # the pending table IS the live frontier — no full-table status
        # filter needed (terminal rows live in the append-only log)
        pending = self.store.read(self.spark, "pending")
        t0 = time.time()
        # full count, not limit(1): parquet row-count comes from footer
        # metadata (no data scan), and the number feeds the fetch_log's
        # pending_size lineage column (drain observability — a persistently
        # failing host must show pending shrinking wave over wave)
        n_pending = 0 if pending is None else pending.count()
        self._phase("pending_probe", t0)
        if n_pending == 0:
            return False

        self._describe("fetch")
        sched, deferred, blocked = politeness.schedule_wave(
            pending, self.robots, self.wave_seconds,
            mega_hosts=self.mega_hosts, salt_buckets=self.salt_buckets,
        )
        # The scheduled set is computed once: the fetch below materializes
        # this cache, and the commit's pending write reads it back through
        # ``deferred`` (allowed rows anti-joined with the scheduled ones)
        # instead of re-running the scan and both rank windows.
        sched = sched.persist()
        held.append(sched)

        # persist AND materialize: the commit's five table writes run
        # concurrently, and concurrent jobs hitting a cold cache each
        # recompute the partition — for the fetch UDF (the wave's most
        # expensive stage) that multiplied the cost by the number of
        # consumers until this count().
        salted = politeness.with_host_salt(
            sched, self.mega_hosts, buckets=self.salt_buckets
        )
        fetched = fetch_scheduled(salted, fail_hosts=self.fail_hosts).persist()
        held.append(fetched)
        t0 = time.time()
        fetched.count()
        self._phase("fetch", t0)
        ok = fetched.filter("ok")
        failed = fetched.filter(~F.col("ok"))

        # Deferred/retried rows carry their ENQUEUE wave; the crawl-order law
        # and child enqueue wave use the ACTUAL fetch wave (this loop's).
        docs = docs_from_fetched(ok).withColumn("wave", F.lit(wave))

        children = links_from_fetched(ok).withColumn("wave", F.lit(wave + 1))
        # Seeds and invalidate() canonicalize with the same kernel, so a URL
        # hashes alike on every path into the seen set. The crawl-order and
        # URL-seen goldens run through this exact path.
        children = (
            children.withColumn("c", canonicalize_with_host_arrow("url"))
            .withColumn("canonical_url", F.col("c.canonical_url"))
            .withColumn("host", F.col("c.host"))
            .drop("c")
            .withColumn("url_hash", url_hash("canonical_url"))
            .withColumn("priority", F.lit(1))
            .withColumn("attempts", F.lit(0))
            .withColumn("status", F.lit("pending"))
            .select(*FRONTIER_COLS)
        )
        children = dedup_in_batch(children)
        self._describe("children_seen")
        seen = self.store.read(self.spark, "seen")
        bloom_table = self.store.read(self.spark, "bloom")
        # Persist + materialize ONCE: three of the commit's concurrent table
        # writes (pending replace, seen append, bloom replace) consume
        # new_children, and without a persist each would recompute the whole
        # child pipeline — Arrow canonicalize + filter-probe cogroup + exact
        # anti-join — tripling commit cost (measured: the commit dominated
        # wave wall time and scaled NEGATIVELY with cores before this).
        new_children = (
            filter_new(children, seen, bloom_table, self.bloom)
            .select(*FRONTIER_COLS)
            .persist()
        )
        held.append(new_children)
        t0 = time.time()
        new_children.count()
        self._phase("children_seen", t0)

        done_ok = ok.select(*[c for c in FRONTIER_COLS if c != "status"]).withColumn(
            "status", F.lit("fetched")
        )
        retried = failed.withColumn("attempts", F.col("attempts") + 1).withColumn(
            "status",
            F.when(F.col("attempts") <= self.max_retries, "pending").otherwise(
                "failed"
            ),
        )

        # Delta layout: the REPLACED pending table carries only live rows
        # (O(wave)); rows that just became terminal APPEND to frontier_log
        # and are never touched again. No O(corpus) rewrite per wave.
        new_pending = (
            deferred.select(*FRONTIER_COLS)
            .unionByName(
                retried.filter(F.col("status") == "pending").select(*FRONTIER_COLS)
            )
            .unionByName(new_children)
        )
        newly_terminal = (
            done_ok.select(*FRONTIER_COLS)
            .unionByName(blocked.select(*FRONTIER_COLS))
            .unionByName(
                retried.filter(F.col("status") == "failed").select(*FRONTIER_COLS)
            )
        )

        log = (
            fetched.groupBy("host", "store")
            .agg(
                F.count("*").alias("n_scheduled"),
                F.sum(F.col("ok").cast("int")).alias("n_ok"),
                F.sum((~F.col("ok")).cast("int")).alias("n_failed"),
            )
            # the ACTUAL fetch wave (this loop's), like docs — the row's own
            # wave column is its ENQUEUE wave, which mis-filed retries
            # fetched in a later wave under their original one
            .withColumn("wave", F.lit(wave))
            .withColumn("n_partitions", F.lit(self.spark.sparkContext.defaultParallelism))
            # pending-table size at this wave's START (drain audit — VERDICT
            # r4 item 6): one scalar per wave, stamped on every host row
            .withColumn("pending_size", F.lit(n_pending))
            .select(
                "wave", "host", "store", "n_scheduled", "n_ok", "n_failed",
                "n_partitions", "pending_size",
            )
        )

        new_bloom = self.bloom.insert(new_children.select("url_hash"), bloom_table)

        self._describe("commit")
        t0 = time.time()
        self.store.commit(
            tables_replace={"pending": new_pending, "bloom": new_bloom},
            tables_append={
                "frontier_log": newly_terminal,
                "seen": new_children.select("url_hash"),
                "documents": docs,
                "fetch_log": log,
            },
            meta={"next_wave": wave + 1, "queries": self.queries},
        )
        self._phase("commit", t0)
        return True

    def run(self, max_waves: int = 10) -> int:
        """Run until drained or max_waves; returns waves executed."""
        n = 0
        while n < max_waves and self.run_wave():
            n += 1
        return n

    # -- re-crawl invalidation (north rule's deletion case) -------------------

    def invalidate(self, urls: list[str]) -> int:
        """Re-enqueue fetched URLs so the next wave re-fetches each EXACTLY
        once (re-crawl invalidation — the case the north rule's cuckoo
        fallback exists for; Bloom bits cannot be unset, so this requires
        ``seen_filter='cuckoo'``). Returns the number of rows re-enqueued.

        One pass over the URL-seen layer: the URLs' fetched ``frontier_log``
        rows (the hits) go straight back to ``pending`` — every hit hash is
        already seen, so the enqueue gate could never drop one — and the
        cuckoo shards holding them get one cogroup that deletes then
        re-inserts each hit hash (``ShardedCuckoo.reinsert``): every
        fingerprint stays, since a re-enqueued URL is still seen, and the
        shard bytes are those of a delete pass followed by an insert pass.
        The URLs are canonicalized and hashed on the driver
        (``url_hash_relation``), where the list already is. The ``seen``
        table is left as it is: the wave commit that enqueued a hit wrote
        its hash to ``seen`` in the same snapshot, and a re-enqueued URL
        stays seen, so a later re-discovery of it is dropped as before and
        the seen set stays exact. The hits' terminal ``frontier_log`` rows
        are removed because the rows are live again; at 100 TB that edit
        maps to an Iceberg row-level DELETE (merge-on-read — O(delete
        set)), and this parquet shim rewrites the table instead. The old
        document rows are kept, so ``documents()`` and ``crawl_order()``
        list a re-crawled doc once per fetch. A call that matches no
        fetched row commits nothing.
        """
        if not isinstance(self.bloom, ShardedCuckoo):
            raise ValueError(
                "invalidate() requires seen_filter='cuckoo' — Bloom bits "
                "cannot be deleted"
            )
        self._describe("hits", "invalidate")
        try:
            return self._invalidate(urls)
        finally:
            self._describe(None)

    def _invalidate(self, urls: list[str]) -> int:
        spark = self.spark
        log = self.store.read(spark, "frontier_log")
        if log is None or not urls:
            return 0
        # read by three of the commit's writes
        hits = (
            log.join(url_hash_relation(spark, urls), "url_hash", "semi")
            .filter(F.col("status") == "fetched")
            .persist()
        )
        try:
            n = hits.count()
            if n == 0:
                return 0
            self._describe("commit", "invalidate")
            wave = self.next_wave()
            hit_hashes = hits.select("url_hash")
            re_rows = (
                hits.withColumn("attempts", F.lit(0))
                .withColumn("status", F.lit("pending"))
                .withColumn("wave", F.lit(wave))
                .select(*FRONTIER_COLS)
            )
            self.store.commit(
                tables_replace={
                    "pending": self.store.read(spark, "pending").unionByName(re_rows),
                    "bloom": self.bloom.reinsert(
                        hit_hashes, self.store.read(spark, "bloom")
                    ),
                    "frontier_log": log.join(hit_hashes, "url_hash", "left_anti"),
                },
                meta={"next_wave": wave, "queries": self.queries},
                job_prefix="invalidate:commit",
            )
        finally:
            hits.unpersist()
        return n

    # -- inspection ----------------------------------------------------------

    def crawl_order(self) -> DataFrame:
        """Canonical fetch order: fetched docs sorted by (wave, seq_key)."""
        docs = self.documents()
        return docs.orderBy("wave", "seq_key").select(
            "wave", "seq_key", "doc_id", "store"
        )
