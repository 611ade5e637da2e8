"""Drives one crawl workload through the program's public API.

A run has four parts:

1. set-up: open a CrawlRun on a fresh root and commit the seed frontier,
   SETUP_REPS times; ``setup_s`` is the median, the last root is crawled.
   The first repetition also pays the process's first-use costs;
2. the timed window: cycles until ``seconds`` have passed, and at least
   one. A cycle is one ``run_wave()``; on a churn workload it then
   reopens the committed root in a fresh CrawlRun (the resume path) and
   calls ``invalidate()`` on a seeded sample of the URLs the wave
   fetched. Each cycle's times are divided by ``box.slowdown()`` measured
   just before and after it, while the engine is idle;
3. traced runs only: before the first timed wave, every layer's public
   function is replayed on that wave's inputs (the committed pending, seen
   and filter tables), each output forced with the noop sink inside its
   span. The replay runs twice and only the second pass is kept, so the
   per-layer times are not the first use of a UDF or a plan;
4. the correctness gates (see ``verify_oracle`` and ``verify_churn``).

Spark is lazy, so a layer call's own wall time is only plan building;
that is why per-layer times come from the forced replay and not from
timing the calls inside a wave.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from perfbench import stats
from perfbench.box import cpu_ticks, slowdown, tree_cpu_s
from perfbench.trace import Tracer
from perfbench.workloads import (
    STORE_TABLES,
    WAVE_SECONDS,
    Workload,
    invalidation_sample,
    queries_for,
)
from price_crawler_spark.frontier import politeness, seeds
from price_crawler_spark.frontier.fetch import fetch_scheduled, links_from_fetched
from price_crawler_spark.frontier.seen import ShardedCuckoo, dedup_in_batch, filter_new
from price_crawler_spark.frontier.wave import FRONTIER_COLS, CrawlRun
from price_crawler_spark.functions.urls import canonicalize_with_host_arrow, url_hash
from price_crawler_spark.sources.synthetic import fetch_fails, synthesize_page
from tests.oracle_crawler import canonicalize_py, oracle_crawl

SETUP_REPS = 2
PHASES = ("pending_probe", "fetch", "children_seen", "commit")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _hex(seq_key: str) -> str:
    """The engine spells seq_key's hex digits in upper case (``F.conv``),
    the reference crawler in lower case; both are fixed width, so the
    order is the same and only the spelling is folded."""
    return seq_key.lower()


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _table_bytes(root: str) -> dict[str, int]:
    return {t: _du(os.path.join(root, "data", t)) for t in STORE_TABLES}


class CrawlBench:
    def __init__(self, spark, workload: Workload, seed: int, workdir: str,
                 trace: bool):
        self.spark = spark
        self.w = workload
        self.workdir = workdir
        self.queries = queries_for(workload, seed)
        self.rng = random.Random(f"invalidate:{workload.name}:{seed}")
        self.tracer = Tracer(f"{workload.name}:{seed}") if trace else None
        self.root = ""
        self.run: CrawlRun | None = None
        self.setup_s: list[float] = []
        # box.slowdown() around each set-up: mean of before and after
        self.setup_slowdown: list[float] = []
        self.seed_commit_s: list[float] = []
        # box.slowdown() after the last timed step; the next one's "before"
        self.last_slowdown = 1.0
        self.cycles: list[dict] = []
        # canonical URL -> wave before which it was invalidated
        self.invalidated: dict[str, int] = {}
        self.layers: dict[str, float] = {}
        self.checks: dict[str, bool] = {}
        self.ops_failed = 0
        self.errors: list[str] = []

    def open(self) -> CrawlRun:
        w = self.w
        return CrawlRun(self.spark, self.root, self.queries,
                        wave_seconds=WAVE_SECONDS, seen_filter=w.seen_filter)

    # -- 1. set-up --------------------------------------------------------

    def setup(self) -> None:
        p0 = slowdown()
        for i in range(SETUP_REPS):
            self.root = os.path.join(self.workdir, f"root{i}")
            t0 = time.perf_counter()
            self.run = self.open()
            # the seed commit that run_wave() performs before its first
            # wave, called on its own so set-up is timed apart from waves
            self.run._init_if_needed()
            self.setup_s.append(time.perf_counter() - t0)
            p1 = slowdown()
            self.setup_slowdown.append((p0 + p1) / 2)
            p0 = p1
            self.seed_commit_s.append(self.run.phase_seconds["init_seed_commit"])

    # -- 2. the timed window ----------------------------------------------

    def window(self, seconds: float) -> None:
        """Cycles until ``seconds`` have passed, and at least one. A
        traced run replays the layers before its first timed wave, so both
        kinds of run crawl the same waves."""
        self.state_bytes_start = _du(self.root)
        ticks0 = cpu_ticks()
        cpu0 = tree_cpu_s(os.getpid())
        t_start = time.perf_counter()
        replay = self.tracer is not None
        self.last_slowdown = slowdown()
        while not self.cycles or time.perf_counter() - t_start < seconds:
            if not self.cycle(replay):
                break
            replay = False
        self.window_s = time.perf_counter() - t_start
        self.window_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        ticks1 = cpu_ticks()
        self.window_ticks = {k: ticks1[k] - ticks0[k] for k in ticks0}
        self.state_bytes_end = _du(self.root)

    def cycle(self, replay: bool) -> bool:
        """One wave; on churn, then a reopen of the committed root and
        ``invalidate()`` on a sample of what the wave fetched. Returns
        False when the crawl drained or an operation raised."""
        rec: dict = {"wave": self.run.next_wave()}
        tr = self.tracer
        try:
            if replay:
                # the first pass pays first-use costs and is discarded
                self.replay(Tracer("replay-warm-up"), {})
                self.replay(tr, self.layers)
                self.last_slowdown = slowdown()
            before = dict(self.run.phase_seconds)
            bytes_before = _table_bytes(self.root) if tr else None
            t0 = time.perf_counter()
            more = self.run.run_wave()
            t1 = time.perf_counter()
            rec["wave_s"] = rec["wall_s"] = t1 - t0
            rec["phases"] = {
                k: self.run.phase_seconds.get(k, 0.0) - before.get(k, 0.0)
                for k in PHASES
            }
            if tr:
                self._trace_wave(rec, t0, t1, bytes_before)
            if more and self.w.invalidate_per_cycle:
                self.invalidate(rec)
        except Exception as e:  # a failed op ends the window; it is reported
            self.ops_failed += 1
            self.errors.append(f"wave {rec['wave']}: {type(e).__name__}: {e}")
            self.cycles.append(rec)
            return False
        p1 = slowdown()
        rec["slowdown"] = (self.last_slowdown + p1) / 2
        self.last_slowdown = p1
        rec["more"] = more
        if not more:
            return False
        self.cycles.append(rec)
        return True

    def invalidate(self, rec: dict) -> None:
        fetched = [
            r[0] for r in self.run.documents()
            .filter(F.col("wave") == rec["wave"]).select("doc_id").collect()
        ]
        sample = invalidation_sample(
            self.rng, fetched, set(self.invalidated), self.w.invalidate_per_cycle)
        t0 = time.perf_counter()
        self.run = self.open()
        t1 = time.perf_counter()
        n = self.run.invalidate(sample)
        t2 = time.perf_counter()
        rec["open_s"] = t1 - t0
        rec["invalidate_s"] = t2 - t1
        rec["wall_s"] += t2 - t0
        rec["invalidated"] = len(sample)
        rec["re_enqueued"] = n
        for u in sample:
            self.invalidated[u] = rec["wave"] + 1
        if n != len(sample):
            self.ops_failed += 1
            self.errors.append(f"invalidate re-enqueued {n} of {len(sample)}")

    def _trace_wave(self, rec: dict, t0: float, t1: float, bytes_before) -> None:
        tr = self.tracer
        wave = tr.add("wave.run_wave", t0, t1)
        # phase spans are laid end to end in the loop's order: CrawlRun
        # reports each phase's duration, not its start
        cursor = t0
        for k in PHASES:
            tr.add(f"wave.{k}", cursor, cursor + rec["phases"][k], wave["id"])
            cursor += rec["phases"][k]
        after = _table_bytes(self.root)
        rec["bytes_written"] = {t: after[t] - bytes_before[t] for t in STORE_TABLES}

    # -- 3. traced replay of each layer -------------------------------------

    def replay(self, tr: Tracer, lay: dict) -> None:
        spark, run = self.spark, self.run
        root = tr.add("replay", time.perf_counter(), None)
        pid = root["id"]
        pending = run.store.read(spark, "pending")
        seen = run.store.read(spark, "seen")
        filt = run.store.read(spark, "bloom")
        held = []

        def forced(name, df, persist=True):
            if persist:
                df = df.persist()
                held.append(df)
            with tr.span(name, pid) as s:
                _noop(df)
            lay[name + "_s"] = s["end"] - s["start"]
            return df, s

        sd, s = forced("seeds.build", seeds.seed_frontier(spark, self.queries))
        lay["seeds.rows"] = s["rows_out"] = sd.count()

        sched, deferred, blocked = politeness.schedule_wave(
            pending, run.robots, run.wave_seconds,
            mega_hosts=run.mega_hosts, salt_buckets=run.salt_buckets,
        )
        sched, deferred, blocked = (d.persist() for d in (sched, deferred, blocked))
        held += [sched, deferred, blocked]
        with tr.span("politeness.schedule", pid) as s:
            for d in (sched, deferred, blocked):
                _noop(d)
        lay["politeness.schedule_s"] = s["end"] - s["start"]
        s["rows_in"] = pending.count()
        lay["politeness.scheduled"] = s["scheduled"] = sched.count()
        lay["politeness.deferred"] = s["deferred"] = deferred.count()
        lay["politeness.blocked"] = s["blocked"] = blocked.count()

        salted = politeness.with_host_salt(sched, run.mega_hosts, buckets=run.salt_buckets)
        fetched, s = forced("fetch.batch", fetch_scheduled(salted))
        rows = fetched.select("url", "store", "attempts", "ok").collect()
        lay["fetch.urls"] = s["rows_out"] = len(rows)
        lay["fetch.failed"] = s["failed"] = sum(not r["ok"] for r in rows)
        # the synthetic transport alone, in this process, on the same URLs
        with tr.span("fetch.transport", s["id"]) as t:
            for r in rows:
                if not fetch_fails(r["url"], int(r["attempts"])):
                    synthesize_page(r["store"], r["url"])
        lay["fetch.transport_s"] = t["end"] - t["start"]
        lay["fetch.overhead_ms_per_url"] = (
            1000.0 * (lay["fetch.batch_s"] - lay["fetch.transport_s"])
            / max(1, len(rows)))

        # the child expansion exactly as CrawlRun.run_wave builds it
        wave = run.next_wave()
        children = (
            links_from_fetched(fetched.filter("ok"))
            .withColumn("wave", F.lit(wave + 1))
            .withColumn("c", canonicalize_with_host_arrow("url"))
            .withColumn("canonical_url", F.col("c.canonical_url"))
            .withColumn("host", F.col("c.host"))
            .drop("c")
            .withColumn("url_hash", url_hash("canonical_url"))
            .withColumn("priority", F.lit(1))
            .withColumn("attempts", F.lit(0))
            .withColumn("status", F.lit("pending"))
            .select(*FRONTIER_COLS)
        )
        children, s = forced("urls.canonicalize", children)
        lay["urls.rows"] = s["rows_out"] = children.count()

        cand, s = forced("seen.dedup", dedup_in_batch(children))
        lay["seen.candidates"] = s["rows_out"] = cand.count()
        probed, s = forced("seen.probe", run.bloom.probe(cand, filt))
        maybe = probed.filter("maybe_seen").count()
        lay["seen.maybe_seen"] = s["maybe_seen"] = maybe
        lay["seen.definite_new"] = s["definite_new"] = lay["seen.candidates"] - maybe
        new, s = forced("seen.filter_new", filter_new(cand, seen, filt, run.bloom))
        n_new = new.count()
        lay["seen.survivors"] = s["survivors"] = n_new - lay["seen.definite_new"]
        lay["seen.fp_ratio"] = lay["seen.survivors"] / maybe if maybe else 0.0
        forced("seen.insert", run.bloom.insert(new.select("url_hash"), filt),
               persist=False)
        if isinstance(run.bloom, ShardedCuckoo):
            gone = seen.select("url_hash").orderBy("url_hash").limit(
                self.w.invalidate_per_cycle)
            forced("seen.delete", run.bloom.delete(gone, filt), persist=False)
        lay["seen.filter_fill"] = self._fill(filt)
        root["end"] = time.perf_counter()
        for df in held:
            df.unpersist()

    def _fill(self, filt) -> float:
        """Bloom: share of bits set. Cuckoo: share of slots holding a
        fingerprint (the load factor)."""
        blobs = [r["bits"] for r in filt.select("bits").collect() if r["bits"]]
        if isinstance(self.run.bloom, ShardedCuckoo):
            slots = np.concatenate([np.frombuffer(b, dtype=np.uint16) for b in blobs])
            return float((slots != 0).mean())
        bits = np.unpackbits(np.frombuffer(b"".join(blobs), dtype=np.uint8))
        return float(bits.mean())

    # -- 4. correctness gates -----------------------------------------------

    def _check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)

    def _seen_checks(self, fr: list, expected_canon: set[str]) -> None:
        """The URL-seen set is exact: every enqueued URL has one frontier
        row, the seen table holds exactly their hashes, once each."""
        canon = {r["canonical_url"] for r in fr}
        self._check("frontier_rows_unique", len(fr) == len(canon))
        self._check("seen_set", canon == expected_canon)
        seen = [r[0] for r in self.run.store.read(self.spark, "seen").collect()]
        self._check(
            "seen_table_exact",
            len(seen) == len(set(seen)) and set(seen) == {r["url_hash"] for r in fr},
        )

    @staticmethod
    def _spans(row) -> list[tuple]:
        return [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in sorted(row["spans"], key=lambda s: s["offset"])
        ]

    def _order_check(self, name: str, got: list, want: list) -> None:
        self._check(name, got == want)
        if got != want:
            pad = [None] * max(len(got), len(want))
            self.errors.append(f"{name}: first difference " + str(next(
                (g, w) for g, w in zip(got + pad, want + pad) if g != w)))

    def verify(self, docs: list, n_waves: int) -> None:
        fr = self.run.frontier().select(
            "url", "canonical_url", "url_hash", "store", "status").collect()
        order = sorted((r["wave"], _hex(r["seq_key"]), r["doc_id"], r["store"])
                       for r in docs)
        if self.w.invalidate_per_cycle:
            self.verify_churn(docs, fr, order)
        else:
            self.verify_oracle(docs, fr, order, n_waves)

    def verify_oracle(self, docs, fr, order, n_waves: int) -> None:
        """Crawl order, URL-seen set and every doc's span sequence equal
        the pure-Python reference crawler run on the same queries."""
        oracle = oracle_crawl(
            self.queries, wave_seconds=WAVE_SECONDS,
            max_retries=self.run.max_retries, max_waves=n_waves,
        )
        self._order_check("crawl_order", order, oracle["fetch_order"])
        self._seen_checks(fr, oracle["seen"])
        self._check("span_sequences", len(docs) == len(oracle["docs"]) and all(
            self._spans(r) == [tuple(e) for e in oracle["docs"].get(r["doc_id"], [])]
            for r in docs
        ))

    def verify_churn(self, docs, fr, order) -> None:
        """Wave 0 (before any invalidation) equals the reference crawler;
        each invalidated URL is re-fetched exactly once (or is still
        pending when the window closed) and nothing else twice; the seen
        set stays exactly the enqueued set; spans match the synthetic web."""
        first = oracle_crawl(
            self.queries, wave_seconds=WAVE_SECONDS,
            max_retries=self.run.max_retries, max_waves=1,
        )
        self._order_check("crawl_order_wave0", [o for o in order if o[0] == 0],
                          first["fetch_order"])

        url_of = {r["canonical_url"]: (r["store"], r["url"]) for r in fr}
        expected = {canonicalize_py(s["url"]) for s in seeds.seed_urls(self.queries)}
        for d in {r["doc_id"] for r in docs} & set(url_of):
            expected |= {canonicalize_py(u) for u in synthesize_page(*url_of[d])["links"]}
        self._seen_checks(fr, expected)

        live = {r["canonical_url"] for r in fr if r["status"] == "pending"}
        waves_of: dict[str, list[int]] = {}
        for r in docs:
            waves_of.setdefault(r["doc_id"], []).append(r["wave"])
        once = bool(self.invalidated)
        for u, inv_wave in self.invalidated.items():
            ws = sorted(waves_of.get(u, []))
            refetched = len(ws) == 2 and ws[0] < inv_wave <= ws[1]
            once &= refetched or (len(ws) == 1 and u in live)
        once &= all(len(ws) == 1 for d, ws in waves_of.items()
                    if d not in self.invalidated)
        self._check("refetched_exactly_once", once)
        self._check("span_sequences", all(
            r["doc_id"] in url_of and self._spans(r) == [
                tuple(e) for e in synthesize_page(*url_of[r["doc_id"]])["spans"]]
            for r in docs
        ))


def run_workload(spark, workload: Workload, seed: int, seconds: float,
                 trace: bool, workdir: str) -> dict:
    """Set up, run the window, check. Returns the numbers for the record
    and the sidecar."""
    b = CrawlBench(spark, workload, seed, workdir, trace)
    b.setup()
    b.window(seconds)
    waves = [c for c in b.cycles if "wave_s" in c]
    docs_df = b.run.documents()
    docs = [] if docs_df is None else docs_df.select(
        "wave", "seq_key", "doc_id", "store", "spans").collect()
    try:
        b.verify(docs, b.run.next_wave())
    except Exception as e:  # a gate that raises is a failed gate
        b.errors.append(f"verify: {type(e).__name__}: {e}")
        b.checks["verify_raised"] = False

    per_wave_docs = Counter(r["wave"] for r in docs)
    log = b.run.fetch_log()
    per_wave_urls = {} if log is None else {
        r["wave"]: r["n"] for r in
        log.groupBy("wave").agg(F.sum("n_scheduled").alias("n")).collect()}
    window_waves = [c["wave"] for c in waves]
    urls = sum(per_wave_urls.get(w, 0) for w in window_waves)

    # reference seconds: wall seconds on the quiet reference box
    wave_ref = [c["wave_s"] / c["slowdown"] for c in waves]
    cycle_ref = sum(c["wall_s"] / c["slowdown"] for c in waves)
    cycle_s = sum(c["wall_s"] for c in waves)
    wave_s = [c["wave_s"] for c in waves]
    inv = [c["invalidate_s"] for c in b.cycles if "invalidate_s" in c]
    out = {
        "queries": b.queries,
        "checks": b.checks,
        "errors": b.errors,
        "attempted": len(b.cycles) + len(inv) + len(b.checks),
        "failed": b.ops_failed + sum(not v for v in b.checks.values()),
        "correct": bool(b.checks) and all(b.checks.values()) and not b.ops_failed,
        "e2e": {
            "crawl_urls_per_s": urls / cycle_ref if cycle_ref else 0.0,
            "wave_s_p50": stats.median(wave_ref) if wave_ref else 0.0,
            "setup_s": stats.median(
                [w / f for w, f in zip(b.setup_s, b.setup_slowdown)]),
            "state_bytes_per_url": (b.state_bytes_end - b.state_bytes_start)
            / max(1, urls),
        },
        # the same numbers in plain wall seconds, and what they came from
        "wall": {
            "crawl_urls_per_s": urls / cycle_s if cycle_s else 0.0,
            "crawl_docs_per_s": sum(per_wave_docs.get(w, 0) for w in window_waves)
            / cycle_s if cycle_s else 0.0,
            "wave_s_p50": stats.median(wave_s) if wave_s else 0.0,
            "wave_s_tail": stats.tail(wave_s),
            "setup_s": stats.median(b.setup_s),
            "invalidate_s_p50": stats.median(inv) if inv else None,
        },
        "waves": len(wave_s),
        "invalidate_calls": len(inv),
        "invalidated": len(b.invalidated),
        "urls_per_wave": {str(k): v for k, v in sorted(per_wave_urls.items())},
        "docs_per_wave": {str(k): v for k, v in sorted(per_wave_docs.items())},
        "setup_reps_s": b.setup_s,
        "setup_slowdown": b.setup_slowdown,
        "seed_commit_s": b.seed_commit_s,
        "cycles": b.cycles,
        "window_s": b.window_s,
        "window_cpu_s": b.window_cpu_s,
        "window_ticks": b.window_ticks,
    }
    if trace and waves:
        tr = b.tracer
        lay = b.layers
        for k in PHASES:
            lay[f"wave.{k}_s"] = stats.median([c["phases"][k] for c in waves])
        lay["wave.init_seed_commit_s"] = stats.median(b.seed_commit_s)
        lay["wave.phase_coverage"] = stats.median(
            [sum(c["phases"].values()) / c["wave_s"] for c in waves])
        traced = waves[0]
        lay["store.commit_s"] = traced["phases"]["commit"]
        for t, n in traced["bytes_written"].items():
            lay[f"store.bytes_written.{t}"] = n
        lay["store.bytes_written"] = sum(traced["bytes_written"].values())
        selfs = stats.self_times(tr.spans)
        lay["wave.self_s"] = stats.median(
            [selfs[s["id"]] for s in tr.spans if s["name"] == "wave.run_wave"])
        lay["trace.overhead_s"] = tr.overhead_s
        out["layers"] = lay
        out["spans"] = tr.spans
        out["span_self_s"] = selfs
    return out
