"""Frontier/crawl engine tests: crawl-order + URL-seen equality against the
pure-Python reference oracle, span-sequence equality, politeness quotas,
Bloom/cuckoo invariants, and kill/resume determinism (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from price_crawler_spark.frontier.seen import (
    CuckooShard,
    ShardedBloom,
    ShardedCuckoo,
    dedup_in_batch,
    filter_new,
)
from price_crawler_spark.frontier.wave import CrawlRun
from price_crawler_spark.functions.urls import canonicalize_with_host_arrow

from .oracle_crawler import canonicalize_py, duckdb_canonical_rows, oracle_crawl

QUERIES = ["RTX 4090", "RX 9070"]
WAVE_SECONDS = 10.0


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl"))
    run = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    run.run(max_waves=8)
    return run


@pytest.fixture(scope="module")
def oracle():
    return oracle_crawl(QUERIES, wave_seconds=WAVE_SECONDS, max_waves=8)


def _canonical_urls(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    canon = canonicalize_with_host_arrow("u")["canonical_url"]
    return [r[0] for r in df.select(canon).collect()]


def _adversarial_urls():
    """400 URLs: mixed-case schemes/hosts, default and odd ports, doubled
    slashes, trailing host dots, tracking params, duplicate params,
    fragments, empty paths."""
    import random

    rng = random.Random(13)
    schemes = ["http", "HTTP", "https", "HtTpS", "ftp"]
    hosts = ["Shop.Example.COM", "a.b.c", "X9.example.com.", "localhost"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "//a//b", "/a/b/", "/a.b/c", "/x%20y", "///"]
    qs = ["", "?a=1", "?utm_source=x", "?b=2&a=1&utm_campaign=z&ref=r",
          "?a=1&a=0", "?fbclid=42&z=9"]
    frags = ["", "#f", "#a/b?c=1"]
    return [
        rng.choice(schemes) + "://" + rng.choice(hosts) + rng.choice(ports)
        + rng.choice(paths) + rng.choice(qs) + rng.choice(frags)
        for _ in range(400)
    ]


def test_canonicalizer_python_mirror(spark):
    urls = [
        "HTTPS://Shop.Example.COM:443//a//b/?utm_source=x&b=2&a=1#frag",
        "http://example.com",
        "https://www.mypc.com.tw/product.php?act=search&keywords=RTX+4090",
        "https://24h.pchome.com.tw/search/?q=RX%209070",
    ]
    assert _canonical_urls(spark, urls) == [canonicalize_py(u) for u in urls]


def test_property_canonicalizer_parity(spark):
    """Engine canonicalizer vs the pure-Python mirror on 400 adversarial
    URL combinations."""
    cases = _adversarial_urls()
    assert _canonical_urls(spark, cases) == [canonicalize_py(u) for u in cases]


def test_canonicalizer_arrow_variant_parity():
    """The Arrow kernel, called without Spark, emits the DuckDB mirror's
    exact (canonical_url, port-stripped host) on the 400 adversarial
    combinations, bench-shaped frontier URLs and whitespace padding. Many
    of them filter their query string down to nothing (no '?', a bare '?',
    only tracking params)."""
    import pyarrow as pa

    from price_crawler_spark.functions.urls import _canon_batch_pa

    cases = _adversarial_urls() + [
        f"https://Shop{i % 64}.example.com/item/{i}?a=1&utm_source=v{i}&b={i % 4}"
        for i in range(100)
    ] + [
        # whitespace padding: ' ' strips; tab/newline must SURVIVE
        # (DuckDB trim() is space-only — ADVICE r3 drift case)
        "  https://pad.example.com/a?b=1  ",
        "\thttps://pad.example.com/a?b=1\t",
        "\nhttps://pad.example.com/a?b=1\n",
        " \t https://pad.example.com/a ",
    ]
    canonical, host = _canon_batch_pa(pa.array(cases, pa.string()))
    got = list(zip(canonical.to_pylist(), host.to_pylist()))
    expected = duckdb_canonical_rows(cases)
    assert len(got) == len(expected) == 504
    assert got == expected


def test_url_hash_relation_matches_engine_path(spark):
    """The driver-side hash frame invalidate() joins on holds the url_hash
    the wave path gives each URL, once per canonical form, and plans as a
    LocalRelation."""
    from price_crawler_spark.functions.urls import url_hash, url_hash_relation

    cases = _adversarial_urls()
    rel = url_hash_relation(spark, cases)
    assert rel._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    got = [r[0] for r in rel.collect()]
    engine = spark.createDataFrame([(u,) for u in cases], "url string").select(
        url_hash(canonicalize_with_host_arrow("url")["canonical_url"])
    )
    assert len(got) == len(set(got))
    assert set(got) == {r[0] for r in engine.collect()}


def test_crawl_order_matches_reference_oracle(crawl, oracle):
    got = [
        (r["wave"], r["seq_key"], r["doc_id"], r["store"])
        for r in crawl.crawl_order().collect()
    ]
    assert got == oracle["fetch_order"]


def test_url_seen_set_matches_oracle(crawl, oracle, spark):
    frontier = crawl.frontier()
    got = {r[0] for r in frontier.select("canonical_url").distinct().collect()}
    assert got == oracle["seen"]
    # seen table is exactly the enqueued set (no dupes, no misses)
    seen_tbl = crawl.store.read(spark, "seen")
    assert seen_tbl.count() == seen_tbl.distinct().count() == frontier.select("url_hash").distinct().count()


def test_span_sequence_equality(crawl, oracle):
    """Per-row invariant from BASELINE.json input_hint: spans sorted by
    offset must equal the oracle's (kind, text, media_ref, order)."""
    rows = crawl.documents().select("doc_id", "spans").collect()
    assert len(rows) == len(oracle["docs"])
    for r in rows:
        expected = oracle["docs"][r["doc_id"]]
        got = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in sorted(r["spans"], key=lambda s: s["offset"])
        ]
        assert got == [tuple(e) for e in expected], r["doc_id"]


def test_blocked_urls(crawl, oracle):
    got = {
        r[0]
        for r in crawl.frontier()
        .filter("status = 'blocked'")
        .select("canonical_url")
        .collect()
    }
    assert got == oracle["blocked"]


def test_politeness_quota_per_wave(crawl, spark):
    """No host exceeds floor(wave_seconds / crawl_delay) fetches per wave
    (isunfar has crawl_delay=2 → quota 5 at wave_seconds=10)."""
    log = crawl.fetch_log()
    quotas = {"www.isunfar.com.tw": 5}
    for r in log.collect():
        q = quotas.get(r["host"], int(WAVE_SECONDS))
        assert r["n_scheduled"] <= q, (r["host"], r["n_scheduled"], q)


def test_retry_semantics(crawl, spark):
    """Transiently-failing URLs end up fetched with attempts>=1; none exceed
    max_retries while still pending."""
    f = crawl.frontier()
    assert f.filter("status = 'pending'").count() == 0
    retried = f.filter("attempts >= 1")
    assert retried.count() > 0  # synthetic web fails ~1/11 first attempts
    assert f.filter("attempts > 3").count() == 0


def test_coolpc_dedup_across_queries(crawl):
    """coolpc's search URL is query-independent → the N queries collapse to
    ONE frontier row (URL-seen dedup, the mega-host case)."""
    n = crawl.frontier().filter("store = 'coolpc' and priority = 0").count()
    assert n == 1


# ---- seen-layer unit tests ---------------------------------------------------

def test_bloom_no_false_negatives(spark):
    bloom = ShardedBloom(n_shards=8, bits_per_shard=1 << 14)
    df = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    table = bloom.insert(df, None)
    probed = bloom.probe(bloom.with_keys(df), table)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


@pytest.mark.parametrize(
    "filt, seen_none",
    [
        # deliberately tiny tables: false positives the anti-join must rescue
        (ShardedBloom(n_shards=4, bits_per_shard=1 << 8), False),
        (ShardedCuckoo(n_shards=4, n_buckets=1 << 5), False),
        (ShardedBloom(n_shards=4, bits_per_shard=1 << 8), True),
        (ShardedCuckoo(n_shards=4, n_buckets=1 << 5), True),
    ],
    ids=["bloom", "cuckoo", "bloom-seen_none", "cuckoo-seen_none"],
)
def test_filter_new_is_exact(spark, filt, seen_none):
    """filter_new == exact set difference, regardless of the filter's
    fp-rate; with no seen table the filter alone drops nothing."""
    old = spark.range(0, 300).select(F.xxhash64("id").alias("url_hash"))
    table = filt.insert(old, None)
    cand = spark.range(200, 600).select(
        F.xxhash64("id").alias("url_hash"), F.lpad(F.hex("id"), 8, "0").alias("seq_key")
    )
    new = filter_new(cand, None if seen_none else old, table, filt)
    got = [r[0] for r in new.select("url_hash").collect()]
    expected = {
        r[0]
        for r in spark.range(200 if seen_none else 300, 600)
        .select(F.xxhash64("id")).collect()
    }
    assert len(got) == len(expected)
    assert set(got) == expected


def test_dedup_in_batch_first_wins(spark):
    df = spark.createDataFrame(
        [(1, "b", "y"), (1, "a", "x"), (2, "c", "z")],
        ["url_hash", "seq_key", "payload"],
    )
    got = {(r["url_hash"], r["payload"]) for r in dedup_in_batch(df).collect()}
    assert got == {(1, "x"), (2, "z")}


def test_cuckoo_insert_contains_delete():
    c = CuckooShard(n_buckets=1 << 10)
    hs = [hash_val * 2654435761 % (1 << 63) for hash_val in range(1, 2000)]
    for h in hs:
        assert c.insert(h)
    assert all(c.contains(h) for h in hs)  # no false negatives
    for h in hs[:500]:
        assert c.delete(h)
    # deleted entries may still "hit" only via fp collisions; re-insert works
    for h in hs[:500]:
        assert c.insert(h)
    assert all(c.contains(h) for h in hs)


def test_cuckoo_serialization_roundtrip():
    c = CuckooShard(n_buckets=1 << 8)
    for h in range(1, 300):
        c.insert(h * 7919)
    c2 = CuckooShard.from_bytes(c.to_bytes(), n_buckets=1 << 8)
    assert all(c2.contains(h * 7919) for h in range(1, 300))


INT64_EDGES = [0, 1, -1, 65536, -65536, 65535, -65535, (1 << 63) - 1, -(1 << 63)]


@pytest.mark.parametrize("n_buckets", [1 << 8, 1 << 10, 1 << 14])
def test_cuckoo_contains_many_matches_contains(n_buckets):
    """The vectorized probe answers exactly like the per-hash one — hits,
    misses and fingerprint collisions alike — on 50k random hashes plus
    the sign and fingerprint edges; every other hash is inserted, up to
    ~0.9 load."""
    import numpy as np

    rng = np.random.default_rng(n_buckets)
    hs = np.concatenate([
        np.array(INT64_EDGES, dtype=np.int64),
        rng.integers(-(1 << 63), (1 << 63) - 1, size=50_000, dtype=np.int64),
    ])
    c = CuckooShard(n_buckets=n_buckets)
    for h in hs[::2][: int(0.9 * n_buckets * c.slots)]:
        c.insert(int(h))
    got = c.contains_many(hs)
    assert got.dtype == bool and got.shape == hs.shape
    assert got.tolist() == [c.contains(int(h)) for h in hs]
    assert got.any() and not got.all()


def test_cuckoo_eviction_walk_bytes_pinned():
    """A 0.88-load shard (most inserts past the first few hundred take the
    eviction walk) keeps its exact bytes, and the walk's 64-bit LCG no
    longer warns about integer overflow."""
    import hashlib
    import warnings

    import numpy as np

    rng = np.random.default_rng(7)
    hs = rng.integers(-(1 << 63), (1 << 63) - 1, size=900, dtype=np.int64)
    c = CuckooShard(n_buckets=1 << 8)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert all(c.insert(int(h)) for h in hs)
    assert hashlib.sha256(c.to_bytes()).hexdigest() == (
        "2dce1dec6f59677a292d8332cccc8d86532973ec456f2d75feae7b9e757ae09a"
    )


# ---- kill/resume -------------------------------------------------------------

def test_resume_from_checkpoint(spark, tmp_path_factory, oracle):
    """Run 2 waves, abandon the process state, resume with a fresh CrawlRun:
    final state must equal the oracle and committed docs must not be
    re-fetched (no duplicate doc_ids)."""
    root = str(tmp_path_factory.mktemp("resume"))
    run1 = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    run1.run(max_waves=2)
    docs_committed = run1.documents().count()

    run2 = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    assert run2.next_wave() == 2  # picked up from the manifest
    run2.run(max_waves=8)

    got = [
        (r["wave"], r["seq_key"], r["doc_id"], r["store"])
        for r in run2.crawl_order().collect()
    ]
    assert got == oracle["fetch_order"]
    docs = run2.documents()
    assert docs.count() == docs.select("doc_id").distinct().count()
    assert docs.count() >= docs_committed


def test_crash_mid_commit_is_invisible(spark, tmp_path, oracle, monkeypatch):
    """North rule 'resumable from checkpoint', the hard case: a wave that
    dies AFTER its table data is written but BEFORE the manifest swap must
    leave the store at the previous snapshot (orphan data unreferenced), and
    a resume must re-run the wave idempotently to the oracle state."""
    import price_crawler_spark.sources.store as store_mod

    root = str(tmp_path)
    run1 = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    run1.run(max_waves=1)
    snap_before = run1.store.current()["id"]
    docs_before = run1.documents().count()

    real_replace = store_mod.os.replace
    state = {"crashed": False}

    def crash_on_manifest(src, dst):
        if dst.endswith("manifest.json") and dst.startswith(root) and not state["crashed"]:
            state["crashed"] = True
            raise OSError("simulated crash before manifest swap")
        return real_replace(src, dst)

    monkeypatch.setattr(store_mod.os, "replace", crash_on_manifest)
    run2 = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    with pytest.raises(OSError):
        run2.run_wave()
    monkeypatch.setattr(store_mod.os, "replace", real_replace)
    assert state["crashed"]

    # the failed wave is invisible: same snapshot, same committed docs
    probe = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    assert probe.store.current()["id"] == snap_before
    assert probe.documents().count() == docs_before

    # resume replays the wave idempotently to the oracle terminal state
    run3 = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    run3.run(max_waves=8)
    got = [
        (r["wave"], r["seq_key"], r["doc_id"], r["store"])
        for r in run3.crawl_order().collect()
    ]
    assert got == oracle["fetch_order"]
    docs = run3.documents()
    assert docs.count() == docs.select("doc_id").distinct().count()


def _data_groups(root) -> set[str]:
    """Every ``data/<table>/<group>`` directory under a store root."""
    import os

    data = os.path.join(root, "data")
    return {
        f"data/{t}/{g}"
        for t in os.listdir(data)
        for g in os.listdir(os.path.join(data, t))
    }


def _listed_groups(store) -> set[str]:
    return {rel for rels in store.current()["tables"].values() for rel in rels}


def test_crash_before_swap_leaves_no_orphans_after_next_commit(
    spark, tmp_path, monkeypatch
):
    """A commit that dies after its data writes but before the manifest swap
    leaves orphan directories and a manifest temp file; the next successful
    commit deletes them along with the data it supersedes."""
    import os

    import price_crawler_spark.sources.store as store_mod

    store = store_mod.SnapshotStore(str(tmp_path))

    def commit(i):
        store.commit(
            tables_replace={"pending": spark.range(i, i + 3)},
            tables_append={"seen": spark.range(i, i + 1)},
        )

    commit(0)
    real_replace = store_mod.os.replace

    def crash(src, dst):
        raise OSError("simulated crash before manifest swap")

    monkeypatch.setattr(store_mod.os, "replace", crash)
    with pytest.raises(OSError):
        commit(10)
    monkeypatch.setattr(store_mod.os, "replace", real_replace)
    assert store.current()["id"] == 0
    assert len(_data_groups(store.root) - _listed_groups(store)) == 2

    commit(20)
    assert _data_groups(store.root) == _listed_groups(store)
    assert [f for f in os.listdir(store.root) if f.startswith("manifest")] == [
        "manifest.json"
    ]
    assert sorted(r[0] for r in store.read(spark, "pending").collect()) == [20, 21, 22]
    assert sorted(r[0] for r in store.read(spark, "seen").collect()) == [0, 20]


def test_commit_keeps_only_live_data(spark, cuckoo_wave0, tmp_path):
    """After the seed commit, one wave and an invalidate(), the data
    directories are exactly those the current snapshot lists: the replaced
    pending, bloom and frontier_log groups are gone, the append history
    stays."""
    run = _open_copy(spark, cuckoo_wave0, tmp_path / "root")
    assert _data_groups(run.store.root) == _listed_groups(run.store)
    fetched = sorted(
        r[0] for r in run.documents().filter("wave = 0").select("doc_id").collect()
    )
    assert run.invalidate(fetched[:2]) == 2
    assert _data_groups(run.store.root) == _listed_groups(run.store)
    tables = run.store.current()["tables"]
    assert len(tables["seen"]) == 2  # seed commit and wave 0
    assert all(len(tables[t]) == 1 for t in ("pending", "bloom", "frontier_log"))


def test_append_schema_evolution(spark, tmp_path):
    """An append whose group adds a column reads every group with it; the
    earlier group's rows come back null. The schema is stored, so no read
    depends on which group's footer Spark would infer from."""
    from price_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    store.commit(tables_append={"fetch_log": spark.range(2).select(
        F.col("id").alias("wave"))})
    store.commit(tables_append={"fetch_log": spark.range(2, 3).select(
        F.col("id").alias("wave"), F.lit(7).alias("pending_size"))})
    got = store.read(spark, "fetch_log")
    assert got.columns == ["wave", "pending_size"]
    assert sorted(tuple(r) for r in got.collect()) == [(0, None), (1, None), (2, 7)]
    with pytest.raises(ValueError, match="pending_size"):
        store.commit(tables_append={"fetch_log": spark.range(1).select(
            F.col("id").alias("wave"), F.lit("x").alias("pending_size"))})


def test_pre_version_snapshot_reads_and_upgrades(spark, tmp_path):
    """A snapshot written before schemas were stored reads with its groups'
    merged schema, and the next commit stores that schema; a snapshot of a
    newer format is refused."""
    import json
    import os

    from price_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    store.commit(tables_append={"fetch_log": spark.range(1).select(
        F.col("id").alias("wave"), F.lit(7).alias("pending_size"))})
    store.commit(tables_append={"fetch_log": spark.range(1, 2).select(
        F.col("id").alias("wave"))})
    path = os.path.join(store.root, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    for snap in manifest["snapshots"]:
        snap.pop("format")
        snap.pop("schemas", None)
    with open(path, "w") as f:
        json.dump(manifest, f)

    def rows():
        return sorted(tuple(r) for r in store.read(spark, "fetch_log")
                      .select("wave", "pending_size").collect())

    assert rows() == [(0, 7), (1, None)]
    store.commit(tables_append={"fetch_log": spark.range(2, 3).select(
        F.col("id").alias("wave"))})
    stored = json.loads(store.current()["schemas"]["fetch_log"])
    assert [f["name"] for f in stored["fields"]] == ["wave", "pending_size"]
    assert rows() == [(0, 7), (1, None), (2, None)]

    with open(path) as f:
        manifest = json.load(f)
    manifest["snapshots"][-1]["format"] += 1
    with open(path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="format"):
        store.read(spark, "fetch_log")


def test_failed_wave_releases_its_caches(spark, tmp_path, monkeypatch):
    """A wave whose commit raises (a write error, a saturated cuckoo shard)
    must not leave its persisted frames cached after it returns."""
    import price_crawler_spark.sources.store as store_mod

    run = CrawlRun(spark, str(tmp_path), QUERIES, wave_seconds=WAVE_SECONDS)
    run._init_if_needed()  # the seed commit must succeed
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()

    def failing_commit(self, *args, **kwargs):
        raise OSError("simulated commit failure")

    monkeypatch.setattr(store_mod.SnapshotStore, "commit", failing_commit)
    with pytest.raises(OSError):
        run.run_wave()
    assert persisted().size() == before


def test_robots_txt_parser(spark):
    """J5: robots.txt subset parsing — group matching, wildcard fallback,
    crawl-delay, comments, empty disallow."""
    from price_crawler_spark.frontier.politeness import schedule_wave
    from price_crawler_spark.frontier.robots import parse_robots_txt, robots_dim

    body = """
# comment line
User-agent: GoogleBot
Disallow: /google-only

User-agent: *
Disallow: /private
Disallow: /tmp
Allow: /private/ok
Crawl-delay: 2.5

User-agent: EvilBot
Disallow: /
"""
    generic = parse_robots_txt(body, "*")
    assert generic["deny"] == ["/private", "/tmp"]
    assert generic["allow"] == ["/private/ok"]
    assert generic["crawl_delay"] == 2.5
    assert parse_robots_txt(body, "EvilBot/1.0")["deny"] == ["/"]
    assert parse_robots_txt(body, "GoogleBot")["deny"] == ["/google-only"]
    # empty disallow in a group = allow all
    assert parse_robots_txt("User-agent: *\nDisallow:\n", "*")["deny"] == []

    # dim flows into the scheduler: /private urls blocked, delay honored
    dim = robots_dim(spark, {"shop.example.com": body})
    pending = spark.createDataFrame(
        [
            ("u1", "https://shop.example.com/private/x", 1, "shop.example.com",
             "s", 0, 0, 0, "pending", 1),
            ("u2", "https://shop.example.com/item/1", 2, "shop.example.com",
             "s", 0, 0, 0, "pending", 2),
            ("u3", "https://shop.example.com/private/ok/page", 3,
             "shop.example.com", "s", 0, 0, 0, "pending", 3),
        ],
        "url string, canonical_url string, url_hash long, host string, "
        "store string, priority int, attempts int, wave int, status string, "
        "seq_key long",
    )
    scheduled, deferred, blocked = schedule_wave(pending, dim, wave_seconds=10)
    assert [r.url for r in blocked.collect()] == ["u1"]
    sched = sorted(scheduled.collect(), key=lambda r: r.seq_key)
    # u3 survives: Allow /private/ok (longer match) overrides Disallow /private
    assert [r.url for r in sched] == ["u2", "u3"]
    assert sched[0].crawl_delay == 2.5


def test_two_phase_schedule_equals_single_phase(spark):
    """C6: salted two-phase scheduling selects the IDENTICAL set as the
    naive per-host rank, and defers everything else."""
    import random

    from price_crawler_spark.frontier.politeness import schedule_wave
    from price_crawler_spark.schemas import ROBOTS_SCHEMA

    rng = random.Random(11)
    rows = []
    for i in range(400):
        host = "mega.example.com" if i % 2 == 0 else f"s{i % 7}.example.com"
        rows.append(
            (f"u{i}", f"https://{host}/p/{i}", rng.getrandbits(40), host,
             "s", rng.randint(0, 5), 0, 0, "pending", i)
        )
    pending = spark.createDataFrame(
        rows,
        "url string, canonical_url string, url_hash long, host string, "
        "store string, priority int, attempts int, wave int, status string, "
        "seq_key long",
    )
    robots = spark.createDataFrame(
        [("mega.example.com", None, None, 1.0)], ROBOTS_SCHEMA
    )
    s1, d1, _ = schedule_wave(pending, robots, wave_seconds=10)
    s2, d2, _ = schedule_wave(
        pending, robots, wave_seconds=10, mega_hosts=["mega.example.com"]
    )
    sel1 = sorted(r.url for r in s1.collect())
    sel2 = sorted(r.url for r in s2.collect())
    assert sel1 == sel2 and len(sel1) > 0
    assert sorted(r.url for r in d1.collect()) == sorted(r.url for r in d2.collect())


def test_sharded_cuckoo_insert_delete_probe(spark):
    """Distributed cuckoo seen-layer: insert → all maybe_seen; delete half →
    deleted hashes drop out (modulo fp collisions, only FEWER hits allowed,
    never false negatives on the kept half); deterministic across
    partitionings."""
    ck = ShardedCuckoo(n_shards=8, n_buckets=1 << 10)
    df = spark.range(0, 400).select(F.xxhash64("id").alias("url_hash"))
    table = ck.insert(df, None)
    probed = ck.probe(ck.with_keys(df), table)
    assert probed.filter(~F.col("maybe_seen")).count() == 0

    gone = spark.range(0, 200).select(F.xxhash64("id").alias("url_hash"))
    kept = spark.range(200, 400).select(F.xxhash64("id").alias("url_hash"))
    table2 = ck.delete(gone, table)
    kept_probe = ck.probe(ck.with_keys(kept), table2)
    assert kept_probe.filter(~F.col("maybe_seen")).count() == 0  # no false neg
    gone_probe = ck.probe(ck.with_keys(gone), table2)
    # the overwhelming majority of deleted hashes must now miss
    assert gone_probe.filter(F.col("maybe_seen")).count() < 10

    # determinism: same table bytes under different input partitioning
    t_a = sorted((r.shard, bytes(r.bits)) for r in ck.insert(df, None).collect())
    t_b = sorted(
        (r.shard, bytes(r.bits))
        for r in ck.insert(df.repartition(13), None).collect()
    )
    assert t_a == t_b


def _shard_sha256(table):
    import hashlib

    return {r.shard: hashlib.sha256(bytes(r.bits)).hexdigest() for r in table.collect()}


def test_bloom_insert_bytes_pinned(spark):
    """Every Bloom shard's bytes equal the ones the pre-refactor filter
    wrote (same hash family, same shard key, same bit packing)."""
    bloom = ShardedBloom(n_shards=8, bits_per_shard=1 << 14)
    df = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    assert _shard_sha256(bloom.insert(df, None)) == {
        0: "89dc53bb46a228cb37c6ef265c9d5e7468201a42d0dc3f0e66397481e1065864",
        1: "7ee96e94eda3c9d3ad8183991458312cb159792c70d0b9554807333f5759f644",
        2: "64994b1500ac6aa869a4866fb102d92fc1d5f781e9595bc4f71525c16d420fed",
        3: "1168cd771f53fc0efeaf421302b28b31b8c3f7e7a44f29bb6742278d891be22a",
        4: "8c34ff26f566e062bf54dc2599c469b337241b8928202dec16d7d1a086e76958",
        5: "503c58ba85ecf5debf255c839e6c585144a5b66bb49258736abb87f129e2631c",
        6: "ab9d5ad8cef62fd97937d88af037e05fb2bedc512e24ac93a6af6c80129768a1",
        7: "74ad202f5ce12f2b2d827cd46d618bef43ac5a7bd9d260c3b873044be95c462f",
    }


def test_cuckoo_insert_delete_bytes_pinned(spark):
    """Every cuckoo shard's bytes after insert-then-delete equal the ones
    the pre-refactor filter wrote."""
    ck = ShardedCuckoo(n_shards=8, n_buckets=1 << 10)
    df = spark.range(0, 400).select(F.xxhash64("id").alias("url_hash"))
    gone = spark.range(0, 200).select(F.xxhash64("id").alias("url_hash"))
    assert _shard_sha256(ck.delete(gone, ck.insert(df, None))) == {
        0: "87964f7cb3782aa1d180cca2e0e7e734e68446f475710a41cf8b5c8694308bad",
        1: "d98d7d81f69315547a6ea08a4fead36591f6e4006080e950298a9be639082a1f",
        2: "21d47435df08948ada2c827d74b9b7019633509677b6045dadfb9eb080f36889",
        3: "cf9306cd0c278496f3fa872009c619828aabf15cd55d53bbf325b2c41df1c78d",
        4: "d29f7382e32813e91b05e2dfbf9b372fd977b7d4eb4512bc0da2dc57e05815f7",
        5: "4e5ad8796ecf4423bb326ad2f9dad880475a2a9729d7043764587e2fa3f81c9a",
        6: "69f8a5ee4f0c710846dc7a3500f4ad4df17de12f97388e40487d19dd2e4d0c0d",
        7: "efd1e99998d3950154abd8cdf5e1cfc662624e8c6dbdff38427c63aaea23d598",
    }


def test_cuckoo_reinsert_equals_delete_then_insert(spark):
    """reinsert's one pass writes the bytes of a delete pass followed by an
    insert pass, and passes shards without keys through."""
    ck = ShardedCuckoo(n_shards=8, n_buckets=1 << 10)
    df = spark.range(0, 400).select(F.xxhash64("id").alias("url_hash"))
    table = ck.insert(df, None)
    keys = spark.range(0, 5).select(F.xxhash64("id").alias("url_hash"))
    assert _shard_sha256(ck.reinsert(keys, table)) == _shard_sha256(
        ck.insert(keys, ck.delete(keys, table))
    )


def test_cuckoo_saturation_raises(spark):
    """A shard that cannot hold an insert fails the job instead of dropping
    the fingerprint its eviction walk holds (an earlier URL would then
    probe as definite-new and be fetched twice)."""
    ck = ShardedCuckoo(n_shards=1, n_buckets=4)  # 16 slots
    df = spark.range(0, 64).select(F.xxhash64("id").alias("url_hash"))
    with pytest.raises(Exception, match="saturated"):
        ck.insert(df, None).collect()


def test_live_transport_seam_mocked_session():
    """S1/S2/C4/C5 live-path semantics without network (base_scraper.py:60-95
    parity): retry count, backoff bounds, UA header, timeout param, the
    utf-8→big5→gb2312→ignore decode chain, and non-200 retry."""
    from price_crawler_spark.frontier.fetch import (
        DEFAULT_HEADERS,
        decode_body,
        live_fetch_url,
        ua_for_url_py,
    )

    class Resp:
        def __init__(self, status_code, content=b""):
            self.status_code = status_code
            self.content = content

    class MockSession:
        def __init__(self, script):
            self.script = list(script)  # each item: Resp or Exception
            self.calls = []

        def get(self, url, headers=None, timeout=None):
            self.calls.append({"url": url, "headers": headers, "timeout": timeout})
            nxt = self.script.pop(0)
            if isinstance(nxt, Exception):
                raise nxt
            return nxt

    sleeps = []

    # 200 first try: one call, UA + default headers + timeout forwarded
    s = MockSession([Resp(200, "現貨 NT$1,234".encode("utf-8"))])
    body = live_fetch_url(s, "https://shop.example/p?id=1", sleep=sleeps.append)
    assert body == "現貨 NT$1,234"
    assert len(s.calls) == 1 and not sleeps
    call = s.calls[0]
    assert call["timeout"] == 15.0  # C5 (config.py:18)
    assert call["headers"]["User-Agent"] == ua_for_url_py("https://shop.example/p?id=1")
    for k, v in DEFAULT_HEADERS.items():
        assert call["headers"][k] == v

    # exception then 200: exactly MAX_RETRIES=2 attempts, one backoff sleep
    # inside uniform(1, 2*REQUEST_DELAY) bounds (base_scraper.py:67-70)
    s = MockSession([ConnectionError("boom"), Resp(200, b"ok")])
    body = live_fetch_url(
        s, "https://shop.example/p?id=2",
        sleep=sleeps.append, rand_uniform=lambda a, b: (a + b) / 2,
    )
    assert body == "ok" and len(s.calls) == 2
    assert sleeps == [(1 + 2.0) / 2]

    # persistent failure: None after MAX_RETRIES, never a third call
    s = MockSession([ConnectionError("a"), ConnectionError("b"), Resp(200, b"no")])
    assert live_fetch_url(s, "https://x/1", sleep=lambda _t: None) is None
    assert len(s.calls) == 2

    # non-200 retries too, then succeeds
    s = MockSession([Resp(503), Resp(200, b"late ok")])
    assert live_fetch_url(s, "https://x/2", sleep=lambda _t: None) == "late ok"

    # encoding chain: big5 bytes that are invalid utf-8
    big5 = "現貨供應中".encode("big5")
    assert decode_body(big5) == "現貨供應中"
    assert decode_body("已售完".encode("utf-8")) == "已售完"
    assert decode_body(b"\xff\xfe\xfd") == b"\xff\xfe\xfd".decode("utf-8", "ignore")


def test_live_transport_env_gate(spark, tmp_path):
    """PCS_LIVE_TRANSPORT=0/absent keeps the synthetic transport: the fetch
    stage never imports requests (absent in this sandbox) and produces the
    synthetic spans."""
    import os

    from price_crawler_spark.frontier.fetch import LIVE_TRANSPORT_ENV

    assert os.environ.get(LIVE_TRANSPORT_ENV) != "1"
    # the standard frontier tests above already exercise fetch_scheduled on
    # the synthetic path; this pins the gate's default


def test_cuckoo_crawl_invalidate_refetch_cycle(spark, tmp_path_factory, oracle):
    """End-to-end cuckoo seen-filter (VERDICT r4 item 3): a full crawl gated
    by the deletion-capable ShardedCuckoo reproduces the Bloom run's
    goldens; invalidate() then deletes one fetched URL from the filter +
    exact seen set, re-enqueues it, and the next wave re-fetches it EXACTLY
    once — identical spans (deterministic web), every other document
    untouched, and the URL-seen set restored so later re-discoveries dedup
    again."""
    root = str(tmp_path_factory.mktemp("cuckoo_e2e"))
    run = CrawlRun(
        spark, root, QUERIES, wave_seconds=WAVE_SECONDS, seen_filter="cuckoo"
    )
    run.run(max_waves=8)
    got = [
        (r["wave"], r["seq_key"], r["doc_id"], r["store"])
        for r in run.crawl_order().collect()
    ]
    assert got == oracle["fetch_order"]  # cuckoo-gated run == Bloom goldens

    docs_before = run.documents().count()
    target = (
        run.frontier()
        .filter("status = 'fetched' and store = 'pchome'")
        .orderBy("seq_key")
        .first()
    )
    assert run.invalidate([target["url"]]) == 1
    # the row is live again: back in pending, gone from the terminal log
    assert (
        run.store.read(spark, "pending")
        .filter(F.col("url_hash") == target["url_hash"])
        .count()
        == 1
    )
    assert (
        run.store.read(spark, "frontier_log")
        .filter(F.col("url_hash") == target["url_hash"])
        .count()
        == 0
    )
    assert run.run(max_waves=4) >= 1

    docs = run.documents()
    dup = docs.filter(F.col("doc_id") == target["canonical_url"])
    assert dup.count() == 2  # exactly one re-fetch
    spans = [
        sorted((s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in r["spans"])
        for r in dup.select("spans").collect()
    ]
    assert spans[0] == spans[1]  # deterministic re-crawl snapshot
    assert docs.count() == docs_before + 1  # nothing else re-fetched
    assert docs.select("doc_id").distinct().count() == docs_before

    # seen set restored exactly (the re-enqueue path re-added the hash once)
    seen_tbl = run.store.read(spark, "seen")
    assert seen_tbl.count() == seen_tbl.distinct().count()
    assert seen_tbl.filter(F.col("url_hash") == target["url_hash"]).count() == 1
    # terminal log holds the URL again, frontier drained
    assert run.frontier().filter("status = 'pending'").count() == 0
    # a second invalidate of a never-fetched URL is a no-op
    assert run.invalidate(["https://nowhere.example.com/x"]) == 0


@pytest.fixture(scope="module")
def cuckoo_wave0(spark, tmp_path_factory):
    """A cuckoo-gated root after one wave; tests copy it before mutating."""
    root = str(tmp_path_factory.mktemp("cuckoo_wave0"))
    run = CrawlRun(
        spark, root, QUERIES, wave_seconds=WAVE_SECONDS, seen_filter="cuckoo"
    )
    assert run.run_wave()
    return root


def _open_copy(spark, src, dst) -> CrawlRun:
    import shutil

    shutil.copytree(src, dst)
    return CrawlRun(
        spark, str(dst), QUERIES, wave_seconds=WAVE_SECONDS, seen_filter="cuckoo"
    )


def _rows_sha256(df) -> str:
    """sha256 of a table's rows, columns by name and rows sorted, so file
    layout and column order do not count."""
    import hashlib

    rows = sorted(repr(tuple(r)) for r in df.select(*sorted(df.columns)).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_invalidate_state_pinned(spark, cuckoo_wave0, tmp_path):
    """After invalidate() of a fixed sample of one wave's fetches, the
    cuckoo shards, seen, pending and frontier_log equal the ones the
    four-pass invalidate (delete, probe, anti-join, insert) wrote: bloom as
    one sha256 over the sorted per-shard sha256s, the others as sorted-row
    sha256s."""
    import hashlib

    run = _open_copy(spark, cuckoo_wave0, tmp_path / "root")
    fetched = sorted(
        r[0] for r in run.documents().filter("wave = 0").select("doc_id").collect()
    )
    sample = fetched[::3] + ["https://nowhere.example.com/x"]
    assert run.invalidate(sample) == len(fetched[::3])
    shards = sorted(
        (r[0], r[1])
        for r in run.store.read(spark, "bloom")
        .select("shard", F.sha2("bits", 256))
        .collect()
    )
    got = {"bloom": hashlib.sha256(repr(shards).encode()).hexdigest()}
    for t in ("seen", "pending", "frontier_log"):
        got[t] = _rows_sha256(run.store.read(spark, t))
    assert got == {
        "bloom": "a1e4f5f6c5415256e30cbc816d4c19afe5abf83e9612806ef6ade4d421eb5eb3",
        "seen": "eae141bc2297b27007a9460eedff3c1e7dccd258e0656ae880fe34042db225d0",
        "pending": "7666a13ca92606d062d31cc7a170316d9f54a0aa1de8341dc8eea35f8f770158",
        "frontier_log": "e37f3f3611020e7c175ee54ef4c0935218e62358bf38fb6305230259ef87e8ad",
    }


def test_noop_invalidate_commits_nothing(spark, cuckoo_wave0, tmp_path):
    """An invalidate() that matches no fetched row leaves the snapshot and
    every data directory as they were."""
    import os

    run = _open_copy(spark, cuckoo_wave0, tmp_path / "root")
    snap = run.store.current()["id"]
    data = os.path.join(run.store.root, "data")

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, f), data)
            for d, _dirs, files in os.walk(data)
            for f in files
        )

    before = listing()
    never_fetched = run.store.read(spark, "pending").first()["url"]
    assert run.invalidate(["https://nowhere.example.com/x", never_fetched]) == 0
    assert run.store.current()["id"] == snap
    assert listing() == before


# ---- file layout ---------------------------------------------------------------

@pytest.fixture(scope="module")
def cuckoo_invalidated(spark, cuckoo_wave0, tmp_path_factory):
    """A copy of ``cuckoo_wave0`` after invalidate() of two wave-0 fetches:
    a seed commit, a wave and an invalidate() commit on one root."""
    run = _open_copy(spark, cuckoo_wave0, tmp_path_factory.mktemp("inv") / "root")
    fetched = sorted(
        r[0] for r in run.documents().filter("wave = 0").select("doc_id").collect()
    )
    assert run.invalidate(fetched[:2]) == 2
    return run.store.root


def _data_files(root) -> list[str]:
    """Every file under ``data/``, relative to the root."""
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(os.path.join(root, "data"))
        for f in files
    )


def test_commit_writes_no_side_files(cuckoo_invalidated):
    """The store's commits leave neither Hadoop ``.crc`` sidecars nor
    ``_SUCCESS`` markers: the manifest says which groups are complete and
    parquet pages carry their own CRCs."""
    files = _data_files(cuckoo_invalidated)
    assert files
    assert [f for f in files if f.endswith(".crc") or "_SUCCESS" in f] == []


def test_commit_writes_one_part_file_per_group(cuckoo_invalidated):
    """Each table of each commit is one part file at this size, whatever the
    partitioning of the frame that produced it (the three-way union of
    ``pending`` has about a dozen partitions)."""
    import os
    from collections import Counter

    files = _data_files(cuckoo_invalidated)
    assert all(os.path.basename(f).startswith("part-") and f.endswith(".parquet")
               for f in files)
    per_group = Counter(os.path.dirname(f) for f in files)
    assert per_group and set(per_group.values()) == {1}, per_group


def test_table_larger_than_advisory_size_splits(spark, tmp_path):
    """A table larger than ``advisoryPartitionSizeInBytes`` is written as
    several part files, and reads back as the rows it was given: the scale
    path of the rebalanced write."""
    import os

    from price_crawler_spark.sources.store import SnapshotStore

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "64k")
    try:
        df = spark.range(0, 200_000, numPartitions=3).select(
            "id", F.sha2(F.col("id").cast("string"), 256).alias("h"))
        store = SnapshotStore(str(tmp_path))
        store.commit(tables_replace={"t": df})
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    (group,) = store.current()["tables"]["t"]
    parts = [f for f in os.listdir(os.path.join(store.root, group))
             if f.startswith("part-")]
    assert len(parts) > 3, parts
    got = sorted(tuple(r) for r in store.read(spark, "t").collect())
    assert got == sorted(tuple(r) for r in df.collect())


def test_read_verifies_page_checksums(spark, tmp_path):
    """With no ``.crc`` sidecars, the parquet page CRCs are what catch a
    corrupt data file: ``read()`` verifies them."""
    import glob

    from price_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    store.commit(tables_replace={"t": spark.range(20_000).select(
        "id", F.col("id").cast("string").alias("s"))})
    (path,) = glob.glob(str(tmp_path / "data" / "t" / "*" / "part-*.parquet"))
    with open(path, "r+b") as f:  # a byte inside the first data page
        f.seek(100)
        b = f.read(1)
        f.seek(100)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="CRC"):
        store.read(spark, "t").collect()


def _to_legacy_layout(spark, root) -> set[str]:
    """Rewrite every data group of ``root`` as the previous store wrote it:
    a plain ``df.write.parquet`` of several part files, each with its
    ``.crc``, plus a ``_SUCCESS`` marker. Returns the rewritten groups."""
    import os
    import shutil

    groups = _data_groups(root)
    for rel in groups:
        path = os.path.join(root, rel)
        spark.read.parquet(path).repartition(3).write.parquet(path + ".legacy")
        shutil.rmtree(path)
        os.rename(path + ".legacy", path)
    return groups


def test_legacy_layout_root_resumes(spark, cuckoo_wave0, tmp_path):
    """A root whose groups hold several part files plus ``.crc`` and
    ``_SUCCESS`` files (the previous layout) resumes, runs a wave and an
    invalidate(), and its commits delete the superseded groups with their
    side files. The crawl order and the URL-seen set equal those of the
    same steps on an untouched copy."""
    import os

    def steps(run):
        fetched = sorted(
            r[0] for r in run.documents().filter("wave = 0").select("doc_id").collect()
        )
        assert run.run_wave()
        assert run.invalidate(fetched[::4]) == len(fetched[::4])
        assert run.run_wave()
        order = [tuple(r) for r in run.crawl_order().collect()]
        seen = sorted(r[0] for r in run.store.read(spark, "seen").collect())
        return order, seen

    legacy = _open_copy(spark, cuckoo_wave0, tmp_path / "legacy")
    old_groups = _to_legacy_layout(spark, legacy.store.root)
    side = {os.path.dirname(f) for f in _data_files(legacy.store.root)
            if f.endswith(".crc") or "_SUCCESS" in f}
    assert side == old_groups
    assert any(
        len([f for f in os.listdir(os.path.join(legacy.store.root, g))
             if f.endswith(".parquet")]) > 1
        for g in old_groups
    )

    got = steps(legacy)
    want = steps(_open_copy(spark, cuckoo_wave0, tmp_path / "untouched"))
    assert got == want

    root = legacy.store.root
    assert _data_groups(root) == _listed_groups(legacy.store)
    # the replaced tables' old groups are gone, side files included; the
    # append history keeps its old groups as they were
    kept = old_groups & _data_groups(root)
    assert {g.split("/")[1] for g in kept} == {"seen", "documents", "fetch_log"}
    side = {os.path.dirname(f) for f in _data_files(root)
            if f.endswith(".crc") or "_SUCCESS" in f}
    assert side == kept


def test_one_manifest_parse_per_wave(spark, cuckoo_wave0, tmp_path, monkeypatch):
    """A wave on a resumed root parses ``manifest.json`` at most once: the
    store keeps the parsed manifest and its commit keeps what it wrote."""
    import json

    run = _open_copy(spark, cuckoo_wave0, tmp_path / "root")
    real_load = json.load
    calls = []

    def counting_load(*args, **kwargs):
        calls.append(1)
        return real_load(*args, **kwargs)

    monkeypatch.setattr(json, "load", counting_load)
    assert run.run_wave()
    assert len(calls) <= 1
    assert run.next_wave() == 2
    assert len(calls) <= 1


def test_invalidate_with_pending_relinked_url(spark, tmp_path):
    """invalidate() while pending is non-empty, on a detail page X together
    with the search page P that links it: the next wave re-fetches P, whose
    links re-discover X while X is pending again. X and P are each fetched
    exactly once more, the seen table holds X's hash once, and no other
    URL is fetched twice."""
    run = CrawlRun(
        spark, str(tmp_path), QUERIES, wave_seconds=WAVE_SECONDS,
        seen_filter="cuckoo",
    )
    assert run.run(max_waves=2) == 2
    assert run.store.read(spark, "pending").count() > 0
    docs = run.documents()
    wave0 = docs.filter("wave = 0").select("doc_id", "seq_key").collect()
    wave1 = docs.filter("wave = 1").select("doc_id", "seq_key").collect()
    # a child's seq_key extends its parent's
    p, x = next(
        (p, x)
        for p in sorted(wave0, key=lambda r: r["seq_key"])
        for x in sorted(wave1, key=lambda r: r["seq_key"])
        if x["seq_key"].startswith(p["seq_key"])
    )
    assert run.invalidate([p["doc_id"], x["doc_id"]]) == 2
    run.run(max_waves=8)
    # P's re-fetch, and so X's re-discovery, happens in the next wave
    refetched_p = run.documents().filter(F.col("doc_id") == p["doc_id"])
    assert sorted(r["wave"] for r in refetched_p.collect()) == [0, 2]
    assert run.frontier().filter("status = 'pending'").count() == 0

    counts = {
        r["doc_id"]: r["count"]
        for r in run.documents().groupBy("doc_id").count().collect()
    }
    assert counts[p["doc_id"]] == 2 and counts[x["doc_id"]] == 2
    assert {d for d, c in counts.items() if c > 1} == {p["doc_id"], x["doc_id"]}

    x_hash = (
        run.frontier().filter(F.col("canonical_url") == x["doc_id"])
        .first()["url_hash"]
    )
    seen = [r[0] for r in run.store.read(spark, "seen").collect()]
    assert seen.count(x_hash) == 1
    assert len(seen) == len(set(seen))
    assert set(seen) == {r[0] for r in run.frontier().select("url_hash").collect()}


def test_bloom_run_rejects_invalidate(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bloominv"))
    run = CrawlRun(spark, root, QUERIES, wave_seconds=WAVE_SECONDS)
    run.run(max_waves=1)
    with pytest.raises(ValueError, match="cuckoo"):
        run.invalidate(["https://x.example.com/1"])


def test_unknown_seen_filter_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match=r"\['bloom', 'cuckoo'\]"):
        CrawlRun(spark, str(tmp_path), QUERIES, seen_filter="cukoo")


def test_pending_drains_under_persistent_failure(spark, tmp_path_factory):
    """VERDICT r4 item 6: a host that fails 100% of fetches must not cycle
    in pending forever — its rows exit to frontier_log as 'failed' after
    exactly max_retries+1 attempts, the run drains, and the fetch_log's
    pending_size lineage column records the drain."""
    from price_crawler_spark.frontier.seeds import STORE_HOST

    host = STORE_HOST["sunfar"]
    root = str(tmp_path_factory.mktemp("deadhost"))
    run = CrawlRun(
        spark, root, QUERIES, wave_seconds=WAVE_SECONDS, fail_hosts=[host]
    )
    waves = run.run(max_waves=12)
    assert waves < 12  # drained, not stuck

    f = run.frontier()
    assert f.filter("status = 'pending'").count() == 0
    dead = f.filter(F.col("host") == host)
    n_dead = dead.count()
    assert n_dead > 0
    assert dead.filter("status != 'failed'").count() == 0
    # max_retries=2 → every dead-host URL attempted exactly 3 times
    assert dead.filter("attempts != 3").count() == 0
    log = run.fetch_log().toPandas()
    assert log[log.host == host].n_scheduled.sum() == 3 * n_dead
    assert (log[log.host == host].n_ok == 0).all()

    # pending_size: stamped every wave, and the tail drains below the peak
    per_wave = log.groupby("wave").pending_size.max().sort_index()
    assert len(per_wave) == waves
    assert (per_wave > 0).all()
    assert per_wave.iloc[-1] < per_wave.max()


def test_frontier_commit_is_delta_not_full_rewrite(crawl, spark):
    """100 TB write-path invariant (r4): each wave REPLACES only the bounded
    pending table (manifest holds exactly one file group for it) and
    APPENDS terminal rows to frontier_log (≤ one group per wave, never
    rewritten — every group path recorded in an earlier snapshot must
    still be listed verbatim in the latest one). The union view stays
    status-consistent: pending holds only 'pending' rows, the log only
    terminal ones, with no url_hash overlap."""
    manifest = crawl.store._read_manifest()
    snaps = manifest["snapshots"]
    latest = snaps[-1]["tables"]
    assert len(latest["pending"]) == 1  # replaced, not accumulated
    assert 1 <= len(latest["frontier_log"]) <= len(snaps) - 1
    for snap in snaps:
        prior = snap["tables"].get("frontier_log", [])
        assert latest["frontier_log"][: len(prior)] == prior  # append-only

    pending = crawl.store.read(spark, "pending")
    log = crawl.store.read(spark, "frontier_log")
    assert pending.filter("status != 'pending'").count() == 0
    assert log.filter("status = 'pending'").count() == 0
    assert (
        pending.select("url_hash").intersect(log.select("url_hash")).count() == 0
    )
