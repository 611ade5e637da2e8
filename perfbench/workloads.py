"""The benchmark's workloads and their seeded input generators.

Nothing here imports Spark or the program: the generators are pure
functions of the workload seed, so the unit tests can pin them down and
the program receives only the generated query lists and samples.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from urllib.parse import urlparse


# Shared by both workloads: a per-host quota of 10 URLs per wave (robots
# fixture: 1 s crawl delay, 2 s for sunfar, so 5 there), 60 queries, and
# 6,000 synthetic products beyond the 17-item mock catalogue.
WAVE_SECONDS = 10.0
N_QUERIES = 60
CATALOG_N = 6000


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # URL-seen prefilter handed to CrawlRun ('bloom' or 'cuckoo')
    seen_filter: str
    # broad overlapping queries (shared children) or narrow disjoint ones
    broad_queries: bool
    # URLs passed to invalidate() after each timed wave; 0 = none
    invalidate_per_cycle: int


POLITE_DRIP = Workload(
    name="polite_drip",
    why=(
        "Bloom seen filter, narrow disjoint queries, 10 URLs per host per "
        "wave out of a 361-URL seed backlog: fixed per-wave cost dominates "
        "and fetch does little"
    ),
    seen_filter="bloom",
    broad_queries=False,
    invalidate_per_cycle=0,
)

RECRAWL_CHURN = Workload(
    name="recrawl_churn",
    why=(
        "cuckoo seen filter, broad overlapping queries; each cycle crawls "
        "a wave, then resumes the root and invalidates fetched URLs: filter "
        "deletes and table rewrites"
    ),
    seen_filter="cuckoo",
    broad_queries=True,
    invalidate_per_cycle=24,
)

WORKLOADS = {w.name: w for w in (POLITE_DRIP, RECRAWL_CHURN)}


def queries_for(workload: Workload, seed: int) -> list[str]:
    """The workload's query list for ``seed`` (sorted, no duplicates).

    Catalog product i is named ``Xpanded GPU{i:06d} ...``, and search is a
    normalized substring match capped at 50 results per store, so:

    * ``gpu`` + 5 digits matches exactly 10 products (narrow);
    * ``gpu`` + 4 digits matches 100 products, of which a search page
      links the first 50 (broad);
    * ``gpu`` + 4 digits + one digit below 5 matches 10 products that the
      4-digit query also links, so the two queries share children.
    """
    rng = random.Random(f"{workload.name}:{seed}")
    if not workload.broad_queries:
        picks = rng.sample(range(CATALOG_N // 10), N_QUERIES)
        return sorted(f"gpu{j:05d}" for j in picks)
    bases = rng.sample(range(CATALOG_N // 100), N_QUERIES // 2)
    out = []
    for k in bases:
        out.append(f"gpu{k:04d}")
        out.append(f"gpu{k:04d}{rng.randrange(5)}")
    return sorted(out)


def is_listing(url: str) -> bool:
    """Search and category pages link children; product pages do not."""
    return urlparse(url).path != "/prod"


def invalidation_sample(
    rng: random.Random, fetched: list[str], already: set[str], m: int
) -> list[str]:
    """Pick ``m`` fetched URLs to re-crawl, half listing pages (their
    re-fetch re-emits children that the seen layer must drop again) and
    half product pages, topping up from the other kind when one runs
    short. URLs already invalidated once are skipped, so "re-fetched
    exactly once" stays checkable per URL."""
    fresh = sorted(u for u in set(fetched) if u not in already)
    listing = [u for u in fresh if is_listing(u)]
    product = [u for u in fresh if not is_listing(u)]
    n_prod = min(len(product), max(m // 2, m - len(listing)))
    n_list = min(len(listing), m - n_prod)
    return sorted(rng.sample(listing, n_list) + rng.sample(product, n_prod))


# What one run reports: name -> unit. Untraced runs print END_TO_END,
# traced runs print PER_LAYER; every other number goes to the sidecar.
END_TO_END = {
    "crawl_urls_per_s": "1/s",
    "wave_s_p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "state_bytes_per_url": "B",
}

STORE_TABLES = ("pending", "bloom", "seen", "frontier_log", "documents", "fetch_log")

# Counts (rows in and out per layer) repeat exactly for a seed, so they
# stay in the sidecar; the record keeps what an optimisation can move.
PER_LAYER = {
    "wave.init_seed_commit_s": "s",
    "wave.pending_probe_s": "s",
    "wave.fetch_s": "s",
    "wave.children_seen_s": "s",
    "wave.commit_s": "s",
    "wave.phase_coverage": "ratio",
    "seeds.build_s": "s",
    "politeness.schedule_s": "s",
    "fetch.batch_s": "s",
    "fetch.transport_s": "s",
    "fetch.overhead_ms_per_url": "ms",
    "urls.canonicalize_s": "s",
    "seen.dedup_s": "s",
    "seen.probe_s": "s",
    "seen.filter_new_s": "s",
    "seen.insert_s": "s",
    "seen.filter_fill": "ratio",
    "store.commit_s": "s",
    "store.bytes_written": "B",
    "trace.overhead_s": "s",
}
