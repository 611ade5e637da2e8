"""Pure-Python reference-crawler oracle (SURVEY.md §5 item 3).

A sequential, single-threaded re-implementation of the reference crawler's
semantics (store dict order → page order → politeness budget → retry), used
to generate the expected crawl order / URL-seen set / span sequences that
the Spark engine must reproduce bit-for-bit. It shares ONLY the synthetic
page function with the engine (the "web" itself); scheduling, dedup, and
ordering logic are implemented independently here.
"""

from __future__ import annotations

import re

from price_crawler_spark.frontier.seeds import STORE_TEMPLATES, _encode
from price_crawler_spark.sources.synthetic import fetch_fails, robots_rows, synthesize_page

TRACKING = re.compile(r"^(utm_[^=]*|fbclid|gclid|ref)=")


def canonicalize_py(url: str) -> str:
    """Python mirror of functions.urls.canonicalize_with_host_arrow's
    canonical_url (kept in tests so the engine has exactly one
    canonicalizer; parity asserted in test_frontier's canonicalizer tests)."""
    u = re.sub(r"#.*$", "", url.strip())
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", u)
    scheme = m.group(1).lower() if m else ""
    rest = re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*://", "", u)
    hostport = re.match(r"^([^/?#]*)", rest).group(1).lower()
    tail = re.sub(r"^[^/?#]*", "", rest, count=1)
    path = re.match(r"^([^?#]*)", tail).group(1)
    qsm = re.search(r"\?([^#]*)", tail)
    qs = qsm.group(1) if qsm else ""
    host = re.sub(r"\.+(?=:|$)", "", hostport)
    if scheme == "http":
        host = re.sub(r":80$", "", host)
    elif scheme == "https":
        host = re.sub(r":443$", "", host)
    path = re.sub(r"/{2,}", "/", path)
    path = "/" if path == "" else path
    if path != "/":
        path = re.sub(r"/$", "", path)
    params = sorted(p for p in qs.split("&") if p and not TRACKING.match(p))
    qsn = "&".join(params)
    return f"{scheme}://{host}{path}" + (f"?{qsn}" if qsn else "")


def duckdb_canonical_rows(urls: list) -> list:
    """(canonical_url, port-stripped host) per URL, in input order, from the
    DuckDB mirror of the engine's canonicalizer (``duckdb_canonical_cte``)."""
    import duckdb
    import pyarrow as pa

    from price_crawler_spark.functions.urls import duckdb_canonical_cte

    src = pa.table({"i": range(len(urls)), "url": pa.array(urls, pa.string())})
    with duckdb.connect() as con:
        con.register("src", src)
        return con.sql(
            f"WITH {duckdb_canonical_cte('src', 'url')} "
            r"SELECT canonical_url, regexp_replace(_host, ':\d+$', '') "
            "FROM canon ORDER BY i"
        ).fetchall()


def oracle_crawl(
    queries: list[str],
    wave_seconds: float = 60.0,
    max_retries: int = 2,
    max_waves: int = 10,
):
    """Returns dict with fetch_order, seen (canonical urls), docs, blocked."""
    robots = {r["host"]: r for r in robots_rows()}
    seen: set[str] = set()
    pending: list[dict] = []
    blocked: list[str] = []
    fetch_order: list[tuple[int, str, str, str]] = []
    docs: dict[str, list] = {}

    for qi, q in enumerate(sorted(queries)):
        for store, rank, host, tpl, enc in STORE_TEMPLATES:
            url = tpl.format(_encode(q, enc)) if "{}" in tpl else tpl
            canon = canonicalize_py(url)
            if canon in seen:
                continue
            seen.add(canon)
            pending.append(
                {
                    "url": url,
                    "canon": canon,
                    "host": host,
                    "store": store,
                    "priority": 0,
                    "attempts": 0,
                    "wave": 0,
                    "seq_key": f"{qi:08x}{rank:08x}",
                }
            )

    for wave in range(max_waves):
        todo = [p for p in pending if p["wave"] <= wave]
        if not todo:
            if not pending:
                break
            continue
        # politeness: per-host quota, ranked by (priority, seq_key)
        scheduled, rest = [], []
        byhost: dict[str, int] = {}
        for p in sorted(todo, key=lambda x: (x["host"], x["priority"], x["seq_key"])):
            r = robots.get(p["host"], {})
            path = re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "", p["canon"])
            if any(path.startswith(d) for d in r.get("deny", [])):
                blocked.append(p["canon"])
                continue
            delay = r.get("crawl_delay", 1.0)
            quota = max(1, int(wave_seconds // delay))
            byhost[p["host"]] = byhost.get(p["host"], 0) + 1
            if byhost[p["host"]] <= quota:
                scheduled.append(p)
            else:
                rest.append(p)
        pending = [p for p in pending if p["wave"] > wave] + rest

        for p in sorted(scheduled, key=lambda x: x["seq_key"]):
            if fetch_fails(p["url"], p["attempts"]):
                p["attempts"] += 1
                if p["attempts"] <= max_retries:
                    p["wave"] = wave + 1
                    pending.append(p)
                continue
            fetch_order.append((wave, p["seq_key"], p["canon"], p["store"]))
            page = synthesize_page(p["store"], p["url"])
            docs[p["canon"]] = page["spans"]
            for pos, link in enumerate(page["links"]):
                canon = canonicalize_py(link)
                if canon in seen:
                    continue
                seen.add(canon)
                pending.append(
                    {
                        "url": link,
                        "canon": canon,
                        "host": re.match(
                            r"^[A-Za-z]+://([^/?#:]*)", canon
                        ).group(1),
                        "store": p["store"],
                        "priority": 1,
                        "attempts": 0,
                        "wave": wave + 1,
                        "seq_key": p["seq_key"] + f"{pos:08x}",
                    }
                )
    return {
        "fetch_order": fetch_order,
        "seen": seen,
        "docs": docs,
        "blocked": set(blocked),
    }
