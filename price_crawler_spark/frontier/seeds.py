"""Seed-list construction (SURVEY.md §2.1 S3).

One row per (query, active store) with the store's exact search-URL template
from the reference:

  dtsource  https://www.mypc.com.tw/product.php?act=search&keywords=Q   (dtsource.py:12-24)
  autobuy   https://www.autobuy.tw/search?keyword=Q                     (autobuy.py:16-27)
  sinya     https://www.sinya.com.tw/search/0?keyword=Q                 (sinya.py:16-27)
  sapphire  https://sapphiretech.cyberbiz.co/search?q=Q                 (sapphire.py:23-24,641-643)
  sunfar    https://www.isunfar.com.tw/product/search.aspx?b=undefined&keyword=Q (sunfar.py:22-23,284-286)
  pchome    https://24h.pchome.com.tw/search/?q=Q                       (pchome.py:22-27)
  coolpc    https://www.coolpc.com.tw/evaluate.php  (no query param)    (coolpc.py:24-25,38-40)

Store *rank* is the SCRAPERS dict insertion order (main.py:43-54) — the
first component of the deterministic crawl order (SURVEY §3.1). Disabled
stores (sanjing, momo, gh3c) are intentionally absent (§7.3 risk 8).

The (queries × stores) seed list is built on the driver (``urllib.parse``
quoting: quote_plus, space → '+', or quote, space → '%20', per store) and
canonicalized by the same Arrow kernel as wave children, so a seed and a
re-discovered child always share one ``url_hash``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (store, rank, host, url_template, encoding) — '{}' is the encoded query slot.
STORE_TEMPLATES = [
    ("dtsource", 0, "www.mypc.com.tw", "https://www.mypc.com.tw/product.php?act=search&keywords={}", "plus"),
    ("autobuy", 1, "www.autobuy.tw", "https://www.autobuy.tw/search?keyword={}", "plus"),
    ("sinya", 2, "www.sinya.com.tw", "https://www.sinya.com.tw/search/0?keyword={}", "plus"),
    ("sapphire", 3, "sapphiretech.cyberbiz.co", "https://sapphiretech.cyberbiz.co/search?q={}", "plus"),
    ("sunfar", 4, "www.isunfar.com.tw", "https://www.isunfar.com.tw/product/search.aspx?b=undefined&keyword={}", "pct"),
    ("pchome", 5, "24h.pchome.com.tw", "https://24h.pchome.com.tw/search/?q={}", "pct"),
    ("coolpc", 6, "www.coolpc.com.tw", "https://www.coolpc.com.tw/evaluate.php", "none"),
]

STORE_RANK = {s: r for s, r, _, _, _ in STORE_TEMPLATES}
STORE_HOST = {s: h for s, _, h, _, _ in STORE_TEMPLATES}

# Per-store result caps (SURVEY §2.7 O3).
MAX_RESULTS = {
    "dtsource": 50,
    "autobuy": 50,
    "sinya": 50,
    "sapphire": 50,
    "sunfar": 50,
    "pchome": 50,
    "coolpc": 20,
}


def _encode(query: str, mode: str) -> str:
    from urllib.parse import quote, quote_plus

    if mode == "plus":
        return quote_plus(query)
    if mode == "pct":
        return quote(query)
    return ""


def seed_urls(queries: list[str]) -> list[dict]:
    """Driver-side seed list (tiny: |queries| × 7 rows)."""
    rows = []
    for qi, q in enumerate(sorted(queries)):
        for store, rank, host, tpl, enc in STORE_TEMPLATES:
            url = tpl.format(_encode(q, enc)) if "{}" in tpl else tpl
            rows.append(
                {
                    "query": q,
                    "query_idx": qi,
                    "store": store,
                    "store_rank": rank,
                    "host": host,
                    "url": url,
                }
            )
    return rows


def seed_frontier(spark: SparkSession, queries: list[str]) -> DataFrame:
    """Seed rows → frontier-shaped DataFrame (wave 0, priority 0).

    ``seq_key`` is the crawl-order total key: fixed-width hex path
    ``(query_idx, store_rank)`` at the seed level; children append their
    span offset (SURVEY §3.1 — ordering must be bit-reproducible regardless
    of partitioning, so the key is *computed*, never assigned by zipWithIndex
    or monotonically_increasing_id).
    """
    from price_crawler_spark.functions.urls import (
        canonicalize_with_host_arrow,
        url_hash,
    )

    df = spark.createDataFrame(seed_urls(queries))
    return (
        df.withColumn(
            "canonical_url", canonicalize_with_host_arrow("url")["canonical_url"]
        )
        .withColumn("url_hash", url_hash("canonical_url"))
        .withColumn("priority", F.lit(0))
        .withColumn("attempts", F.lit(0))
        .withColumn("wave", F.lit(0))
        .withColumn("status", F.lit("pending"))
        .withColumn(
            "seq_key",
            F.concat(
                F.lpad(F.conv(F.col("query_idx").cast("string"), 10, 16), 8, "0"),
                F.lpad(F.conv(F.col("store_rank").cast("string"), 10, 16), 8, "0"),
            ),
        )
        .select(
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
        )
    )
