"""robots.txt parsing → the broadcast robots dimension table (J5).

The reference never parses robots.txt (README.md:291-292 only *instructs*
respecting it); the north rule makes the rules a first-class broadcast dim.
This parser implements the subset the scheduler consumes — User-agent
groups, Allow/Disallow path prefixes, Crawl-delay — with the standard
semantics: rules of every group whose agent token matches (case-insensitive;
``*`` wildcard group applies when no specific group matched), empty
Disallow means allow-all, missing Crawl-delay falls back to the engine
default downstream.

Parsing runs driver-side over one tiny text per host (robots.txt is
KB-sized and one-per-host — there is nothing to distribute); the OUTPUT is
the broadcast dim joined against the frontier, which is where scale lives.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from price_crawler_spark.schemas import ROBOTS_SCHEMA


def parse_robots_txt(text: str, agent: str = "*") -> dict:
    """robots.txt body → {allow: [...], deny: [...], crawl_delay: float|None}
    for ``agent`` (specific group wins over the ``*`` group)."""
    groups: list[tuple[list[str], dict]] = []
    current_agents: list[str] = []
    current: dict | None = None
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if current is not None and current["_rules_seen"]:
                groups.append((current_agents, current))
                current_agents, current = [], None
            if current is None:
                current = {"allow": [], "deny": [], "crawl_delay": None,
                           "_rules_seen": False}
                current_agents = []
            current_agents.append(value.lower())
        elif current is not None:
            if field == "disallow":
                if value:
                    current["deny"].append(value)
                current["_rules_seen"] = True
            elif field == "allow":
                if value:
                    current["allow"].append(value)
                current["_rules_seen"] = True
            elif field == "crawl-delay":
                try:
                    current["crawl_delay"] = float(value)
                except ValueError:
                    pass
                current["_rules_seen"] = True
    if current is not None:
        groups.append((current_agents, current))

    agent_l = agent.lower()
    specific = next(
        (g for agents, g in groups
         if any(a != "*" and a in agent_l for a in agents)),
        None,
    )
    wildcard = next((g for agents, g in groups if "*" in agents), None)
    chosen = specific or wildcard or {"allow": [], "deny": [], "crawl_delay": None}
    return {
        "allow": list(chosen["allow"]),
        "deny": list(chosen["deny"]),
        "crawl_delay": chosen["crawl_delay"],
    }


def robots_table(spark: SparkSession, rows: list) -> DataFrame:
    """Robots rows (dicts or ``ROBOTS_SCHEMA``-ordered tuples) → a frame that
    plans as a JVM ``LocalRelation``. A frame built from the Python list
    plans as an RDD that Python workers unpickle again on every broadcast —
    a Spark job per use, several times per wave."""
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=ROBOTS_SCHEMA.names), ROBOTS_SCHEMA
    )


def robots_dim(
    spark: SparkSession, fetched: dict[str, str], agent: str = "*"
) -> DataFrame:
    """{host: robots.txt body} → the broadcast robots dimension table."""
    rows = []
    for host, body in sorted(fetched.items()):
        r = parse_robots_txt(body, agent)
        rows.append((host, r["allow"], r["deny"], r["crawl_delay"]))
    return robots_table(spark, rows)
