"""Per-host politeness scheduling cells — T4/schedule_cell (SURVEY.md §2.8-2.9).

The reference throttles only via bounded worker pools
(orchestrator.py:480-485); the target engine enforces real politeness:
per host and per round, at most ``budget`` fetches, where the budget is a
token bucket refilled by the host's crawl delay (robots dim), and
robots ``disallow_prefixes`` are honored.

Skew: a Zipf-head host would make one scheduling cell giant, so cells
are ``(host, salt)`` with ``salt = crc32(url) % s`` (native F.crc32 —
reproducible in the Python simulator via zlib.crc32) and each cell gets
``ceil(budget / s)`` tokens. Selection order inside a cell — and hence
across the whole round, since cells are disjoint — is the canonical
frontier order (priority, crawl_depth, url).

Everything here is native DataFrame ops: the "cell" is a window
partition, the token bucket a row_number comparison — no state loop, one
shuffle on (host, salt).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STAGE_ROBOTS = "robots disallow"


def cell_budget(host_budget: int, salt_shards: int, crawl_delay_ms: int | None,
                round_ms: int = 60_000) -> int:
    """Per-cell token budget — the Python twin of the Column expression in
    ``schedule_status`` (used by the trace simulator; keep both in lockstep)."""
    per_cell = math.ceil(host_budget / salt_shards)
    by_delay = math.ceil(round_ms / max(crawl_delay_ms or 1, 1) / salt_shards)
    return max(1, min(per_cell, by_delay))


def robots_from_txt(raw: DataFrame, user_agent: str = "*") -> DataFrame:
    """(host, robots_txt:string) → the structured robots dim
    (host, disallow_prefixes:array<string>, crawl_delay_ms:long).

    Simplified RFC 9309 grouping, all JVM expressions (no Python):
    lines are exploded per host, a running count of ``User-agent:``
    lines assigns each directive to its group, groups whose agent set
    contains ``user_agent`` (default ``*``) contribute their
    ``Disallow:`` prefixes and ``Crawl-delay:`` (seconds → ms, min over
    groups). Comments (#), blank lines, unknown directives, and case
    are handled; empty ``Disallow:`` (allow-all) lines are dropped.

    Scale shape: one explode + two hash aggregations keyed by host —
    robots files are KBs, hosts are the natural partition key. Duplicate
    (host) rows are safe: each DOCUMENT parses in its own window
    partition (keyed by the text digest, so exploded line positions never
    interleave across documents) and the final per-host merge unions
    prefixes / takes the min delay across documents.
    """
    raw = raw.select("host", "robots_txt").distinct()
    lines = raw.select(
        "host",
        F.md5(F.col("robots_txt")).alias("doc"),
        F.posexplode(F.split(F.col("robots_txt"), "\r?\n")).alias("pos", "line"),
    ).select(
        "host", "doc", "pos",
        # strip comments + whitespace
        F.trim(F.regexp_replace(F.col("line"), "#.*$", "")).alias("line"),
    ).where(F.col("line") != "")
    key = F.lower(F.trim(F.regexp_extract(F.col("line"), "^([^:]+):", 1)))
    val = F.trim(F.regexp_extract(F.col("line"), "^[^:]+:(.*)$", 1))
    lines = lines.select("host", "doc", "pos", key.alias("key"), val.alias("val"))
    # group id: running count of user-agent lines (a new group starts at a
    # user-agent line that does NOT directly follow another user-agent line)
    w = Window.partitionBy("host", "doc").orderBy("pos")
    prev_key = F.lag("key").over(w)
    new_group = (
        (F.col("key") == "user-agent")
        & (F.coalesce(prev_key, F.lit("")) != "user-agent")
    ).cast("int")
    grouped = lines.withColumn(
        "grp", F.sum(new_group).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_group = (
        grouped.groupBy("host", "doc", "grp")
        .agg(
            F.collect_set(
                F.when(F.col("key") == "user-agent", F.lower(F.col("val")))
            ).alias("agents"),
            F.collect_list(
                F.when(
                    (F.col("key") == "disallow") & (F.col("val") != ""),
                    F.col("val"),
                )
            ).alias("disallows"),
            F.min(
                F.when(
                    F.col("key") == "crawl-delay",
                    (F.col("val").cast("double") * 1000).cast("long"),
                )
            ).alias("delay_ms"),
        )
    )
    # RFC 9309 group matching: groups naming the agent win; if the named
    # agent matches NO group in the host's robots, fall back to the '*'
    # groups (for user_agent='*' the two flags coincide — same code path).
    ua = user_agent.lower()
    per_group = per_group.withColumn(
        "m_named", F.array_contains("agents", ua)
    ).withColumn("m_star", F.array_contains("agents", "*"))
    host_w = Window.partitionBy("host")
    per_group = per_group.withColumn(
        "has_named", F.max(F.col("m_named").cast("int")).over(host_w) > 0
    ).where(
        (F.col("has_named") & F.col("m_named"))
        | (~F.col("has_named") & F.col("m_star"))
    )
    return per_group.groupBy("host").agg(
        F.array_distinct(F.flatten(F.collect_list("disallows"))).alias(
            "disallow_prefixes"
        ),
        F.min("delay_ms").alias("crawl_delay_ms"),
    )


def host_latency_stats(
    log: DataFrame,
    factor: float = 4.0,
    floor_ms: float = 100.0,
    cap_ms: float = 10000.0,
) -> DataFrame:
    """Per-host fetch statistics the adaptive-politeness policy consumes:
    exact p50/p95 latency, 5xx error rate, adaptive_delay_ms =
    ceil(clip(factor·p95, floor, cap)), backoff = (5xx rate > 5%). One
    hash aggregation keyed by host. Shared by the q_host_latency_adapt
    conformance entry and the engine's `adaptive_politeness` hook
    (frontier/crawl.py) so the two can never drift."""
    adaptive = F.ceil(
        F.least(
            F.greatest(F.col("p95_ms") * factor, F.lit(floor_ms)),
            F.lit(cap_ms),
        )
    )
    return (
        log.groupBy("host")
        .agg(
            F.count("*").alias("n_fetches"),
            F.round(F.percentile("latency_ms", 0.5), 2).alias("p50_ms"),
            F.round(F.percentile("latency_ms", 0.95), 2).alias("p95_ms"),
            F.round(
                F.avg((F.col("status") >= 500).cast("double")), 4
            ).alias("err5xx_rate"),
        )
        .withColumn("adaptive_delay_ms", adaptive.cast("long"))
        .withColumn("backoff", F.col("err5xx_rate") > 0.05)
    )


def robots_flag(frontier: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Flag urls whose path starts with a disallowed prefix for their host.

    robots dim: (host, disallow_prefixes: array<string>, crawl_delay_ms).
    Broadcast join + exists() over the prefix array — JVM-side.
    """
    if robots is None:
        return frontier.withColumn("robots_blocked", F.lit(False)).withColumn(
            "crawl_delay_ms", F.lit(None).cast("long")
        )
    dim = robots.select(
        F.col("host").alias("_r_host"),
        "disallow_prefixes",
        "crawl_delay_ms",
    )
    out = frontier.join(F.broadcast(dim), frontier["host"] == dim["_r_host"], "left")
    path = F.regexp_replace(
        F.col("url"), r"^https?://[^/]+", ""
    )
    blocked = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    return out.withColumn("robots_blocked", F.coalesce(blocked, F.lit(False))).drop(
        "_r_host", "disallow_prefixes"
    )


def schedule_status(
    frontier: DataFrame,
    robots: DataFrame | None,
    host_budget: int,
    salt_shards: int = 4,
    round_ms: int = 60_000,
) -> DataFrame:
    """frontier → frontier + ``sched_status`` ∈ {scheduled, deferred, blocked}.

    One pass (single window shuffle on (host, salt)); callers filter on
    the status column — materialize once, slice many times.
    - robots-blocked rows leave the frontier permanently (lineage keeps them),
    - per (host, salt) cell the top ceil(budget/s) rows in canonical order
      (priority, crawl_depth, url) are scheduled; the rest are deferred.
    """
    fr = robots_flag(frontier, robots)
    per_cell = int(math.ceil(host_budget / salt_shards))
    fr = fr.withColumn(
        "salt", F.pmod(F.crc32(F.col("url")), F.lit(salt_shards)).cast("int")
    ).withColumn(
        "_cell_budget",
        F.greatest(
            F.lit(1),
            F.least(
                F.lit(per_cell),
                F.ceil(
                    F.lit(round_ms)
                    / F.greatest(F.coalesce(F.col("crawl_delay_ms"), F.lit(1)), F.lit(1))
                    / F.lit(salt_shards)
                ).cast("int"),
            ),
        ),
    )
    # blocked rows sort LAST within the cell so they never consume budget
    # slots; their own status short-circuits to 'blocked' anyway
    w = Window.partitionBy("host", "salt").orderBy(
        F.col("robots_blocked").cast("int"),
        F.col("priority"), F.col("crawl_depth"), F.col("url"),
    )
    ranked = fr.withColumn("_rn", F.row_number().over(w))
    status = (
        F.when(F.col("robots_blocked"), F.lit("blocked"))
        .when(F.col("_rn") <= F.col("_cell_budget"), F.lit("scheduled"))
        .otherwise(F.lit("deferred"))
    )
    return ranked.withColumn("sched_status", status).drop(
        "_rn", "_cell_budget", "salt", "crawl_delay_ms", "robots_blocked"
    )
