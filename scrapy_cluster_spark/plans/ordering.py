"""Crawl-ordering match metric (BASELINE.json: "end-to-end
crawl-ordering match rate").

SURVEY.md §5 metric definition: the reference randomizes CROSS-domain
visit order (random.shuffle of queue keys, distributed_scheduler.py:494),
so ordering parity is defined PER DOMAIN: given the same frontier, the
reference's per-domain pop sequence is fully deterministic — priority
descending, ties broken lexicographically by serialized member (Redis
zset semantics, redis_queue.py:121-141).  The match rate is the mean
normalized agreement between that sequence and the engine's actual
fetch order (from ``fetch_log``), plus URL-seen set equality.

The engine's scheduler IS that sort (ranking.py), so the expected rate
is 1.0 — the metric exists to prove it stays 1.0 under salting,
membership sidecars, resume, and parallelism changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def reference_pop_order(fetched: DataFrame) -> DataFrame:
    """The reference-semantics pop sequence for every fetched URL:
    rank within (spiderid, domain) by priority desc, url asc.

    ``fetched`` needs columns spiderid, domain, url, priority."""
    w = Window.partitionBy("spiderid", "domain").orderBy(
        F.desc("priority"), F.asc("url")
    )
    return fetched.withColumn("ref_rank", F.row_number().over(w))


def ordering_match_rate(fetch_log: DataFrame, frontier_priorities: DataFrame) -> dict:
    """Compare the engine's actual per-domain fetch order against the
    reference order.

    fetch_log: (domain, spiderid, url, round, slot_ts) — actual order is
    (round, slot_ts) within domain.
    frontier_priorities: (spiderid, domain, url, priority) as fed.

    Returns {domains, matched_positions, total_positions, match_rate}.
    """
    key = ["spiderid", "domain", "url"]
    # restrict to the comparison set FIRST and keep each url's FIRST
    # fetch (the dupefilter permits legitimate re-fetches of feed urls —
    # those are not ordering events), THEN rank.
    in_scope = fetch_log.join(frontier_priorities.select(*key).distinct(), key, "left_semi")
    first_fetch = in_scope.groupBy(*key).agg(
        F.min(F.struct("round", "slot_ts")).alias("first")
    )
    actual_w = Window.partitionBy("spiderid", "domain").orderBy(
        F.asc("first.round"), F.asc("first.slot_ts"), F.asc("url")
    )
    actual = first_fetch.withColumn("actual_rank", F.row_number().over(actual_w)).select(
        *key, "actual_rank"
    )
    ref = reference_pop_order(
        frontier_priorities.join(
            fetch_log.select("spiderid", "domain", "url").distinct(),
            ["spiderid", "domain", "url"],
        )
    ).select("spiderid", "domain", "url", "ref_rank")

    joined = actual.join(ref, ["spiderid", "domain", "url"], "inner")
    agg = joined.agg(
        F.count("*").alias("total"),
        F.sum((F.col("actual_rank") == F.col("ref_rank")).cast("long")).alias("matched"),
        F.countDistinct("domain").alias("domains"),
    ).collect()[0]
    total = agg["total"] or 0
    return {
        "domains": agg["domains"],
        "matched_positions": agg["matched"] or 0,
        "total_positions": total,
        "match_rate": (agg["matched"] / total) if total else 1.0,
    }


def seen_set_equality(crawled: DataFrame, expected_urls: DataFrame) -> bool:
    """URL-seen set equality vs an expected set (both single-col 'url')."""
    a = crawled.select("url").distinct()
    b = expected_urls.select("url").distinct()
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
